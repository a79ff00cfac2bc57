package history_collector_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file://} filesystem of the engine's local sessions. Without the
 * native Hadoop library, {@link RawLocalFileSystem#setPermission} forks a
 * {@code chmod} shell for every file and directory it writes; the raw layer
 * here sets the same mode bits through {@code java.nio}. As a
 * {@link LocalFileSystem} it still writes and verifies {@code .crc} files.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * The rule of Hive's {@code ProxyLocalFileSystem}, which serves
   * {@code file://} when hive-exec is on the classpath: a rename onto an
   * existing file returns false and leaves both files as they were.
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    try {
      if (getFileStatus(dst).isFile()) {
        return false;
      }
    } catch (FileNotFoundException e) {
      // a new destination
    }
    return super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} that sets permissions without a shell. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission); // NIO cannot set the sticky bit
        return;
      }
      // the enum lists owner, group, others, each read, write, execute:
      // the order of the bits from 0400 down to 0001
      short mode = permission.toShort();
      PosixFilePermission[] bits = PosixFilePermission.values();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
