"""Session lifecycle, process accounting and Spark-side probes shared by the
workloads.

Everything here observes the engine from outside: it calls the public
functions of ``history_collector_spark`` and reads Spark's status tracker
and status store. Nothing in the engine is patched.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

TEARDOWN_WAIT_S = 30


# -- statistics --------------------------------------------------------------


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, and its
    label. Up to 20 samples that percentile would not pass the median, so
    the maximum is reported instead and labelled as such."""
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        return (xs[-1] if xs else 0.0), f"max of {n}"
    k = n - 11  # 0-based rank with exactly 10 samples above it
    return xs[k], f"p{100.0 * (k + 1) / n:.1f} of {n}"


# -- processes ---------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- session lifecycle ---------------------------------------------------------


def start_session(run_dir: str, cpus: int):
    """Launch a fresh JVM, build the engine's session in it and return the
    session with the seconds ``get_spark`` took."""
    from history_collector_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # keep every JVM-side scratch file inside the run directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="enginebench", cpus=cpus, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> int:
    """Stop every stream, the session, the py4j gateway and the JVM.

    ``spark.stop()`` alone leaves the JVM behind; closing the gateway and
    the JVM's stdin makes it exit. Returns the number of streams that were
    still active when teardown began.
    """
    from pyspark import SparkContext

    active = list(spark.streams.active)
    for q in active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=TEARDOWN_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return len(active)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and gw.proc is not None else None


def reap_descendants(timeout_s: float = TEARDOWN_WAIT_S) -> list[int]:
    """Wait for this process's descendants to exit; kill any that outlive
    the timeout. Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = descendants(me)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    return left


# -- scheduler attribution (traced runs only) ----------------------------------


@dataclass
class OpCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0


class JobWindow:
    """Attribute Spark jobs to an op by job-id window.

    Job ids are allocated in order, so the jobs an op ran are those whose
    ids were first seen after the op started. Streams run their
    micro-batches under their own job group, so groups cannot be used.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()
        self.next_id = 0
        self._advance()

    def _drain_events(self) -> None:
        # the status store is fed by the listener bus; let it catch up
        self.jsc.listenerBus().waitUntilEmpty()

    def _advance(self) -> list[int]:
        self._drain_events()
        new = []
        misses = 0
        probe = self.next_id
        # ids are dense; tolerate a short gap before concluding we are done
        while misses < 3:
            if self.tracker.getJobInfo(probe) is None:
                misses += 1
            else:
                new.append(probe)
                misses = 0
                self.next_id = probe + 1
            probe += 1
        return new

    def _add_job(self, c: OpCounts, job_id: int) -> None:
        store = self.jsc.statusStore()
        c.jobs += 1
        for stage_id in self.tracker.getJobInfo(job_id).stageIds:
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += sd.numTasks()
            c.executor_run_s += sd.executorRunTime() / 1000.0
            c.shuffle_read_bytes += sd.shuffleReadBytes()
            c.shuffle_write_bytes += sd.shuffleWriteBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c.input_rows += sd.inputRecords()

    def close_op(self) -> OpCounts:
        """Counts for every job started since the previous call."""
        c = OpCounts()
        for job_id in self._advance():
            self._add_job(c, job_id)
        return c

    def split_by_time(self, windows: list[tuple[float, float]]) -> list[OpCounts]:
        """Counts per op for ops that ran on another thread (micro-batches),
        given each op's (start, end) wall-clock seconds: every job started
        since the previous call goes to the op whose window holds its
        submission time. Querying the JVM from inside a micro-batch would
        slow the batch, so only the clock is read there."""
        out = [OpCounts() for _ in windows]
        store = self.jsc.statusStore()
        for job_id in self._advance():
            submitted = store.job(job_id).submissionTime()
            if submitted.isEmpty():
                continue
            t = submitted.get().getTime() / 1000.0
            for c, (start, end) in zip(out, windows):
                if start <= t <= end:
                    self._add_job(c, job_id)
                    break
        return out


def mean_counts(ops: list[OpCounts]) -> dict[str, float]:
    """Per-op means of the scheduler and stage counters."""
    n = max(1, len(ops))
    return {
        "spark.jobs": sum(o.jobs for o in ops) / n,
        "spark.stages": sum(o.stages for o in ops) / n,
        "spark.tasks": sum(o.tasks for o in ops) / n,
        "spark.executor_run_s": sum(o.executor_run_s for o in ops) / n,
        "spark.shuffle_read_bytes": sum(o.shuffle_read_bytes for o in ops) / n,
        "spark.shuffle_write_bytes": sum(o.shuffle_write_bytes for o in ops) / n,
        "spark.spill_bytes": sum(o.spill_bytes for o in ops) / n,
        "spark.input_rows": sum(o.input_rows for o in ops) / n,
    }


# -- streaming progress ----------------------------------------------------------

PHASES = (
    "triggerExecution",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "queryPlanning",
    "latestOffset",
)


@dataclass
class Progress:
    """Per-batch ``durationMs`` phases and input rows of finished batches."""

    phases: dict[str, list[float]] = field(
        default_factory=lambda: {p: [] for p in PHASES}
    )
    input_rows: list[float] = field(default_factory=list)

    def add(self, durations: dict, num_input_rows: int) -> None:
        if "addBatch" not in durations:
            return  # a trigger that found no data ran no batch
        for p in PHASES:
            self.phases[p].append(float(durations.get(p, 0)))
        self.input_rows.append(float(num_input_rows))

    def metrics(self) -> dict[str, float]:
        out = {
            "streaming.trigger_ms": p50(self.phases["triggerExecution"]),
            "streaming.input_rows": p50(self.input_rows),
        }
        for p in PHASES[1:]:
            out[f"streaming.{p}_ms"] = p50(self.phases[p])
        return out


def progress_listener(spark, progress: Progress):
    """Register a listener that feeds every stream's progress into
    ``progress``; used where the streams are started inside queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.add(dict(p.durationMs), p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# -- hygiene -----------------------------------------------------------------------


@dataclass
class Hygiene:
    live_pins: int = 0
    memory_tables: int = 0
    active_streams: int = 0

    def observe(self, spark) -> None:
        """Record the resources the previous op left behind."""
        from history_collector_spark import pinning

        self.live_pins = max(self.live_pins, len(pinning._LIVE))
        self.memory_tables = max(
            self.memory_tables,
            sum(1 for t in spark.catalog.listTables() if t.isTemporary),
        )
        self.active_streams = max(self.active_streams, len(spark.streams.active))


def count_entries(path: str) -> int:
    n = 0
    for _root, dirs, files in os.walk(path):
        n += len(dirs) + len(files)
    return n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
