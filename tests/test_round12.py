"""Round-12 regression pins.

Covers the round-11 ADVICE items (markdown ordered-marker inversion
guard, Snappy torn-shard chunk-boundary hazard, extract_links lower()
hoisting) plus the round-12 builds added below as they land.
"""

from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------------------
# ADVICE r11: markdown render-inversion vs paragraph-initial "12." tokens
# ---------------------------------------------------------------------------


def test_markdown_ordered_marker_is_real_commonmark():
    """The extractor keeps \\d+\\. ordered-marker stripping because it
    is real CommonMark — this is kernel behavior, not a bug."""
    from history_collector_spark.functions.markdown import markdown_to_text

    r = markdown_to_text("12. item twelve\n1. item one\n")
    assert r["n_list_items"] == 2
    assert r["text"] == "item twelve item one"


def test_markdown_inversion_survives_numeric_period_words():
    """ADVICE r11 (medium): a corpus word like '12.' at a paragraph
    start must not be swallowed as an ordered-list marker. Sweep the
    hazard token through every word position of a multi-paragraph
    document and demand byte-exact inversion each time."""
    from history_collector_spark.functions.markdown import (
        markdown_to_text,
        render_markdown,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            * 10).split()
    for pos in range(0, 95, 7):
        words = list(base)
        words[pos] = "12."
        text = " ".join(words)
        for d in (0, 1):
            r = markdown_to_text(render_markdown(d, text))
            assert r["text"] == text, (pos, d)


def test_markdown_renderer_guard_wraps_bare_numeric_marker():
    """The para_safe guard itself: a plain paragraph line that WOULD
    start with a bare '12.' token reads back exactly (emphasis-wrap
    round-trips). Exercised directly on the hazard string since the
    current style() periods make the guard unreachable via
    render_markdown — the guard exists for when those constants
    change."""
    from history_collector_spark.functions.markdown import markdown_to_text

    # what para_safe emits for a hazard line
    assert markdown_to_text("*12.* rest of line")["text"] == "12. rest of line"
    assert markdown_to_text("*12.*")["text"] == "12."


# ---------------------------------------------------------------------------
# ADVICE r11: Snappy torn shard must land mid-chunk
# ---------------------------------------------------------------------------


def test_snappy_chunk_boundary_cut_decodes_cleanly():
    """Establishes the hazard: the Snappy framing format has no
    end-of-stream marker, so a truncation at a chunk boundary decodes
    as a valid short prefix (unlike the LZ4 frame, which has an end
    mark + content checksum)."""
    from history_collector_spark.functions.snappy import (
        compress_frame,
        decode_snappy_frame,
    )

    a = compress_frame(b"first chunk of data\n" * 10)
    b = compress_frame(b"second chunk of data\n" * 10)
    # concatenated frames: cutting exactly at the boundary of the
    # second stream keeps a fully valid frame
    two = a + b[10:]  # strip the second stream identifier, keep chunks
    assert decode_snappy_frame(two[: len(a)]) == b"first chunk of data\n" * 10


def test_snappy_fixture_torn_shard_always_raises(spark, tmp_path):
    """ADVICE r11 (low): the fixture writer must nudge the cut until
    decode provably raises, so the oracle's __error__ row appears for
    every corpus size."""
    from history_collector_spark.functions.snappy import (
        SnappyDecodeError,
        decode_snappy_frame,
    )
    from history_collector_spark.queries.corpus_io import _write_snappy_fixture

    # a fresh build, not one memoized by an earlier query in the session
    out = _write_snappy_fixture.__wrapped__(spark, "/root/testdata/sf0.001")
    torn = [f for f in sorted(os.listdir(out)) if f.endswith(".snappy")][0]
    assert torn == "docs000.jsonl.snappy"
    blob = open(os.path.join(out, torn), "rb").read()
    with pytest.raises(SnappyDecodeError):
        decode_snappy_frame(blob)


# ---------------------------------------------------------------------------
# ADVICE r11: extract_links / parse_blocks lower() hoisting stays correct
# ---------------------------------------------------------------------------


def test_extract_links_many_script_tags_correct():
    from history_collector_spark.functions.html_extract import extract_links

    page = "".join(
        f"<SCRIPT>var x{i} = '<a href=\"http://evil.example/{i}\">';"
        f"</ScRiPt><p><a href='/p{i}'>link {i}</a></p>"
        for i in range(50)
    )
    links = extract_links(page, base_url="http://h.example/a/b")
    assert len(links) == 50
    assert links[0] == ("http://h.example/p0", "link 0")
    assert all("evil" not in u for u, _ in links)


def test_parse_blocks_mixed_case_script_close():
    from history_collector_spark.functions.html_extract import (
        extract_main_text,
    )

    page = ("<p>before</p><style>p {color: red}</STYLE>"
            "<p>after the style block this text survives</p>")
    _, text, _, _ = extract_main_text(page)
    assert "before" in text and "survives" in text
    assert "color" not in text


# ---------------------------------------------------------------------------
# Round-12 build: from-scratch zstd (RFC 8878) decoder
# ---------------------------------------------------------------------------

# Real libzstd output (pyarrow's bundled codec, level 19), pinned so
# the interop contract holds without pyarrow at test time.
_ZSTD_PIN_PLAIN = b"history collector spark: zstd pin. " * 12 + b"tail-of-frame"
_ZSTD_PIN_FRAME = bytes.fromhex(
    "28b52ffd60b100bd010002430b12b0b901777287d26ca7975a63e490bac94204"
    "25dd1a6014245e3f285c27cded02ed2dfe6a8f92a9e36cb5194f0100f333aa7a"
    "02"
)


def test_zstd_pinned_libzstd_frame():
    from history_collector_spark.functions.zstd import decompress

    assert decompress(_ZSTD_PIN_FRAME) == _ZSTD_PIN_PLAIN


def test_xxh64_public_vectors():
    from history_collector_spark.functions.zstd import xxh64

    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B


def test_xxh64_matches_spark_jvm(spark):
    """Cross-check against an independent implementation: Spark's
    xxhash64 hashes BINARY values as raw bytes with seed 42."""
    import random

    from pyspark.sql import functions as F

    from history_collector_spark.functions.zstd import xxh64

    random.seed(3)
    payloads = [b"", b"x", b"hello world", bytes(range(256)),
                bytes(random.randrange(256) for _ in range(1000))]
    for p in payloads:
        got = spark.range(1).select(
            F.xxhash64(F.lit(p)).alias("h")
        ).collect()[0]["h"]
        want = xxh64(p, seed=42)
        # Spark returns a signed 64-bit long
        assert (got & 0xFFFFFFFFFFFFFFFF) == want, p[:16]


def test_zstd_store_mode_roundtrip():
    from history_collector_spark.functions.zstd import (
        compress_store,
        decompress,
    )

    for payload in (b"", b"q", b"corpus " * 999, bytes(range(256)) * 300):
        assert decompress(compress_store(payload)) == payload
        assert decompress(compress_store(payload, checksum=False)) == payload


def test_zstd_store_checksum_detects_corruption():
    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        compress_store,
        decompress,
    )

    blob = bytearray(compress_store(b"all the corpus bytes live here"))
    blob[10] ^= 0x40  # flip a payload bit; frame structure stays valid
    with pytest.raises(ZstdDecodeError):
        decompress(bytes(blob))


def test_zstd_roundtrip_real_encoder_matrix():
    """Decode REAL libzstd frames across compression levels and
    payload shapes — FSE tables, Huffman literals (single and
    4-stream), RLE, repeat modes, multi-block frames."""
    import random

    pytest.importorskip("pyarrow")
    from pyarrow import Codec

    from history_collector_spark.functions.zstd import decompress

    if not Codec.is_available("zstd"):
        pytest.skip("pyarrow built without zstd")
    random.seed(7)
    payloads = [
        b"hello hello hello hello world world world" * 50,
        b"the quick brown fox jumps over the lazy dog. " * 1000,
        bytes(random.randrange(256) for _ in range(5000)),
        b"a" * 100000,
        b"ab" * 70000,
        ("".join(random.choice("abcdefg ")
                 for _ in range(200000))).encode(),
        b"z",
        b"",
    ]
    for lvl in (1, 3, 9, 19):
        c = Codec("zstd", compression_level=lvl)
        for t in payloads:
            assert decompress(c.compress(t, asbytes=True)) == t, (
                lvl, len(t))


def test_zstd_multiblock_window_descriptor():
    """>128 KB inputs span multiple blocks and use the non-single-
    segment header (window descriptor path)."""
    import random

    pytest.importorskip("pyarrow")
    from pyarrow import Codec

    from history_collector_spark.functions.zstd import decompress

    random.seed(11)
    words = ["alpha", "beta", "gamma", "delta", "data", "spark"]
    big = (" ".join(random.choice(words) for _ in range(150000))).encode()
    for lvl in (1, 19):
        blob = Codec("zstd", compression_level=lvl).compress(
            big, asbytes=True)
        assert decompress(blob, max_out=1 << 24) == big


def test_zstd_multiframe_and_skippable():
    pytest.importorskip("pyarrow")
    from pyarrow import Codec

    from history_collector_spark.functions.zstd import decompress

    f1 = Codec("zstd").compress(b"first frame ", asbytes=True)
    f2 = Codec("zstd").compress(b"second frame", asbytes=True)
    skip = ((0x184D2A53).to_bytes(4, "little")
            + (5).to_bytes(4, "little") + b"JUNK!")
    assert decompress(f1 + skip + f2) == b"first frame second frame"


def test_zstd_fuzz_total():
    """Truncations and byte flips raise ZstdDecodeError or decode to
    something — never IndexError/KeyError/struct.error."""
    import random

    pytest.importorskip("pyarrow")
    from pyarrow import Codec

    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        decompress,
    )

    random.seed(5)
    base = (b"zstd fuzz target payload " * 2000)
    blob = Codec("zstd", compression_level=3).compress(base, asbytes=True)
    for cut in range(0, len(blob), 53):
        try:
            decompress(blob[:cut])
        except ZstdDecodeError:
            pass
    for _ in range(300):
        b = bytearray(blob)
        pos = random.randrange(len(b))
        b[pos] ^= 1 << random.randrange(8)
        try:
            decompress(bytes(b), max_out=1 << 24)
        except ZstdDecodeError:
            pass


def test_zstd_guards():
    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        compress_store,
        decompress,
    )

    with pytest.raises(ZstdDecodeError):
        decompress(b"")
    with pytest.raises(ZstdDecodeError):
        decompress(b"\x00\x01\x02\x03junkjunk")
    # decompression-bomb guard: output larger than max_out refuses
    blob = compress_store(b"y" * 100000)
    with pytest.raises(ZstdDecodeError):
        decompress(blob, max_out=1000)


def test_zstd_fixture_torn_shard_always_raises(spark):
    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        decompress,
    )
    from history_collector_spark.queries.corpus_io import _write_zstd_fixture

    out = _write_zstd_fixture.__wrapped__(spark, "/root/testdata/sf0.001")
    blob = open(os.path.join(out, "docs000.jsonl.zst"), "rb").read()
    with pytest.raises(ZstdDecodeError):
        decompress(blob)


# ---------------------------------------------------------------------------
# From-scratch VP8 key-frame decoder (RFC 6386) — functions/vp8.py
# ---------------------------------------------------------------------------


def _vp8_body(webp: bytes) -> bytes:
    assert webp[:4] == b"RIFF" and webp[8:12] == b"WEBP"
    pos = 12
    while pos + 8 <= len(webp):
        tag = webp[pos : pos + 4]
        clen = int.from_bytes(webp[pos + 4 : pos + 8], "little")
        if tag == b"VP8 ":
            return webp[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    raise AssertionError("no VP8 chunk")


def test_vp8_pinned_vectors_bit_exact():
    """The four pinned flagship blobs decode to the captured plane
    ground truth (sums + Y sha prefix). These were asserted bit-equal
    to libwebp's WebPDecodeYUV at capture time, so this pins the whole
    pipeline — bool decoder, probs, prediction, IDCT/WHT, loop filter
    — without needing libwebp in the test environment."""
    import hashlib

    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import (
        FLAGSHIP_NAMES,
        PINNED_STATS,
        flagship_blob,
    )

    assert FLAGSHIP_NAMES == (
        "alpha", "gradient", "mixed", "noise", "smooth"
    )
    for name in FLAGSHIP_NAMES:
        y, u, v = decode_vp8_frame(_vp8_body(flagship_blob(name)))
        st = PINNED_STATS[name]
        assert (y.shape[1], y.shape[0]) == (st["width"], st["height"])
        assert int(y.astype(np.int64).sum()) == st["y_sum"], name
        assert int(u.astype(np.int64).sum()) == st["u_sum"], name
        assert int(v.astype(np.int64).sum()) == st["v_sum"], name
        assert (
            hashlib.sha256(y.tobytes()).hexdigest()[:8] == st["y_sha8"]
        ), name


def test_vp8_yield_blobs_decode_to_declared_dims():
    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import (
        yield_lossy_blob,
    )

    for w in range(2, 8):
        for h in range(1, 5):
            y, u, v = decode_vp8_frame(_vp8_body(yield_lossy_blob(w, h)))
            assert y.shape == (h, w)
            assert u.shape == ((h + 1) // 2, (w + 1) // 2)
            assert y.dtype == np.uint8


def test_decode_webp_lossy_arm_returns_rgba():
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.webp import decode_webp

    px = decode_webp(flagship_blob("gradient"))
    assert px.shape == (32, 48, 4)
    assert (px[:, :, 3] == 255).all()


def _load_libwebp():
    import ctypes

    try:
        lw = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return None
    lw.WebPEncodeRGB.restype = ctypes.c_size_t
    lw.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lw.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    lw.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    return lw


@pytest.mark.skipif(_load_libwebp() is None, reason="libwebp unavailable")
def test_vp8_libwebp_interop_bit_exact():
    """Fresh libwebp encodes (not the pinned blobs) across content
    classes, qualities, and non-multiple-of-16 dims decode bit-exactly
    at the YUV plane level — the same contract the pinned vectors were
    captured under, re-proven against the live encoder."""
    import ctypes

    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame

    lw = _load_libwebp()
    rng = np.random.default_rng(1205)

    def encode(px, q):
        h, w = px.shape[:2]
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lw.WebPEncodeRGB(
            px.tobytes(), w, h, w * 3, q, ctypes.byref(out)
        )
        assert n > 0
        data = ctypes.string_at(out, n)
        lw.WebPFree(out)
        return data

    def ref_yuv(webp):
        w = ctypes.c_int()
        h = ctypes.c_int()
        up = ctypes.POINTER(ctypes.c_uint8)()
        vp = ctypes.POINTER(ctypes.c_uint8)()
        stride = ctypes.c_int()
        uvs = ctypes.c_int()
        yp = lw.WebPDecodeYUV(
            webp, len(webp), ctypes.byref(w), ctypes.byref(h),
            ctypes.byref(up), ctypes.byref(vp), ctypes.byref(stride),
            ctypes.byref(uvs),
        )
        assert yp
        cw, ch = (w.value + 1) // 2, (h.value + 1) // 2
        y = np.ctypeslib.as_array(yp, (h.value, stride.value))[
            :, : w.value
        ].copy()
        u = np.ctypeslib.as_array(up, (ch, uvs.value))[:, :cw].copy()
        v = np.ctypeslib.as_array(vp, (ch, uvs.value))[:, :cw].copy()
        lw.WebPFree(yp)
        return y, u, v

    cases = []
    for h, w in ((16, 16), (13, 21), (33, 17), (64, 48), (1, 40)):
        cases.append((rng.integers(0, 256, (h, w, 3), dtype=np.uint8), 45.0))
        g = np.zeros((h, w, 3), np.uint8)
        g[..., 0] = (np.arange(w, dtype=np.int64)[None, :] * 255
                     // max(w - 1, 1)).astype(np.uint8)
        g[..., 1] = (np.arange(h, dtype=np.int64)[:, None] * 255
                     // max(h - 1, 1)).astype(np.uint8)
        g[..., 2] = 77
        cases.append((g, 88.0))
    for px, q in cases:
        webp = encode(px, q)
        ry, ru, rv = ref_yuv(webp)
        my, mu, mv = decode_vp8_frame(_vp8_body(webp))
        assert np.array_equal(my, ry)
        assert np.array_equal(mu, ru)
        assert np.array_equal(mv, rv)


def test_vp8_malformed_total():
    """Truncations, bit flips, and garbage never escape as anything
    but ImageDecodeError — the graceful-degradation contract the
    Arrow decode kernels rely on (a poisoned blob must not kill the
    task)."""
    import numpy as np

    from history_collector_spark.functions.codec_errors import (
        ImageDecodeError,
    )
    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import flagship_blob

    body = _vp8_body(flagship_blob("noise"))
    rng = np.random.default_rng(9)
    # every prefix truncation of the header region + sampled ones after
    cuts = list(range(0, 24)) + sorted(
        int(x) for x in rng.integers(24, len(body), 40)
    )
    for n in cuts:
        try:
            decode_vp8_frame(body[:n])
        except ImageDecodeError:
            pass
    # single-bit flips across the stream: decode must either succeed
    # (garbage pixels are fine) or raise ImageDecodeError — nothing else
    for _ in range(80):
        i = int(rng.integers(0, len(body)))
        b = bytearray(body)
        b[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_vp8_frame(bytes(b))
        except ImageDecodeError:
            pass
    # interframe and bad start code
    with pytest.raises(ImageDecodeError):
        decode_vp8_frame(b"\x01\x00\x00" + body[3:])
    with pytest.raises(ImageDecodeError):
        decode_vp8_frame(body[:3] + b"\x9d\x01\x2b" + body[6:])


def test_vp8_tables_match_rfc_anchors():
    """Spot-pin the embedded RFC 6386 tables against values printed in
    the RFC text (13.5 default probs, 14.1 quant lookups, 11.4 kf
    bmode probs)."""
    from history_collector_spark.functions.vp8_tables import (
        AC_QLOOKUP,
        COEFF_PROBS,
        DC_QLOOKUP,
        KF_BMODE_PROBS,
    )

    assert COEFF_PROBS[0][0][0] == [128] * 11  # never-read band-0 rows
    assert COEFF_PROBS[0][1][0][:6] == [253, 136, 254, 255, 228, 219]
    assert KF_BMODE_PROBS[0][0] == [231, 120, 48, 89, 115, 113, 120, 152, 112]
    assert DC_QLOOKUP[0] == 4 and DC_QLOOKUP[127] == 157
    assert AC_QLOOKUP[0] == 4 and AC_QLOOKUP[127] == 284


# ---------------------------------------------------------------------------
# WAV round-12 arms: G.711 mu-law / A-law + mono MS ADPCM
# ---------------------------------------------------------------------------


def test_g711_matches_audioop_reference_full_range():
    """All four converter directions bit-exact against the stdlib
    audioop G.711 reference: both expand tables over all 256 bytes,
    both compress functions over the full int16 range."""
    audioop = pytest.importorskip("audioop")
    import struct

    from history_collector_spark.functions.wav import (
        alaw_to_lin,
        lin_to_alaw,
        lin_to_ulaw,
        ulaw_to_lin,
    )

    for b in range(256):
        assert ulaw_to_lin(b) == struct.unpack(
            "<h", audioop.ulaw2lin(bytes([b]), 2)
        )[0], b
        assert alaw_to_lin(b) == struct.unpack(
            "<h", audioop.alaw2lin(bytes([b]), 2)
        )[0], b
    for s in range(-32768, 32768):
        sb = struct.pack("<h", s)
        assert lin_to_ulaw(s) == audioop.lin2ulaw(sb, 2)[0], s
        assert lin_to_alaw(s) == audioop.lin2alaw(sb, 2)[0], s


def test_g711_wav_roundtrip_exact_on_decode_image():
    """Samples drawn from the codec's decode image survive the full
    encode->container->parse path bit-exactly (compand o expand is
    the identity there); mu-law byte 0x7F (negative zero) is the
    documented single non-idempotent code."""
    import numpy as np

    from history_collector_spark.functions.wav import (
        alaw_to_lin,
        encode_wav_g711,
        lin_to_ulaw,
        parse_wav,
        ulaw_to_lin,
    )

    uvals = np.array([ulaw_to_lin(b) for b in range(256) if b != 0x7F],
                     dtype=np.int64)
    w = parse_wav(encode_wav_g711(uvals, 8000, 1, "u"))
    assert w["codec"] == "ulaw" and w["bits"] == 8
    assert np.array_equal(w["samples"].astype(np.int64), uvals)
    assert lin_to_ulaw(ulaw_to_lin(0x7F)) == 0xFF  # -0 canonicalizes

    avals = np.array([alaw_to_lin(b) for b in range(256)], dtype=np.int64)
    w = parse_wav(encode_wav_g711(avals, 16000, 2, "a"))
    assert w["codec"] == "alaw" and w["n_channels"] == 2
    assert np.array_equal(w["samples"].astype(np.int64), avals)


def test_ms_adpcm_constant_block_exact_and_deterministic():
    import numpy as np

    from history_collector_spark.functions.wav import (
        encode_wav_ms_adpcm,
        parse_wav,
    )

    for c in (-2048, -1, 0, 777, 2047, 32767, -32768):
        sig = np.full(84, c, dtype=np.int64)
        w = parse_wav(encode_wav_ms_adpcm(sig, 8000, block_frames=42))
        assert w["codec"] == "ms_adpcm" and w["n_frames"] == 84
        assert (w["samples"].astype(np.int64) == c).all(), c
    ramp = (np.arange(200, dtype=np.int64) * 23 % 4096) - 2048
    a = parse_wav(encode_wav_ms_adpcm(ramp, 8000, block_frames=100))
    b = parse_wav(encode_wav_ms_adpcm(ramp, 8000, block_frames=100))
    assert np.array_equal(a["samples"], b["samples"])


def test_ms_adpcm_hand_built_block_all_predictors():
    """Hand-built single blocks exercise every one of the 7 standard
    predictors, the signed-nibble arithmetic, the int16 clamp, and
    the delta floor — values computed by hand from the format's
    update equations."""
    import struct

    from history_collector_spark.functions.wav import (
        _MS_DEFAULT_COEFS,
        _decode_ms_adpcm,
    )

    # predictor 1 (coeffs 512, -256): s1=100, s2=40 ->
    # base = (100*512 - 40*256) / 256 = (51200 - 10240) / 256 = 160
    # nibble 0x3 (+3), delta 20 -> sample = 160 + 60 = 220
    # next delta = (230 * 20) >> 8 = 17
    # nibble 0xD (-3): base = (220*512 - 100*256)/256 = 340
    #   sample = 340 - 3*17 = 289; delta -> (230*17)>>8 = 15 -> floor 16
    blk = struct.pack("<Bhhh", 1, 20, 100, 40) + bytes([0x3D])
    out = _decode_ms_adpcm(blk, len(blk), _MS_DEFAULT_COEFS)
    assert out == [40, 100, 220, 289]

    # clamp: predictor 0, huge positive delta forces +32767 then the
    # negative nibble walks back down with the adapted delta
    # base=32000; n=7 -> 32000+7*6000=74000 -> clamp 32767
    # delta -> (614*6000)>>8 = 14390
    # base = trunc(32767*256/256)=32767; n=8 (-8) ->
    #   32767 - 8*14390 = -82353 -> clamp -32768
    blk = struct.pack("<Bhhh", 0, 6000, 32000, 0) + bytes([0x78])
    out = _decode_ms_adpcm(blk, len(blk), _MS_DEFAULT_COEFS)
    assert out == [0, 32000, 32767, -32768]

    # negative-base truncation toward zero, predictor 5 (460, -208):
    # nibble 0: base = trunc(-460/256) = -1 -> sample -1
    # nibble 0: base = trunc((-1*460 + -1*-208)/256) = trunc(-0.98)
    #   = 0 under C division — floor division would give -1, so the
    #   final 0 pins the truncate-toward-zero semantics
    blk = struct.pack("<Bhhh", 5, 16, -1, 0) + bytes([0x00])
    out = _decode_ms_adpcm(blk, len(blk), _MS_DEFAULT_COEFS)
    assert out == [0, -1, -1, 0]


def test_ms_adpcm_malformed_total():
    import pytest as _p

    from history_collector_spark.functions.codec_errors import (
        AudioDecodeError,
    )
    from history_collector_spark.functions.wav import (
        _MS_DEFAULT_COEFS,
        _decode_ms_adpcm,
    )
    import struct

    with _p.raises(AudioDecodeError):
        _decode_ms_adpcm(b"\x00" * 6, 6, _MS_DEFAULT_COEFS)  # align < 7
    with _p.raises(AudioDecodeError):
        _decode_ms_adpcm(b"\x00" * 15, 8, _MS_DEFAULT_COEFS)  # misaligned
    blk = struct.pack("<Bhhh", 9, 16, 0, 0) + b"\x00"
    with _p.raises(AudioDecodeError):
        _decode_ms_adpcm(blk, len(blk), _MS_DEFAULT_COEFS)  # predictor 9


# ---------------------------------------------------------------------------
# VP8X still decode: ALPH alpha plane (raw / headerless-VP8L, 4 filters)
# ---------------------------------------------------------------------------


def _alph_forward_filter(plane, filt):
    """Encoder-side companion of decode_alpha_chunk's unfilters:
    residual = value - predictor (mod 256), libwebp prediction
    geometry (first row horizontal fallback, gradient clip)."""
    import numpy as np

    h, w = plane.shape
    out = np.empty_like(plane)
    p = plane.astype(np.int32)
    if filt == 1 or filt in (2, 3):
        pred = 0
        for x in range(w):
            out[0, x] = (p[0, x] - pred) & 0xFF
            pred = p[0, x]
    if filt == 1:
        for y in range(1, h):
            pred = int(p[y - 1, 0])
            for x in range(w):
                out[y, x] = (p[y, x] - pred) & 0xFF
                pred = p[y, x]
    elif filt == 2:
        for y in range(1, h):
            out[y] = ((p[y] - p[y - 1]) & 0xFF).astype(plane.dtype)
    elif filt == 3:
        for y in range(1, h):
            top_left = int(p[y - 1, 0])
            left = top_left
            for x in range(w):
                top = int(p[y - 1, x])
                g = left + top - top_left
                g = 0 if g < 0 else 255 if g > 255 else g
                out[y, x] = (p[y, x] - g) & 0xFF
                left = int(p[y, x])
                top_left = top
    return out


def test_alpha_chunk_raw_method_all_filters_roundtrip():
    import numpy as np

    from history_collector_spark.functions.webp import decode_alpha_chunk

    rng = np.random.default_rng(121)
    for h, w in ((1, 1), (3, 9), (8, 8), (11, 5)):
        plane = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for filt in range(4):
            resid = (
                plane if filt == 0 else _alph_forward_filter(plane, filt)
            )
            body = bytes([filt << 2]) + resid.tobytes()
            back = decode_alpha_chunk(body, w, h)
            assert np.array_equal(back, plane), (h, w, filt)


def test_alpha_chunk_malformed():
    from history_collector_spark.functions.codec_errors import (
        ImageDecodeError,
    )
    from history_collector_spark.functions.webp import decode_alpha_chunk

    with pytest.raises(ImageDecodeError):
        decode_alpha_chunk(b"", 4, 4)
    with pytest.raises(ImageDecodeError):
        decode_alpha_chunk(b"\x00" + b"x" * 10, 4, 4)  # raw truncated
    with pytest.raises(ImageDecodeError):
        decode_alpha_chunk(b"\x02" + b"x" * 16, 4, 4)  # bad method
    # preprocessed-levels (pre=1) decodes as stored since round 14
    # (libwebp's default path applies no re-smoothing); pre>1 is bad
    assert decode_alpha_chunk(b"\x10" + b"x" * 16, 4, 4).shape == (4, 4)
    with pytest.raises(ImageDecodeError):
        decode_alpha_chunk(b"\x20" + b"x" * 16, 4, 4)  # reserved pre
    with pytest.raises(ImageDecodeError):
        decode_alpha_chunk(b"\x01\xff", 4, 4)  # torn VP8L alpha stream


@pytest.mark.skipif(_load_libwebp() is None, reason="libwebp unavailable")
def test_vp8x_alpha_interop_bit_exact():
    """Fresh lossy-with-alpha encodes (VP8X + compressed ALPH + VP8):
    our alpha plane must equal libwebp's RGBA alpha channel exactly,
    and the luma/chroma planes must equal WebPDecodeYUV — proving the
    lossy sub-stream decode is unaffected by the container."""
    import ctypes

    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.webp import decode_webp

    lw = _load_libwebp()
    lw.WebPEncodeRGBA.restype = ctypes.c_size_t
    lw.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lw.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lw.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    rng = np.random.default_rng(77)
    for (h, w), q in (((24, 36), 75.0), ((13, 21), 40.0), ((17, 33), 95.0)):
        px = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        px[..., 3] = (
            (np.arange(h)[:, None] * 9 + np.arange(w)[None, :] * 5) % 256
        ).astype(np.uint8)
        out = ctypes.POINTER(ctypes.c_uint8)()
        n = lw.WebPEncodeRGBA(px.tobytes(), w, h, w * 4, q,
                              ctypes.byref(out))
        assert n > 0
        data = ctypes.string_at(out, n)
        lw.WebPFree(out)
        W = ctypes.c_int()
        H = ctypes.c_int()
        rp = lw.WebPDecodeRGBA(data, len(data), ctypes.byref(W),
                               ctypes.byref(H))
        ref = np.ctypeslib.as_array(rp, (H.value, W.value, 4)).copy()
        lw.WebPFree(rp)
        mine = decode_webp(data)
        assert mine.shape == ref.shape
        assert np.array_equal(mine[:, :, 3], ref[:, :, 3])
        # sub-stream parity at the YUV level
        pos = 12
        while pos + 8 <= len(data):
            tag = data[pos : pos + 4]
            clen = int.from_bytes(data[pos + 4 : pos + 8], "little")
            if tag == b"VP8 ":
                body = data[pos + 8 : pos + 8 + clen]
                break
            pos += 8 + clen + (clen & 1)
        my_y, my_u, my_v = decode_vp8_frame(body)
        ry, ru, rv = _ref_yuv(lw, data)
        assert np.array_equal(my_y, ry)
        assert np.array_equal(my_u, ru)
        assert np.array_equal(my_v, rv)


def _ref_yuv(lw, webp):
    import ctypes

    import numpy as np

    lw.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    lw.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    w = ctypes.c_int()
    h = ctypes.c_int()
    up = ctypes.POINTER(ctypes.c_uint8)()
    vp = ctypes.POINTER(ctypes.c_uint8)()
    stride = ctypes.c_int()
    uvs = ctypes.c_int()
    yp = lw.WebPDecodeYUV(webp, len(webp), ctypes.byref(w), ctypes.byref(h),
                          ctypes.byref(up), ctypes.byref(vp),
                          ctypes.byref(stride), ctypes.byref(uvs))
    assert yp
    cw, ch = (w.value + 1) // 2, (h.value + 1) // 2
    y = np.ctypeslib.as_array(yp, (h.value, stride.value))[:, : w.value].copy()
    u = np.ctypeslib.as_array(up, (ch, uvs.value))[:, :cw].copy()
    v = np.ctypeslib.as_array(vp, (ch, uvs.value))[:, :cw].copy()
    lw.WebPFree(yp)
    return y, u, v


# ---------------------------------------------------------------------------
# VP8 stream re-packer (functions/vp8_repack.py): writer-side coverage
# for decoder paths the reference encoder's simple API never emits
# (multi-partition token streams, added segmentation maps, zero-delta
# loop-filter adjustment headers)
# ---------------------------------------------------------------------------


def test_bool_encoder_roundtrip_property():
    import numpy as np

    from history_collector_spark.functions.vp8 import BoolDecoder
    from history_collector_spark.functions.vp8_repack import BoolEncoder

    rng = np.random.default_rng(3)
    for _ in range(120):
        n = int(rng.integers(1, 500))
        seq = [
            (int(rng.integers(1, 255)), int(rng.integers(0, 2)))
            for _ in range(n)
        ]
        be = BoolEncoder()
        for p, b in seq:
            be.put(p, b)
        bd = BoolDecoder(be.flush())
        for p, b in seq:
            assert bd.get(p) == b


def test_repack_pixel_identity_matrix():
    """Every packaging variant of the pinned vectors decodes to
    byte-identical planes: 1/2/4/8 token partitions, an added
    round-robin segmentation map (all segments on the base
    quantizer), and an added zero-delta loop-filter header."""
    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    from history_collector_spark.functions.vp8 import parse_frame_header

    for name in ("noise", "gradient", "mixed"):
        body = _vp8_body(flagship_blob(name))
        orig = decode_vp8_frame(body)
        segmented = bool(parse_frame_header(body).seg_enabled)
        for nparts in (1, 2, 4, 8):
            for seg in ((False,) if segmented else (False, True)):
                for lfd in (False, True):
                    rb = repack_vp8(body, nparts=nparts,
                                    add_segmentation=seg,
                                    add_lf_deltas=lfd)
                    out = decode_vp8_frame(rb)
                    for a, b in zip(orig, out):
                        assert np.array_equal(a, b), (name, nparts, seg,
                                                      lfd)


def test_repack_partition_structure():
    """The emitted stream really has N token partitions (size trailer
    present and consistent) and a parseable header."""
    from history_collector_spark.functions.vp8 import parse_frame_header
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    body = _vp8_body(flagship_blob("noise"))
    for nparts in (2, 4, 8):
        rb = repack_vp8(body, nparts=nparts)
        hdr = parse_frame_header(rb)
        assert hdr.n_parts == nparts
        rest = rb[10 + hdr.first_part_size :]
        offs = 3 * (nparts - 1)
        for i in range(nparts - 1):
            sz = int.from_bytes(rest[3 * i : 3 * i + 3], "little")
            assert sz > 0
            offs += sz
        assert offs < len(rest)  # last partition is non-empty


def test_repack_segmented_input_reemits():
    """An input that already carries segmentation re-emits it
    verbatim (pixel-identical); adding a second map is refused."""
    import numpy as np

    from history_collector_spark.functions.vp8 import (
        decode_vp8_frame,
        parse_frame_header,
    )
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    body = _vp8_body(flagship_blob("noise"))
    seg_stream = repack_vp8(body, nparts=2, add_segmentation=True)
    assert parse_frame_header(seg_stream).seg_enabled
    orig = decode_vp8_frame(body)
    re2 = repack_vp8(seg_stream, nparts=4)  # re-pack the segmented one
    out = decode_vp8_frame(re2)
    for a, b in zip(orig, out):
        assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        repack_vp8(seg_stream, add_segmentation=True)


@pytest.mark.skipif(_load_libwebp() is None, reason="libwebp unavailable")
def test_repack_streams_decode_in_libwebp():
    """The REAL libwebp must decode our re-emitted bytes to the same
    planes — the writer-side half of the interop proof (the reader
    half is the fresh-encode tests above)."""
    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    lw = _load_libwebp()

    def wrap(b):
        chunk = (b"VP8 " + len(b).to_bytes(4, "little") + b
                 + (b"\x00" if len(b) & 1 else b""))
        return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
                + b"WEBP" + chunk)

    from history_collector_spark.functions.vp8 import parse_frame_header

    for name in ("noise", "smooth"):
        body = _vp8_body(flagship_blob(name))
        orig = decode_vp8_frame(body)
        segmented = bool(parse_frame_header(body).seg_enabled)
        for nparts in (2, 8):
            for seg in ((False,) if segmented else (False, True)):
                rb = repack_vp8(body, nparts=nparts,
                                add_segmentation=seg,
                                add_lf_deltas=True)
                ry, ru, rv = _ref_yuv(lw, wrap(rb))
                assert np.array_equal(ry, orig[0]), (name, nparts, seg)
                assert np.array_equal(ru, orig[1])
                assert np.array_equal(rv, orig[2])


# ---------------------------------------------------------------------------
# MP3 frame-header metadata walker (functions/mp3.py)
# ---------------------------------------------------------------------------


def test_mp3_classic_header_constants():
    """The famous 0xFFFB9000 header: MPEG-1 Layer III, 128 kbps,
    44100 Hz, stereo, 417-byte frames, 1152 samples — textbook
    values; the padded twin is 418."""
    from history_collector_spark.functions.mp3 import (
        parse_mp3_frame_header,
    )

    v = parse_mp3_frame_header(bytes([0xFF, 0xFB, 0x90, 0x00]))
    assert v == (3, 3, 128, 44100, 0, "stereo", 417, 1152)
    v = parse_mp3_frame_header(bytes([0xFF, 0xFB, 0x92, 0x00]))
    assert v[6] == 418
    # MPEG-2 Layer III halves the samples per frame
    v = parse_mp3_frame_header(bytes([0xFF, 0xF3, 0x90, 0x00]))
    assert v[0] == 2 and v[7] == 576 and v[3] == 22050


def test_mp3_build_parse_roundtrip():
    from history_collector_spark.functions.mp3 import (
        build_mp3,
        parse_mp3_info,
    )

    for nf, br, sr, mono, id3 in (
        (10, 128, 44100, False, b""),
        (3, 320, 48000, True, b"x" * 300),
        (57, 64, 32000, False, b"tag" * 100),
        (1, 32, 44100, True, b""),
    ):
        info = parse_mp3_info(build_mp3(nf, br, sr, mono, id3))
        assert info["n_frames"] == nf
        assert info["bitrate_kbps"] == br and not info["vbr"]
        assert info["sample_rate"] == sr
        assert info["channel_mode"] == ("mono" if mono else "stereo")
        assert info["duration_us"] == nf * 1152 * 1_000_000 // sr
        assert info["id3v2_bytes"] == (10 + len(id3) if id3 else 0)


def test_mp3_vbr_and_param_change():
    from history_collector_spark.functions.codec_errors import (
        AudioDecodeError,
    )
    from history_collector_spark.functions.mp3 import (
        build_mp3,
        parse_mp3_info,
    )

    vbr = build_mp3(2, 128, 44100) + build_mp3(2, 64, 44100)
    info = parse_mp3_info(vbr)
    assert info["vbr"] and info["bitrate_kbps"] == 128
    assert info["n_frames"] == 4
    with pytest.raises(AudioDecodeError):
        parse_mp3_info(build_mp3(2, 128, 44100)
                       + build_mp3(2, 128, 48000))  # rate change


def test_mp3_malformed_total():
    import numpy as np

    from history_collector_spark.functions.codec_errors import (
        AudioDecodeError,
    )
    from history_collector_spark.functions.mp3 import (
        build_mp3,
        parse_mp3_info,
    )

    good = build_mp3(6, 192, 48000, id3_payload=b"meta" * 20)
    rng = np.random.default_rng(17)
    ok = err = 0
    for _ in range(300):
        b = bytearray(good)
        k = int(rng.integers(0, 3))
        if k == 0:
            b = b[: int(rng.integers(0, len(b)))]
        elif k == 1:
            i = int(rng.integers(0, len(b)))
            b[i] ^= 1 << int(rng.integers(0, 8))
        else:
            i = int(rng.integers(0, len(b)))
            del b[i : i + int(rng.integers(1, 64))]
        try:
            info = parse_mp3_info(bytes(b))
            assert info["n_frames"] >= 1
            ok += 1
        except AudioDecodeError:
            err += 1
    assert ok + err == 300
    # ID3-only payload has no frames
    with pytest.raises(AudioDecodeError):
        parse_mp3_info(b"ID3\x04\x00\x00\x00\x00\x00\x05abcde")


def test_repack_simple_filter_pinned():
    """force_simple_filter flips the header to the SIMPLE loop filter
    — the path no reference encoder emits. The decoded planes of the
    repacked 'noise' vector are pinned (captured under a libwebp
    bit-equality assert) and must differ from the normal-filter
    original, proving the path really ran."""
    import hashlib

    import numpy as np

    from history_collector_spark.functions.vp8 import (
        decode_vp8_frame,
        parse_frame_header,
    )
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    body = _vp8_body(flagship_blob("noise"))
    rb = repack_vp8(body, nparts=4, force_simple_filter=True)
    assert parse_frame_header(rb).filter_simple == 1
    y, u, v = decode_vp8_frame(rb)
    assert int(y.astype(np.int64).sum()) == 191279
    assert int(u.astype(np.int64).sum()) == 48775
    assert int(v.astype(np.int64).sum()) == 49224
    assert hashlib.sha256(y.tobytes()).hexdigest()[:8] == "0700e3cc"
    oy, _, _ = decode_vp8_frame(body)
    assert not np.array_equal(y, oy)


@pytest.mark.skipif(_load_libwebp() is None, reason="libwebp unavailable")
def test_repack_simple_filter_matches_libwebp():
    import numpy as np

    from history_collector_spark.functions.vp8 import decode_vp8_frame
    from history_collector_spark.functions.vp8_fixtures import flagship_blob
    from history_collector_spark.functions.vp8_repack import repack_vp8

    lw = _load_libwebp()

    def wrap(b):
        chunk = (b"VP8 " + len(b).to_bytes(4, "little") + b
                 + (b"\x00" if len(b) & 1 else b""))
        return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
                + b"WEBP" + chunk)

    for name in ("noise", "smooth", "gradient"):
        body = _vp8_body(flagship_blob(name))
        rb = repack_vp8(body, nparts=2, force_simple_filter=True)
        mine = decode_vp8_frame(rb)
        ref = _ref_yuv(lw, wrap(rb))
        for a, b in zip(mine, ref):
            assert np.array_equal(a, b), name
