"""Real stdlib codecs (WAV RIFF walk, BMP padded rows): pure-Python
parser units + Spark end-to-end vs the closed-form oracle at sf0.001.

The writers (`_make_wav` / `_make_bmp`) are fixture generators; the
parsers must survive inputs the writers never produce (fixed-offset
assumptions, truncation, padding inclusion) — that's what the
adversarial units below pin.
"""

from __future__ import annotations

import struct

import pytest

from spk_sl_validation_spark.ext import multimodal as M

# ---------------------------------------------------------------------------
# WAV parser units
# ---------------------------------------------------------------------------


def test_wav_roundtrip_law():
    """Parser recovers exactly what the generation law wrote."""
    for doc_id in (0, 1, 2, 5, 56, 57, 1234):
        rate, channels, bits, pcm = M._parse_wav(M._make_wav(doc_id))
        assert rate == 8000 * (1 + doc_id % 3)
        assert channels == 1 + doc_id % 2
        assert bits == 16
        n_frames = 200 + doc_id % 57
        samples = struct.unpack(f"<{len(pcm) // 2}h", pcm)
        assert len(samples) == n_frames * channels
        for i in range(n_frames):
            want = ((doc_id * 7 + i * 13) % 4096) - 2048
            for c in range(channels):
                assert samples[i * channels + c] == want


def test_wav_parser_walks_unknown_chunks():
    """A fixed-offset parser (data at 44) would read the LIST chunk as
    PCM; the chunk walk must skip it by declared size."""
    raw = M._make_wav(7)
    assert raw[36:40] == b"LIST"  # fixture really has LIST before data
    _, _, _, pcm = M._parse_wav(raw)
    assert b"INFO" not in pcm[:16]


def test_wav_parser_word_aligns_odd_chunks():
    """RIFF chunks pad to even byte counts; an odd-sized unknown chunk
    must not desync the walk."""
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    odd = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 bytes + pad
    pcm = struct.pack("<3h", 100, -200, 300)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + odd + b"data" + struct.pack("<I", 6) + pcm
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, channels, bits, got = M._parse_wav(raw)
    assert (rate, channels, bits) == (8000, 1, 16)
    assert struct.unpack("<3h", got) == (100, -200, 300)


@pytest.mark.parametrize(
    "raw",
    [
        b"",
        b"RIFF\x00\x00\x00\x00WAVE",  # no chunks at all
        b"OggS" + b"\x00" * 40,  # wrong container
        M._make_wav(3)[:30],  # truncated mid-fmt
    ],
)
def test_wav_parser_rejects_malformed(raw):
    with pytest.raises(ValueError):
        M._parse_wav(raw)


def test_wav_float_format_rejected():
    """IEEE-float WAV (fmt tag 3) is not PCM16 — must refuse, not
    misread the bytes as int16."""
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 0)
    with pytest.raises(ValueError):
        M._parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


# ---------------------------------------------------------------------------
# BMP parser units
# ---------------------------------------------------------------------------


def test_bmp_header_roundtrip_law():
    for doc_id in (0, 1, 12, 13, 90, 1234):
        w, h, c = M._decode_bmp(M._make_bmp(doc_id))
        assert (w, h, c) == (1 + doc_id % 13, 1 + doc_id % 7, 3)


def test_bmp_registry_decodes_real_format():
    """decode_media's registry path now handles a REAL format — the
    round-1 claim was plumbing-only; this pins the codec upgrade."""
    assert M.DECODERS["image/bmp"] is M._decode_bmp


def test_bmp_top_down_negative_height():
    """biHeight < 0 means top-down storage; header decode reports the
    magnitude."""
    raw = bytearray(M._make_bmp(5))
    height = struct.unpack_from("<i", raw, 22)[0]
    struct.pack_into("<i", raw, 22, -height)
    w, h, c = M._decode_bmp(bytes(raw))
    assert h == height


@pytest.mark.parametrize(
    "raw",
    [b"", b"PNG" + b"\x00" * 60, M._make_bmp(4)[:40]],
)
def test_bmp_rejects_malformed(raw):
    with pytest.raises(ValueError):
        M._decode_bmp(raw)


def _bmp_expected(doc_id: int) -> tuple[int, int]:
    w, h = 1 + doc_id % 13, 1 + doc_id % 7
    vals = [(doc_id + k) % 251 for k in range(w * h * 3)]
    return sum(vals), sum(k * v for k, v in enumerate(vals))


def test_bmp_pixel_math_reference():
    """The numpy stride/flip logic in bmp_pixel_stats, exercised
    through a driver-free replica: bottom-up rows with 0xAB padding
    must reorder to the top-down law exactly."""
    import numpy as np

    for doc_id in (0, 3, 12, 25):  # widths 1,4,13,... exercise stride pad 0..3
        raw = M._make_bmp(doc_id)
        w, h, c = M._decode_bmp(raw)
        off = struct.unpack_from("<I", raw, 10)[0]
        stride = (w * c + 3) & ~3
        arr = np.frombuffer(raw, dtype=np.uint8, count=stride * h, offset=off)
        flat = arr.reshape(h, stride)[::-1, : w * c].reshape(-1).astype("int64")
        want_sum, want_wsum = _bmp_expected(doc_id)
        assert int(flat.sum()) == want_sum
        assert int((np.arange(flat.size) * flat).sum()) == want_wsum


# ---------------------------------------------------------------------------
# Spark end-to-end vs the closed-form oracle (sf0.001)
# ---------------------------------------------------------------------------


def _hash_rows(rows) -> set[tuple]:
    return {tuple(r) for r in rows}


def test_wav_stats_matches_oracle(spark, sf_dir):
    import duckdb

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY["multimodal_wav_stats"]
    got = spec.builder(spark, sf_dir)
    cols = sorted(got.columns)
    got_rows = _hash_rows(got.select(*cols).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(spec.oracle).fetch_df()[cols]
    assert got_rows == _hash_rows(want.itertuples(index=False))


def test_bmp_pixel_stats_matches_oracle(spark, sf_dir):
    import duckdb

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY["multimodal_bmp_pixel_stats"]
    got = spec.builder(spark, sf_dir)
    cols = sorted(got.columns)
    got_rows = _hash_rows(got.select(*cols).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(spec.oracle).fetch_df()[cols]
    assert got_rows == _hash_rows(want.itertuples(index=False))


def test_decode_media_handles_bmp_and_flags_bad_rows(spark, sf_dir):
    """Registry-path decode on real BMP payloads, with one corrupted
    row: good rows decode to law dims, the bad row gets ok=false
    without failing the job."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(20)
    media = M.synthesize_bmp_table(docs)
    # corrupt one payload's magic
    media = media.withColumn(
        "media",
        F.when(F.col("doc_id") == 0, F.lit(b"XX garbage")).otherwise(F.col("media")),
    )
    out = {r.doc_id: r for r in M.decode_media(media).collect()}
    for doc_id, r in out.items():
        if doc_id == 0:
            assert not r.ok
        else:
            assert r.ok and r.width == 1 + doc_id % 13 and r.height == 1 + doc_id % 7


def test_streaming_decode_gate_equals_batch(spark, sf_dir):
    """The stream replay (availableNow, complete mode) must equal the
    same aggregation run as a plain batch over the same table — the
    decode path is identical code (mapInPandas), so any divergence is
    a streaming-semantics bug."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded
    from spk_sl_validation_spark.sources.readers import load_table

    _ensure_loaded()
    got = sorted(
        map(tuple, REGISTRY["streaming_media_decode_gate"].builder(spark, sf_dir).collect())
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    batch = (
        M.decode_wav(M.synthesize_wav_table(docs))
        .groupBy("sample_rate")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
            F.sum(F.when(F.col("ok"), F.col("sum_abs_amp"))).alias("total_abs_amp"),
        )
    )
    assert got == sorted(map(tuple, batch.collect()))


# ---------------------------------------------------------------------------
# Fuzz: corpus-scale ingestion sees arbitrary bytes; the parsers must
# either parse or raise ValueError — never crash with anything else
# ---------------------------------------------------------------------------


def test_wav_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M._parse_wav(raw)
        except ValueError:
            pass

    run()


def test_wav_parser_total_on_mutated_valid_payloads():
    """Bit-flips of REAL WAVs — the corruption shape a crawl actually
    produces (truncation, header damage) — must stay in the
    parse-or-ValueError contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_wav(41)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M._parse_wav(raw)
        except ValueError:
            pass

    run()


def test_bmp_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M._decode_bmp(raw)
        except ValueError:
            pass

    run()


def test_wav_zero_channels_or_rate_rejected():
    """fmt declaring channels=0 or rate=0 must raise ValueError in the
    parser — otherwise decode_wav's frame/duration math divides by
    zero and kills the stage (review finding r6)."""
    for channels, rate in ((0, 8000), (1, 0)):
        fmt = struct.pack("<HHIIHH", 1, channels, rate, 16000, 2, 16)
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 4)
            + b"\x00" * 4
        )
        with pytest.raises(ValueError, match="malformed WAV fmt"):
            M._parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_bmp_nonsense_dimensions_rejected():
    """width<=0, height==0, bpp==0 are malformed, not 'ok=true with
    nonsense dims'."""
    base = bytearray(M._make_bmp(5))
    neg_w = bytearray(base)
    struct.pack_into("<i", neg_w, 18, -7)
    zero_h = bytearray(base)
    struct.pack_into("<i", zero_h, 22, 0)
    zero_bpp = bytearray(base)
    struct.pack_into("<H", zero_bpp, 28, 0)
    for raw in (neg_w, zero_h, zero_bpp):
        with pytest.raises(ValueError):
            M._decode_bmp(bytes(raw))


def test_bmp_pixel_stats_honors_top_down_storage():
    """A top-down BMP (negative biHeight) stores rows in semantic
    order already; the bottom-up flip must NOT be applied — pixel_wsum
    is the order-sensitive witness (review finding r6)."""
    import numpy as np

    doc_id = 3
    raw = bytearray(M._make_bmp(doc_id))
    w, h, c = M._decode_bmp(bytes(raw))
    off = struct.unpack_from("<I", raw, 10)[0]
    stride = (w * c + 3) & ~3
    # rewrite as top-down: negate height, reverse the stored row order
    arr = bytes(raw[off:])
    rows = [arr[i * stride : (i + 1) * stride] for i in range(h)]
    top_down = bytearray(raw[:off]) + b"".join(reversed(rows))
    struct.pack_into("<i", top_down, 22, -h)

    def wsum_of(payload: bytes) -> int:
        a = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                          offset=struct.unpack_from("<I", payload, 10)[0])
        raw_h = struct.unpack_from("<i", payload, 22)[0]
        grid = a.reshape(h, stride)[:, : w * c]
        if raw_h > 0:
            grid = grid[::-1]
        flat = grid.reshape(-1).astype("int64")
        return int((np.arange(flat.size) * flat).sum())

    want_sum, want_wsum = _bmp_expected(doc_id)
    assert wsum_of(bytes(raw)) == want_wsum
    assert wsum_of(bytes(top_down)) == want_wsum


def test_bmp_pixel_stats_spark_top_down(spark):
    """The real bmp_pixel_stats (mapInPandas) on a top-down payload:
    same stats as the bottom-up twin of the same image."""
    doc_id = 3
    raw = bytearray(M._make_bmp(doc_id))
    w, h, c = M._decode_bmp(bytes(raw))
    off = struct.unpack_from("<I", raw, 10)[0]
    stride = (w * c + 3) & ~3
    arr = bytes(raw[off:])
    rows = [arr[i * stride : (i + 1) * stride] for i in range(h)]
    top_down = bytearray(raw[:off]) + b"".join(reversed(rows))
    struct.pack_into("<i", top_down, 22, -h)
    df = spark.createDataFrame(
        [(0, bytes(raw)), (1, bytes(top_down))], "doc_id long, media binary"
    )
    got = {r.doc_id: r for r in M.bmp_pixel_stats(df).collect()}
    want_sum, want_wsum = _bmp_expected(doc_id)
    for i in (0, 1):
        assert got[i].ok
        assert got[i].pixel_sum == want_sum
        assert got[i].pixel_wsum == want_wsum


# ---------------------------------------------------------------------------
# PNG parser units (round 7: real stdlib zlib codec replaces the stub)
# ---------------------------------------------------------------------------


def _png_expected(doc_id: int) -> tuple[int, int, int, int, int]:
    w, h = 1 + doc_id % 11, 1 + doc_id % 5
    ch = [1, 3, 4][doc_id % 3]
    vals = [(doc_id * 3 + k) % 249 for k in range(w * h * ch)]
    return w, h, ch, sum(vals), sum(k * v for k, v in enumerate(vals))


def test_png_roundtrip_law():
    """Parser recovers exactly the raw bytes the generation law wrote —
    across doc_ids covering every (filter sequence, color type) combo."""
    for doc_id in range(40):
        w, h, c, raw = M._parse_png(M._make_png(doc_id))
        ww, hh, cc, _, _ = _png_expected(doc_id)
        assert (w, h, c) == (ww, hh, cc)
        assert raw == bytes((doc_id * 3 + k) % 249 for k in range(w * h * c))


def test_png_fixture_exercises_all_five_filters():
    """Row y of doc_id's PNG is filtered with type (doc_id+y) % 5 —
    assert the corpus really hits None/Sub/Up/Average/Paeth (a fixture
    that only ever emits filter 0 would never catch unfilter bugs)."""
    import zlib

    seen = set()
    for doc_id in range(10):
        raw = M._make_png(doc_id)
        w, h, c, _ = M._parse_png(raw)
        # extract the concatenated IDAT stream the same way the parser does
        pos, idat = len(M.PNG_SIG), bytearray()
        while pos + 12 <= len(raw):
            length = int.from_bytes(raw[pos : pos + 4], "big")
            if raw[pos + 4 : pos + 8] == b"IDAT":
                idat += raw[pos + 8 : pos + 8 + length]
            pos += 12 + length
        stream = zlib.decompress(bytes(idat))
        rowlen = w * c
        seen |= {stream[y * (rowlen + 1)] for y in range(h)}
    assert seen == {0, 1, 2, 3, 4}


def test_png_parser_concatenates_split_idats():
    """The fixture splits its deflate stream across two IDATs — a
    parser that inflates only the first IDAT must fail, not half-parse."""
    raw = M._make_png(17)
    assert raw.count(b"IDAT") == 2
    M._parse_png(raw)  # whole-stream parse succeeds


def test_png_registry_decodes_real_format():
    assert M.DECODERS["image/png"] is M._decode_png


@pytest.mark.parametrize(
    "raw",
    [
        b"",
        b"\x89PNG\r\n\x1a\n",  # signature only
        M._make_png(3)[:20],  # truncated mid-IHDR
        M._make_png(3)[:-12],  # IEND removed
        b"BM" + b"\x00" * 60,  # wrong container
    ],
)
def test_png_rejects_malformed(raw):
    with pytest.raises(ValueError):
        M._parse_png(raw)


def test_png_crc_catches_any_single_byte_flip():
    """Every byte position in a real PNG is covered by the signature
    check, a chunk CRC, the zlib adler32, or a length/structure check —
    a flipped byte must never parse to silently different pixels."""
    base = M._make_png(23)
    want = M._parse_png(base)
    for pos in range(len(base)):
        mutated = bytearray(base)
        mutated[pos] ^= 0xFF
        try:
            got = M._parse_png(bytes(mutated))
        except ValueError:
            continue
        assert got == want, f"byte {pos} flip changed pixels without an error"


def test_png_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M._parse_png(raw)
        except ValueError:
            pass

    run()


def test_png_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_png(41)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        try:
            M._parse_png(bytes(mutated[:cut]))
        except ValueError:
            pass

    run()


def test_png_pixel_stats_matches_oracle(spark, sf_dir):
    import duckdb

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY["multimodal_png_pixel_stats"]
    got = spec.builder(spark, sf_dir)
    cols = sorted(got.columns)
    got_rows = _hash_rows(got.select(*cols).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(spec.oracle).fetch_df()[cols]
    assert got_rows == _hash_rows(want.itertuples(index=False))


def test_decode_media_handles_png_and_flags_bad_rows(spark, sf_dir):
    """Registry-path decode on real PNG payloads with one corrupted
    row: good rows decode to law dims, the bad row gets ok=false."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(20)
    media = M.synthesize_png_table(docs)
    media = media.withColumn(
        "media",
        F.when(F.col("doc_id") == 0, F.lit(b"\x89PNG garbage")).otherwise(F.col("media")),
    )
    out = {r.doc_id: r for r in M.decode_media(media).collect()}
    for doc_id, r in out.items():
        if doc_id == 0:
            assert not r.ok
        else:
            w, h, c, _, _ = _png_expected(doc_id)
            assert r.ok and (r.width, r.height, r.channels) == (w, h, c)


# ---------------------------------------------------------------------------
# GIF (block walk + variable-width LZW)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_law():
    for d in (0, 1, 7, 41, 53, 107):
        w, h, pal, idx = M._parse_gif(M._make_gif(d))
        assert (w, h) == (1 + d % 9, 1 + d % 6)
        assert idx == bytes((d + k) % 16 for k in range(w * h))
        assert pal == bytes((d + j * 7 + c * 31) % 251 for j in range(16) for c in range(3))


def test_gif_registry_decodes_real_format():
    w, h, ch = M.DECODERS["image/gif"](M._make_gif(23))
    assert (w, h, ch) == (1 + 23 % 9, 1 + 23 % 6, 3)


def test_gif_lzw_roundtrip_property():
    """The encoder and decoder must share one width-promotion schedule
    (the decoder reconstructs each table entry one code LATE, so the
    encoder widens one assignment later than table-full) — long and
    repetitive inputs force width growth, KwKwK, and the 4096-entry
    clear-reset."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=2, max_value=8),
        st.binary(min_size=1, max_size=9000),
    )
    def run(mcs, raw):
        seq = bytes(b % (1 << mcs) for b in raw)
        assert M._lzw_decode(M._lzw_encode(seq, mcs), mcs) == seq

    run()
    # repetitive megasequence: table fills, clear-reset mid-stream
    seq = bytes([1, 1, 2, 1] * 40000)
    assert M._lzw_decode(M._lzw_encode(seq, 4), 4) == seq


def test_gif_parser_skips_extensions_and_rejects_interlace():
    raw = bytearray(M._make_gif(12))
    # the fixture carries a comment extension before the image — parsed
    # fine by construction (test_gif_roundtrip_law). Flip the image
    # descriptor's interlace bit: packed byte sits 9 bytes into the
    # 0x2C block.
    pos = raw.index(0x2C, 13)
    raw[pos + 9] |= 0x40
    import pytest as _pytest

    with _pytest.raises(ValueError, match="interlace"):
        M._parse_gif(bytes(raw))


def test_gif_index_beyond_palette_rejected():
    """A 2-entry local-table GIF whose LZW stream emits index 5 must
    be rejected, not silently wrapped."""
    import struct

    mcs = 4
    z = M._lzw_encode(bytes([5]), mcs)
    sub = bytes([len(z)]) + z + b"\x00"
    raw = (
        b"GIF89a"
        + struct.pack("<HH", 1, 1)
        + bytes([0x00, 0, 0])  # no global table
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1)
        + bytes([0x80])  # local table, 2 entries
        + bytes(6)       # 2 RGB entries, all zero
        + bytes([mcs])
        + sub
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="beyond color table"):
        M._parse_gif(raw)


def test_gif_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M._parse_gif(raw)
        except ValueError:
            pass

    run()


def test_gif_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_gif(41)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M._parse_gif(raw)
        except ValueError:
            pass

    run()


def test_gif_pixel_stats_flags_bad_rows(spark):
    import pyspark.sql.functions as F

    docs = spark.range(4).withColumnRenamed("id", "doc_id")
    media = M.synthesize_gif_table(docs).withColumn(
        "media",
        F.when(F.col("doc_id") == 2, F.lit(b"GIF89a garbage")).otherwise(F.col("media")),
    )
    rows = {r.doc_id: r for r in M.gif_pixel_stats(media).collect()}
    assert rows[2].ok is False and rows[2].pixel_sum == 0
    for d in (0, 1, 3):
        assert rows[d].ok is True
        w, h = 1 + d % 9, 1 + d % 6
        want = sum(
            (d + ((d + m // 3) % 16) * 7 + (m % 3) * 31) % 251 for m in range(w * h * 3)
        )
        assert rows[d].pixel_sum == want


# ---------------------------------------------------------------------------
# JPEG (baseline: markers + canonical Huffman + IDCT)
# ---------------------------------------------------------------------------


def test_jpeg_generation_law_is_bit_exact():
    """Constant even-gray 8x8 blocks through the 16-step flat quantizer
    are DC-only with exact-integer reconstruction — decoded pixels must
    equal the source EXACTLY (the property that makes the SQL oracle
    closed-form despite the codec being lossy in general)."""
    import numpy as np

    for d in (0, 1, 5, 23, 47, 101):
        w, h, ch, raw = M._parse_jpeg(M._make_jpeg(d))
        assert (w, h, ch) == (8 * (1 + d % 4), 8 * (1 + d % 3), 3)
        px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
        for by in range(h // 8):
            for bx in range(w // 8):
                g = 2 * ((d * 7 + by * 13 + bx * 31) % 128)
                assert (px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] == g).all()


def test_jpeg_registry_decodes_real_format():
    w, h, ch = M.DECODERS["image/jpeg"](M._make_jpeg(14))
    assert (w, h, ch) == (8 * (1 + 14 % 4), 8 * (1 + 14 % 3), 3)


def test_jpeg_lossy_roundtrip_bounded():
    """Arbitrary pixels through encode->decode stay within the flat-16
    quantizer's error envelope (this exercises the AC run-length path,
    ZRL, EOB, negative coefficients, and byte stuffing)."""
    import numpy as np

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(24, 32, 3), dtype=np.uint8)
    w, h, ch, raw = M._parse_jpeg(M._encode_jpeg(px))
    assert (w, h, ch) == (32, 24, 3)
    dec = np.frombuffer(raw, dtype=np.uint8).reshape(24, 32, 3).astype(int)
    assert np.abs(dec - px.astype(int)).mean() < 20


def test_jpeg_grayscale_component_path():
    import numpy as np

    yy, xx = np.mgrid[0:16, 0:24]
    gray = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    w, h, ch, raw = M._parse_jpeg(M._encode_jpeg(gray))
    assert (w, h, ch) == (24, 16, 1)
    dec = np.frombuffer(raw, dtype=np.uint8).reshape(16, 24).astype(int)
    assert np.abs(dec - gray.astype(int)).mean() < 20


def test_jpeg_rejects_non_baseline():
    raw = bytearray(M._make_jpeg(9))
    # flip SOF0 (0xFFC0) to progressive SOF2 (0xFFC2)
    i = raw.index(b"\xff\xc0")
    raw[i + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        M._parse_jpeg(bytes(raw))


def test_jpeg_rejects_subsampling_and_restart():
    raw = bytearray(M._make_jpeg(9))
    i = raw.index(b"\xff\xc0")
    raw[i + 11] = 0x22  # Y sampling factor 2x2
    with pytest.raises(ValueError, match="subsampled"):
        M._parse_jpeg(bytes(raw))
    base = M._make_jpeg(9)
    i = base.index(b"\xff\xda")
    with_dri = base[:i] + b"\xff\xdd\x00\x04\x00\x08" + base[i:]
    with pytest.raises(ValueError, match="restart"):
        M._parse_jpeg(with_dri)


def test_jpeg_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M._parse_jpeg(raw)
        except ValueError:
            pass

    run()


def test_jpeg_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_jpeg(41)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M._parse_jpeg(raw)
        except ValueError:
            pass

    run()


def test_jpeg_pixel_stats_flags_bad_rows(spark):
    import pyspark.sql.functions as F

    docs = spark.range(4).withColumnRenamed("id", "doc_id")
    media = M.synthesize_jpeg_table(docs).withColumn(
        "media",
        F.when(F.col("doc_id") == 1, F.lit(b"\xff\xd8 garbage")).otherwise(F.col("media")),
    )
    rows = {r.doc_id: r for r in M.jpeg_pixel_stats(media).collect()}
    assert rows[1].ok is False and rows[1].pixel_sum == 0
    for d in (0, 2, 3):
        assert rows[d].ok is True
        w, h = 8 * (1 + d % 4), 8 * (1 + d % 3)
        want = sum(
            3 * 64 * 2 * ((d * 7 + by * 13 + bx * 31) % 128)
            for by in range(h // 8)
            for bx in range(w // 8)
        )
        assert rows[d].pixel_sum == want


def test_jpeg_sos_component_reorder_decodes_to_sof_order():
    """A spec-legal SOS may list components in any order; planes must
    land in SOF (Y, Cb, Cr) slots, not scan position."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    base = M._parse_jpeg(M._encode_jpeg(px))
    for order in itertools.permutations((0, 1, 2)):
        assert M._parse_jpeg(M._encode_jpeg(px, scan_order=order)) == base


def test_jpeg_sos_duplicate_component_rejected():
    import numpy as np

    base = bytearray(M._encode_jpeg(
        np.zeros((8, 8, 3), dtype=np.uint8) + 64
    ))
    sos = bytes(base).find(b"\xff\xda")
    assert sos >= 0
    # component specs start at sos+5 (marker 2 + len 2 + ns 1); repeat comp 1
    base[sos + 5 + 2] = 1  # second component id 2 -> 1
    with pytest.raises(ValueError, match="repeats component"):
        M._parse_jpeg(bytes(base))


def test_gif_lzw_terminal_width_promotion():
    """Encoder must widen before EOI when the decoder's post-append
    fill reaches 2^width on the final data code (ADVICE round-8)."""
    data = bytes([0, 1, 2, 3] * 4 + [0, 0])
    assert M._lzw_decode(M._lzw_encode(data, 2), 2) == data
    import random

    rng = random.Random(7)
    for _ in range(2000):
        mcs = rng.randint(2, 8)
        d = bytes(rng.randrange(1 << mcs) for _ in range(rng.randint(0, 60)))
        assert M._lzw_decode(M._lzw_encode(d, mcs), mcs) == d


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF container metadata
# ---------------------------------------------------------------------------


def test_mp4_generation_law_all_container_shapes():
    """40 consecutive ids cover both box layouts (faststart/streaming),
    v0 and v1 mvhd/tkhd, both timescales, largesize mdat, and 1/2
    tracks — every parsed field must match the law."""
    for d in range(40):
        w, h, dur, nt, codec = M.parse_mp4_meta(M._make_mp4(d))
        assert w == 16 * (1 + d % 5)
        assert h == 16 * (1 + d % 4)
        assert dur == 500 * (1 + d % 8)
        assert nt == 1 + d % 2
        assert codec == M._MP4_VIDEO_CODECS[d % 3]


def test_mp4_rejects_structural_malformations():
    base = M._make_mp4(6)  # faststart, v0, largesize mdat absent (6%4!=0)
    ftyp_sz = int.from_bytes(base[:4], "big")
    with pytest.raises(ValueError, match="ftyp"):
        M.parse_mp4_meta(base[ftyp_sz:])  # whole ftyp box removed -> moov first
    with pytest.raises(ValueError, match="moov"):
        M.parse_mp4_meta(base[:ftyp_sz])  # keep only ftyp: no moov at all
    with pytest.raises(ValueError):
        M.parse_mp4_meta(b"")
    # duplicated moov
    moov_at = base.find(b"moov") - 4
    moov_sz = int.from_bytes(base[moov_at : moov_at + 4], "big")
    dup = base + base[moov_at : moov_at + moov_sz]
    with pytest.raises(ValueError, match="one moov"):
        M.parse_mp4_meta(dup)
    # audio-only: flip the video handler to 'soun'
    mut = bytearray(base)
    mut[base.find(b"vide") : base.find(b"vide") + 4] = b"soun"
    with pytest.raises(ValueError, match="no video trak"):
        M.parse_mp4_meta(bytes(mut))


def test_mp4_frame_decode_stays_stubbed():
    with pytest.raises(NotImplementedError):
        M.DECODERS["video/mp4"](M._make_mp4(3))


def test_mp4_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M.parse_mp4_meta(raw)
        except ValueError:
            pass

    run()


def test_mp4_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_mp4(20)  # v1 boxes + largesize mdat (20%5==0, 20%4==0)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M.parse_mp4_meta(raw)
        except ValueError:
            pass

    run()


def test_mp4_container_meta_flags_bad_rows(spark):
    import pyspark.sql.functions as F

    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    media = M.synthesize_mp4_table(docs).withColumn(
        "media",
        F.when(F.col("doc_id") == 2, F.lit(b"\x00\x00\x00\x08ftyp")).otherwise(F.col("media")),
    )
    rows = {r.doc_id: r for r in M.mp4_container_meta(media).collect()}
    assert rows[2].ok is False and rows[2].video_codec == ""
    for d in (0, 1, 3, 4, 5):
        r = rows[d]
        assert r.ok is True
        assert (r.width, r.height, r.duration_ms, r.n_tracks) == (
            16 * (1 + d % 5), 16 * (1 + d % 4), 500 * (1 + d % 8), 1 + d % 2
        )


def test_mp4_empty_fullbox_at_eof_is_valueerror():
    """An 8-byte (empty-payload) mvhd/tkhd ending exactly at EOF must
    raise ValueError, not IndexError (totality contract)."""
    import struct

    def box(typ, payload=b""):
        return struct.pack(">I4s", 8 + len(payload), typ) + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))
    with pytest.raises(ValueError, match="empty mvhd"):
        M.parse_mp4_meta(ftyp + box(b"moov", box(b"mvhd")))
    # valid mvhd, then an empty tkhd inside a trak at EOF
    mvhd = box(
        b"mvhd",
        bytes([0, 0, 0, 0]) + struct.pack(">IIII", 1, 2, 1000, 1000) + b"\x00" * 80,
    )
    with pytest.raises(ValueError, match="tkhd"):
        M.parse_mp4_meta(ftyp + box(b"moov", mvhd + box(b"trak", box(b"tkhd") + box(b"mdia"))))


# ---------------------------------------------------------------------------
# mp4 sample tables (round-9 law extension: stts/stsz/stco|co64)
# ---------------------------------------------------------------------------


def test_mp4_sample_law_all_shapes():
    """Every writer variant parses to the law's closed form: uniform vs
    per-sample stsz (3|d), one- vs two-run stts (parity), stco vs co64
    (4|d), across faststart/streaming and v0/v1 container shapes."""
    for d in range(0, 61):
        ns, tb, nc, br = M.parse_mp4_samples(M._make_mp4(d))
        n = 8 + d % 5
        if d % 3 == 0:
            want_tb = n * (200 + d % 50)
        else:
            want_tb = sum(100 + 10 * ((d + i) % 7) for i in range(n))
        dur_ms = 500 * (1 + d % 8)
        assert ns == n, d
        assert tb == want_tb, d
        assert nc == 1 + d % 3, d
        assert br == want_tb * 8000 // dur_ms, d


def test_mp4_sample_parser_rejects_table_malformations():
    base = bytearray(M._make_mp4(7))  # per-sample stsz, two-run stts, stco
    # corrupt the stts run count so run totals mismatch stsz
    at = bytes(base).find(b"stts")
    with pytest.raises(ValueError):
        mut = bytearray(base)
        mut[at + 4 + 4 + 3] += 1  # bump first run's sample count
        M.parse_mp4_samples(bytes(mut))
    # stsz sample count zero
    at = bytes(base).find(b"stsz")
    with pytest.raises(ValueError):
        mut = bytearray(base)
        mut[at + 4 + 8 : at + 4 + 12] = b"\x00\x00\x00\x00"
        M.parse_mp4_samples(bytes(mut))
    # audio-only file (no video trak): build from a doc with audio then
    # strip the video track's hdlr marker
    with pytest.raises(ValueError):
        M.parse_mp4_samples(bytes(base).replace(b"vide", b"xxxx"))


def test_mp4_sample_parser_total_on_arbitrary_and_mutated_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_mp4(12)  # uniform stsz (12%3==0), co64 (12%4==0), v0

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def arbitrary(raw):
        try:
            M.parse_mp4_samples(raw)
        except ValueError:
            pass

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def mutated(pos, byte, cut):
        mut = bytearray(base)
        mut[pos] = byte
        try:
            M.parse_mp4_samples(bytes(mut[:cut]))
        except ValueError:
            pass

    arbitrary()
    mutated()


def test_mp4_sample_stats_flags_bad_rows(spark):
    import pyspark.sql.functions as F

    docs = spark.range(8).selectExpr("id AS doc_id")
    media = M.synthesize_mp4_table(docs).withColumn(
        "media",
        F.when(F.col("doc_id") == 3, F.lit(b"\x00\x01garbage")).otherwise(
            F.col("media")
        ),
    )
    rows = {r.doc_id: r for r in M.mp4_sample_stats(media).collect()}
    assert not rows[3].ok and rows[3].n_samples == 0
    ok_rows = [r for d, r in rows.items() if d != 3]
    assert all(r.ok and r.n_samples >= 8 and r.avg_bitrate_bps > 0 for r in ok_rows)


def test_mp4_sample_parser_rejects_duplicate_sibling_tables():
    base = M._make_mp4(7)  # per-sample stsz, stco
    # duplicate the stsz box inside the stbl: locate stbl, append a
    # second copy of its stsz child, and re-frame every ancestor box
    import struct

    def find_box(data, start, end, fourcc):
        for typ, s, e in M._mp4_children(data, start, end):
            if typ == fourcc:
                return s, e
        raise AssertionError(fourcc)

    tops = list(M._mp4_children(base, 0, len(base)))
    ms, me = next((s, e) for t, s, e in tops if t == b"moov")
    # walking down: moov -> trak(video first) -> mdia -> minf -> stbl
    ts, te = find_box(base, ms, me, b"trak")
    ds, de = find_box(base, ts, te, b"mdia")
    fs, fe = find_box(base, ds, de, b"minf")
    ss, se = find_box(base, fs, fe, b"stbl")
    zs, ze = find_box(base, ss, se, b"stsz")
    stsz_whole = base[zs - 8 : ze]  # include header
    insert_at = se
    mutated = bytearray(base)
    mutated[insert_at:insert_at] = stsz_whole
    # grow every enclosing box length (stbl, minf, mdia, trak, moov)
    grow = len(stsz_whole)
    for payload_start in (ss, fs, ds, ts, ms):
        hdr = payload_start - 8
        size = struct.unpack_from(">I", mutated, hdr)[0]
        struct.pack_into(">I", mutated, hdr, size + grow)
    with pytest.raises(ValueError, match="duplicate stsz"):
        M.parse_mp4_samples(bytes(mutated))


# ---------------------------------------------------------------------------
# WebP (round 10): RIFF container walk + VP8/VP8L/VP8X header parses
# ---------------------------------------------------------------------------


def test_webp_roundtrip_law():
    # one doc per sub-format; fields must match the generation law
    for doc_id, want in (
        (3, (160 + 3, 120 + 3, "VP8", False, False, 1)),
        (7, (1 + 7, 1 + 7, "VP8L", True, True, 1)),
        (10, (1 + 10, 1 + 10, "VP8L", True, False, 1)),
        (5, (640 + 5, 480 + 5, "VP8X", False, True, 3)),
        (8, (640 + 8, 480 + 8, "VP8X", False, False, 3)),
    ):
        got = M.parse_webp(M._make_webp(doc_id))
        assert got == want, (doc_id, got, want)


def test_webp_vp8x_lossless_flag_tracks_inner_vp8l():
    # a VP8X container whose image chunk is VP8L must report lossless
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    vp8x = bytes([0x10]) + b"\x00\x00\x00" + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
    bits = 99 | (49 << 14) | (1 << 28)
    payload = chunk(b"VP8X", vp8x) + chunk(b"VP8L", b"\x2f" + struct.pack("<I", bits))
    data = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload
    assert M.parse_webp(data) == (100, 50, "VP8X", True, True, 2)


@pytest.mark.parametrize(
    "raw",
    [
        b"",
        b"RIFF\x04\x00\x00\x00WAVE",                      # wrong form type
        b"RIFF\x20\x00\x00\x00WEBP",                      # no image chunk
        M._make_webp(0)[:20],                             # truncated chunk
        # bad VP8 start code
        b"RIFF\x16\x00\x00\x00WEBPVP8 \x0a\x00\x00\x00" + b"\x10\x00\x00\x00\x01\x2a\x00\x00\x00\x00",
        # bad VP8L signature byte
        b"RIFF\x11\x00\x00\x00WEBPVP8L\x05\x00\x00\x00" + b"\x2e\x00\x00\x00\x00" + b"\x00",
        # nonzero VP8L version bits
        b"RIFF\x11\x00\x00\x00WEBPVP8L\x05\x00\x00\x00" + b"\x2f\x00\x00\x00\xe0" + b"\x00",
    ],
)
def test_webp_rejects_malformed(raw):
    with pytest.raises(ValueError):
        M.parse_webp(raw)


def test_webp_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def run(raw):
        try:
            M.parse_webp(raw)
        except ValueError:
            pass

    run()


def test_webp_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_webp(5)  # VP8X variant (most structure to corrupt)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M.parse_webp(raw)
        except ValueError:
            pass

    run()


def test_wav_window_features_reference_and_totality(spark):
    import numpy as np

    doc_id, win = 11, 64
    rows = [(doc_id, M._make_wav(doc_id)), (99, b"junk")]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {(r.doc_id, r.win_idx): r for r in M.wav_window_features(df, win=win).collect()}
    # python reference from the law
    n = 200 + doc_id % 57
    s = np.array([((doc_id * 7 + i * 13) % 4096) - 2048 for i in range(n)], dtype="int64")
    for wi in range(0, (n + win - 1) // win):
        seg = s[wi * win : (wi + 1) * win]
        r = got[(doc_id, wi)]
        assert r.n_frames == seg.size
        assert r.sum_amp == int(seg.sum())
        assert r.sum_sq_amp == int((seg * seg).sum())
        nn = seg >= 0
        assert r.n_zero_cross == int((nn[1:] != nn[:-1]).sum())
        assert r.ok
    assert got[(99, -1)].ok is False


def test_image_dhash_reference_and_properties(spark):
    import numpy as np

    # python reference straight from the operator contract
    def ref_dhash(doc_id):
        w, h = 1 + doc_id % 13, 1 + doc_id % 7
        gray = np.zeros((h, w), dtype="int64")
        for y in range(h):
            for x in range(w):
                k0 = (y * w + x) * 3
                gray[y, x] = (
                    (doc_id + k0) % 251 + (doc_id + k0 + 1) % 251 + (doc_id + k0 + 2) % 251
                ) // 3
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(9) * w) // 9
        small = gray[np.ix_(ys, xs)]
        bits = (small[:, :8] < small[:, 1:]).astype(np.uint8)
        return int.from_bytes(np.packbits(bits.reshape(-1)).tobytes(), "big", signed=True)

    ids = [0, 7, 13, 91, 250]
    rows = [(d, M._make_bmp(d)) for d in ids] + [(999, b"nope")]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r.doc_id: r for r in M.image_dhash(df).collect()}
    for d in ids:
        assert got[d].dhash == ref_dhash(d), d
        assert got[d].ok
    assert not got[999].ok
    # identical pixel content (same dims + same byte law) hashes equal:
    # doc_ids congruent mod lcm(13,7)=91 AND mod 251 share pixels only
    # if equal, so instead check determinism on a duplicate payload
    dup = spark.createDataFrame(
        [(1, M._make_bmp(42)), (2, M._make_bmp(42))], "doc_id long, media binary"
    )
    hs = [r.dhash for r in M.image_dhash(dup).collect()]
    assert hs[0] == hs[1]


def test_image_dup_groups_pairs_are_components(spark):
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_pairs
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    # even/odd partners of the group law must land in one component
    ids = list(range(8))
    df = spark.createDataFrame(
        [(d, M._make_bmp_group(d)) for d in ids], "doc_id long, media binary"
    )
    fps = M.image_dhash(df).select("doc_id", "dhash")
    pairs = hamming_near_dup_pairs(fps, "doc_id", "dhash", bits=64)
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    for m in range(0, 8, 2):
        assert (m, m + 1) in got_pairs, f"constructed pair ({m},{m+1}) missing"
    from pyspark.sql import functions as SF

    labels, _ = connected_components_stars(
        pairs.select(SF.col("id_a").alias("src"), SF.col("id_b").alias("dst"))
    )
    lab = {r.node: r.cluster_id for r in labels.collect()}
    for m in range(0, 8, 2):
        assert lab.get(m, m) == lab.get(m + 1, m + 1)


# ---------------------------------------------------------------------------
# PDF (round 11): xref walk + object parser + FlateDecode + text ops
# ---------------------------------------------------------------------------


def test_pdf_roundtrip_law():
    """Writer and parser agree with the closed-form generation law
    across every structural variant (flate/raw, direct/indirect
    /Length, Tj vs TJ pages, single vs split /Contents)."""
    for doc_id in range(90):
        n_pages, texts = M._parse_pdf(M._make_pdf(doc_id))
        assert n_pages == 1 + doc_id % 3
        expected = [
            " ".join(M._pdf_page_words(doc_id, p)) for p in range(n_pages)
        ]
        assert texts == expected


def test_pdf_escapes_and_structure_coverage():
    """The fixture family really exercises the hard paths: escaped
    parens in string literals, indirect /Length, array /Contents."""
    # doc 0: flate + indirect length + split contents (0%2==0%3==0%5==0)
    raw0 = M._make_pdf(0)
    assert b"/FlateDecode" in raw0 and b"0 R >>\nstream" in raw0
    # doc 7: raw stream (7%2=1) with literal parens word at (7+p+i)%7==0
    raw7 = M._make_pdf(7)
    assert b"\\(" in raw7 and b"\\)" in raw7 and b"/FlateDecode" not in raw7
    n_pages, texts = M._parse_pdf(raw7)
    assert any("(" in t for t in texts)
    # doc 5: split /Contents array (5%5==0)
    raw5 = M._make_pdf(5)
    assert b"/Contents [" in raw5


def test_pdf_string_escape_set():
    """Full PDF 32000-1 §7.3.4.2 escape handling, independent of the
    fixture law: named escapes, octal (1-3 digits), line
    continuation, balanced nested parens, unknown-escape literal."""
    lx = M._PdfLexer(b"a\\n\\t\\(x\\)\\\\ \\101\\60(nested (p) q)\\\r\nz)", 0)
    assert lx.read_string() == b"a\n\t(x)\\ A0(nested (p) q)z"


def test_pdf_parser_total_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=300))
    def run(raw):
        try:
            M._parse_pdf(raw)
        except (ValueError, IndexError, TypeError, RecursionError):
            pass

    run()


def test_pdf_parser_total_on_mutated_valid_payloads():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = M._make_pdf(0)  # flate + indirect len + split contents

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=len(base)),
    )
    def run(pos, byte, cut):
        mutated = bytearray(base)
        mutated[pos] = byte
        raw = bytes(mutated[:cut])
        try:
            M._parse_pdf(raw)
        except (ValueError, IndexError, TypeError, RecursionError):
            pass

    run()


def test_pdf_extract_text_flags_bad_rows(spark):
    import pandas as pd

    good = M._make_pdf(3)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "media": [good, b"%PDF-1.4 garbage", None],
            }
        )
    )
    rows = {r["doc_id"]: r for r in M.pdf_extract_text(df).collect()}
    assert rows[1]["ok"] and rows[1]["n_pages"] == 1 + 3 % 3
    assert not rows[2]["ok"] and rows[2]["text"] == ""
    assert not rows[3]["ok"]


# ---------------------------------------------------------------------------
# Audio fingerprint (round 11): segment-energy dHash on channel-0 PCM
# ---------------------------------------------------------------------------


def _ref_audio_fp(doc_id: int) -> int:
    """Independent pure-python replay of the fingerprint over the
    variant-pair generation law."""
    base = doc_id - doc_id % 2
    n = 200 + base % 57
    s = [((base * 7 + i * 13) % 4096) - 2048 for i in range(n)]
    if doc_id % 2:
        s[0] = ((base * 7 + 500) % 4096) - 2048
    e = []
    for t in range(65):
        lo, hi = t * n // 65, (t + 1) * n // 65
        e.append(sum(x * x for x in s[lo:hi]))
    v = 0
    for p in range(64):
        v = (v << 1) | (1 if e[p] < e[p + 1] else 0)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_audio_fingerprint_reference_and_pair_law(spark):
    import pandas as pd

    ids = list(range(24))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "media": [M._make_wav_variant(i) for i in ids]})
    )
    rows = {r["doc_id"]: r for r in M.audio_fingerprint(df).collect()}
    for i in ids:
        assert rows[i]["ok"]
        assert rows[i]["afp"] == _ref_audio_fp(i), i
    # constructed (even, odd) pairs sit within Hamming 1 by law
    for m in range(0, 24, 2):
        h = bin((rows[m]["afp"] ^ rows[m + 1]["afp"]) & ((1 << 64) - 1)).count("1")
        assert h <= 1, (m, h)


def test_audio_fingerprint_total_on_bad_payloads(spark):
    import pandas as pd
    import struct

    # a valid RIFF/WAVE that is TOO SHORT for 65 segments
    frames = b"".join(struct.pack("<h", 100) for _ in range(10))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    short = (
        b"RIFF" + struct.pack("<I", 28 + len(frames)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(frames)) + frames
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "media": [b"not a wav", short, None]}
        )
    )
    rows = {r["doc_id"]: r for r in M.audio_fingerprint(df).collect()}
    assert not any(rows[i]["ok"] for i in (1, 2, 3))


# ---------------------------------------------------------------------------
# Totality across every one-row-per-payload op: garbage and NULL media
# ---------------------------------------------------------------------------

_PAYLOAD_OPS = [
    ("decode_wav", M._make_wav, "audio/wav"),
    ("bmp_pixel_stats", M._make_bmp, "image/bmp"),
    ("png_pixel_stats", M._make_png, "image/png"),
    ("gif_pixel_stats", M._make_gif, "image/gif"),
    ("jpeg_pixel_stats", M._make_jpeg, "image/jpeg"),
    ("mp4_container_meta", M._make_mp4, "video/mp4"),
    ("mp4_sample_stats", M._make_mp4, "video/mp4"),
    ("webp_container_meta", M._make_webp, "image/webp"),
    ("image_dhash", M._make_bmp, "image/bmp"),
    ("pdf_extract_text", M._make_pdf, "application/pdf"),
    ("audio_fingerprint", M._make_wav, "audio/wav"),
    ("decode_media", M._make_bmp, "image/bmp"),
]


@pytest.mark.parametrize("op,writer,media_type", _PAYLOAD_OPS, ids=[c[0] for c in _PAYLOAD_OPS])
def test_payload_op_total_on_garbage_and_null_media(spark, op, writer, media_type):
    """A corrupt payload and a NULL media cell both yield ok=false with
    every non-key field at its schema zero — never a killed stage."""
    rows = [(0, writer(3), media_type), (1, b"garbage", media_type), (2, None, media_type)]
    df = spark.createDataFrame(rows, "doc_id long, media binary, media_type string")
    out = getattr(M, op)(df)
    got = sorted(out.collect(), key=lambda r: r.doc_id)
    assert [r.ok for r in got] == [True, False, False]
    zero = {"string": "", "boolean": False, "double": 0.0}
    for r in got[1:]:
        for f in out.schema.fields[1:]:
            assert r[f.name] == zero.get(f.dataType.simpleString(), 0), (op, f.name)
