"""Multimodal-column queries (north-star set).

The media table derives from documents (utf-8 bytes as payload), so
the DuckDB oracle can replay metadata and frame hashing on the text
side: the corpus is ASCII, hence text chars == payload bytes and
``md5(VARCHAR)`` hashes the same byte stream Spark's binary md5 sees.
The decode/feature queries are genuinely non-SQL (Arrow-batched
Python) — registered without an oracle, so the driver records the
weaker rows-only check for exactly those, as the contract intends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import multimodal as M
from spk_sl_validation_spark.plans.registry import register
# Every builder in this module feeds a per-row-EXPENSIVE codec chain
# (encode + full decode per doc_id); the spread variant repartitions a
# tiny unsplittable scan so those chains use every core (guide §2.5).
from spk_sl_validation_spark.sources.readers import load_table_spread as load_table


@register(
    "multimodal_meta",
    doc="binary media column + JVM-side metadata: byte length, content md5, magic prefix",
    oracle=f"""
SELECT doc_id,
       '{M.FAKE_MEDIA_TYPE}' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       upper(hex(encode(substring(text, 1, 4)))) AS magic_hex
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.media_meta(M.as_media_table(docs))


@register(
    "multimodal_frame_sample",
    doc=(
        f"frame sampling: {M.FRAME_SIZE}-byte windows every {M.FRAME_STRIDE} bytes "
        "via mapInPandas (1→N rows)"
    ),
    oracle=f"""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, (octet_length(encode(text)) + {M.FRAME_STRIDE} - 1) // {M.FRAME_STRIDE})) AS i
  FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       md5(substring(text, 1 + i * {M.FRAME_STRIDE}, {M.FRAME_SIZE})) AS frame_md5
FROM f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.sample_frames(M.as_media_table(docs))


@register(
    "multimodal_decode",
    doc="media decode via mapInPandas decoder registry (deterministic fake codec; real codecs stubbed)",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST(list_reduce(list_prepend(0, list_transform(range(1, least(octet_length(encode(text)), 64) + 1),
                i -> ord(substring(text, i, 1)))), (x, y) -> x + y) % 480 + 1 AS INTEGER) AS height,
       3 AS channels,
       true AS ok
FROM documents
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_media(M.as_media_table(docs))


@register(
    "multimodal_resize",
    doc=f"media resize (keep every {M.RESIZE_FACTOR}th byte) via mapInPandas; sizes + content md5 verified",
    oracle=f"""
WITH resized AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes_in,
         array_to_string(list_transform(
           range(1, octet_length(encode(text)) + 1, {M.RESIZE_FACTOR}),
           i -> substring(text, i, 1)), '') AS small
  FROM documents
)
SELECT doc_id,
       CAST(n_bytes_in AS INTEGER) AS n_bytes_in,
       CAST(octet_length(encode(small)) AS INTEGER) AS n_bytes_out,
       md5(small) AS resized_md5
FROM resized
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.resize_media(M.as_media_table(docs))


@register(
    "multimodal_features",
    doc=(
        "Arrow-batched feature extraction: 16-bin byte-count histogram pandas_udf, "
        "integer-exact and JSON-serialized so the vector hash-matches the oracle"
    ),
    oracle="""
WITH hx AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
-- byte-true iteration: the i-th byte's high nibble IS its 16-bin
-- histogram bin, read straight from the hex encoding — no
-- character-based substring/ord, so multi-byte UTF-8 text bins
-- identically to the Spark side's raw encoded bytes
chars AS (
  SELECT doc_id, strpos('0123456789ABCDEF', substring(h, i, 1)) - 1 AS bin
  FROM (SELECT doc_id, h, unnest(range(1, length(h) + 1, 2)) AS i FROM hx)
),
b AS (SELECT doc_id, bin, CAST(count(*) AS BIGINT) AS c FROM chars GROUP BY doc_id, bin),
grid AS (
  SELECT d.doc_id, g.i AS bin
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
),
filled AS (
  SELECT grid.doc_id, grid.bin, coalesce(b.c, 0) AS c
  FROM grid LEFT JOIN b ON grid.doc_id = b.doc_id AND grid.bin = b.bin
)
SELECT doc_id, CAST(to_json(list(c ORDER BY bin)) AS VARCHAR) AS features
FROM filled GROUP BY doc_id
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.as_media_table(docs)
    return media.select(
        "doc_id", F.to_json(M.byte_histogram_counts(F.col("media"))).alias("features")
    )


@register(
    "multimodal_wav_stats",
    doc=(
        "REAL stdlib WAV codec end-to-end: synthesize RIFF/WAVE binaries "
        "(LIST chunk before data — fixed-offset parsers break), decode via "
        "generic chunk walk + PCM16, integer-exact amplitude stats; oracle "
        "recomputes every stat from the generation law in closed form"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id,
         8000 * (1 + doc_id % 3) AS sample_rate,
         1 + doc_id % 2 AS channels,
         200 + doc_id % 57 AS n_frames
  FROM documents
),
v AS (
  SELECT doc_id, channels, unnest(range(0, n_frames)) AS i FROM d
),
agg AS (
  -- frame i holds `channels` copies of s(i) = ((doc_id*7 + i*13) % 4096) - 2048
  -- interleaved-stream index weight: sum_c (i*channels + c) = i*c^2 + c(c-1)/2
  SELECT doc_id,
         SUM((((doc_id * 7 + i * 13) % 4096) - 2048) * channels) AS sum_amp,
         SUM(abs(((doc_id * 7 + i * 13) % 4096) - 2048) * channels) AS sum_abs_amp,
         SUM((((doc_id * 7 + i * 13) % 4096) - 2048)
             * (i * channels * channels + (channels * (channels - 1)) // 2)) AS wsum_amp
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.sample_rate AS INTEGER) AS sample_rate,
       CAST(d.channels AS INTEGER) AS channels,
       CAST(16 AS INTEGER) AS bits_per_sample,
       CAST(d.n_frames AS BIGINT) AS n_frames,
       CAST(d.n_frames AS DOUBLE) / d.sample_rate AS duration_s,
       CAST(agg.sum_amp AS BIGINT) AS sum_amp,
       CAST(agg.sum_abs_amp AS BIGINT) AS sum_abs_amp,
       CAST(agg.wsum_amp AS BIGINT) AS wsum_amp,
       true AS ok
FROM d JOIN agg ON d.doc_id = agg.doc_id
""",
)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.decode_wav(M.synthesize_wav_table(docs))


@register(
    "multimodal_bmp_pixel_stats",
    doc=(
        "REAL stdlib BMP codec end-to-end: synthesize 24bpp bottom-up BMPs "
        "with 0xAB row padding, decode header via the registry codec + full "
        "pixel array honoring stride/row order; the top-down index-weighted "
        "sum catches stride or row-order parsing bugs a plain sum cannot"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h FROM documents
),
v AS (
  SELECT doc_id, unnest(range(0, w * h * 3)) AS k FROM d
),
agg AS (
  SELECT doc_id,
         SUM((doc_id + k) % 251) AS pixel_sum,
         SUM(k * ((doc_id + k) % 251)) AS pixel_wsum
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(agg.pixel_sum AS BIGINT) AS pixel_sum,
       CAST(agg.pixel_wsum AS BIGINT) AS pixel_wsum,
       true AS ok
FROM d JOIN agg ON d.doc_id = agg.doc_id
""",
)
def multimodal_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.bmp_pixel_stats(M.synthesize_bmp_table(docs))


@register(
    "multimodal_png_pixel_stats",
    doc=(
        "REAL stdlib PNG codec end-to-end: synthesize 8-bit gray/RGB/RGBA "
        "PNGs whose rows cycle through all five scanline filters and whose "
        "deflate stream is split across two IDATs behind a tEXt chunk, then "
        "decode via CRC-checked chunk walk + zlib inflate + per-row "
        "unfilter; the top-down index-weighted pixel sum catches any "
        "unfilter, row-order, or IDAT-concatenation bug, and the oracle "
        "recomputes every stat from the generation law in closed form"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id,
         1 + doc_id % 11 AS w,
         1 + doc_id % 5 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
  FROM documents
),
v AS (
  SELECT doc_id, unnest(range(0, w * h * ch)) AS k FROM d
),
agg AS (
  SELECT doc_id,
         SUM((doc_id * 3 + k) % 249) AS pixel_sum,
         SUM(k * ((doc_id * 3 + k) % 249)) AS pixel_wsum
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(d.ch AS INTEGER) AS channels,
       CAST(agg.pixel_sum AS BIGINT) AS pixel_sum,
       CAST(agg.pixel_wsum AS BIGINT) AS pixel_wsum,
       true AS ok
FROM d JOIN agg ON d.doc_id = agg.doc_id
""",
)
def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.png_pixel_stats(M.synthesize_png_table(docs))


@register(
    "multimodal_gif_pixel_stats",
    doc=(
        "REAL stdlib GIF codec end-to-end: synthesize GIF89a payloads "
        "(16-color global table, comment extension ahead of the image, "
        "REAL variable-width LZW compression with width promotion and "
        "4096-entry clear-reset), decode via the extension-skipping block "
        "walk + general LZW decoder (KwKwK handled), expand indices through "
        "the color table; the index-weighted RGB sum catches any LZW, "
        "palette, or row-order bug, and the oracle recomputes every stat "
        "from the generation law in closed form"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, 1 + doc_id % 9 AS w, 1 + doc_id % 6 AS h
  FROM documents
),
v AS (
  SELECT doc_id, unnest(range(0, w * h * 3)) AS m FROM d
),
agg AS (
  SELECT doc_id,
         SUM((doc_id + ((doc_id + m // 3) % 16) * 7 + (m % 3) * 31) % 251) AS pixel_sum,
         SUM(m * ((doc_id + ((doc_id + m // 3) % 16) * 7 + (m % 3) * 31) % 251)) AS pixel_wsum
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(agg.pixel_sum AS BIGINT) AS pixel_sum,
       CAST(agg.pixel_wsum AS BIGINT) AS pixel_wsum,
       true AS ok
FROM d JOIN agg ON d.doc_id = agg.doc_id
""",
)
def multimodal_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.gif_pixel_stats(M.synthesize_gif_table(docs))


@register(
    "multimodal_jpeg_pixel_stats",
    headline=True,
    doc=(
        "REAL baseline-JPEG codec end-to-end: synthesize 3-component "
        "YCbCr 4:4:4 JPEGs whose constant even-gray 8x8 blocks are BIT-EXACT "
        "through the 16-step flat quantizer (DC-only spectra — lossless "
        "through a lossy codec, so the oracle stays closed-form), decode via "
        "the general marker walk + DHT-read canonical Huffman + DC "
        "prediction + inverse zigzag + dequant + separable IDCT + YCbCr "
        "conversion; the index-weighted RGB sum catches any Huffman, "
        "prediction, zigzag, or IDCT bug"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
  FROM documents
),
v AS (
  SELECT doc_id, w, unnest(range(0, w * h * 3)) AS m FROM d
),
g AS (
  SELECT doc_id, m,
         2 * ((doc_id * 7 + ((m // 3) // w // 8) * 13
               + (((m // 3) % w) // 8) * 31) % 128) AS val
  FROM v
),
agg AS (
  SELECT doc_id, SUM(val) AS pixel_sum, SUM(m * val) AS pixel_wsum
  FROM g GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(agg.pixel_sum AS BIGINT) AS pixel_sum,
       CAST(agg.pixel_wsum AS BIGINT) AS pixel_wsum,
       true AS ok
FROM d JOIN agg ON d.doc_id = agg.doc_id
""",
)
def multimodal_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.jpeg_pixel_stats(M.synthesize_jpeg_table(docs))


@register(
    "multimodal_mp4_meta",
    headline=True,
    doc=(
        "REAL stdlib ISO BMFF (MP4) container-metadata parse: synthesize "
        "structurally varied mp4 payloads (faststart vs streaming box "
        "order, v0/v1 mvhd+tkhd, 600 vs 1000 timescale, 64-bit largesize "
        "mdat, interleaved free box, optional mp4a audio track), then walk "
        "boxes generically — ftyp/moov/trak/tkhd(16.16 dims)/mvhd(duration "
        "via timescale)/hdlr(vide)/stsd(codec fourcc) — as a zero-exchange "
        "Arrow-batched pure map; frame decode stays the honest ffmpeg stub. "
        "The oracle recomputes every parsed field from the generation law "
        "in closed form"
    ),
    oracle="""
SELECT doc_id,
       CAST(16 * (1 + doc_id % 5) AS INTEGER) AS width,
       CAST(16 * (1 + doc_id % 4) AS INTEGER) AS height,
       CAST(500 * (1 + doc_id % 8) AS BIGINT) AS duration_ms,
       CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks,
       CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1' ELSE 'vp09' END
         AS video_codec,
       true AS ok
FROM documents
""",
)
def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.mp4_container_meta(M.synthesize_mp4_table(docs))


@register(
    "multimodal_mp4_sample_stats",
    doc=(
        "MP4 sample-table stats (round-9 law extension: the writer now "
        "emits real stts/stsz/stco tables in the video track): sample "
        "count, total sample bytes, chunk count, average bitrate — the "
        "pre-decode size/bitrate filters of a video corpus. The parser "
        "must genuinely walk variants: uniform vs per-sample stsz, one- "
        "vs two-run stts (cross-checked against the stsz count), 32-bit "
        "stco vs 64-bit co64. Zero-exchange Arrow-batched pure map; the "
        "oracle recomputes every stat from the generation law"
    ),
    oracle="""
WITH p AS (
  SELECT doc_id,
         CAST(8 + doc_id % 5 AS INTEGER) AS n,
         CAST(500 * (1 + doc_id % 8) AS BIGINT) AS dur_ms,
         CAST(1 + doc_id % 3 AS INTEGER) AS n_chunks
  FROM documents
), tot AS (
  SELECT p.doc_id,
         CASE WHEN p.doc_id % 3 = 0
              THEN p.n * (200 + p.doc_id % 50)
              ELSE (SELECT SUM(100 + 10 * ((p.doc_id + g.i) % 7))
                    FROM range(0, 12) g(i) WHERE g.i < p.n)
         END AS total_bytes
  FROM p
)
SELECT p.doc_id,
       p.n AS n_samples,
       CAST(t.total_bytes AS BIGINT) AS total_sample_bytes,
       p.n_chunks,
       CAST(t.total_bytes * 8000 // p.dur_ms AS BIGINT) AS avg_bitrate_bps,
       true AS ok
FROM p JOIN tot t ON p.doc_id = t.doc_id
""",
)
def multimodal_mp4_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.mp4_sample_stats(M.synthesize_mp4_table(docs))


@register(
    "multimodal_webp_meta",
    doc=(
        "REAL WebP container-metadata parse (RFC 9649 container + "
        "lossless header, RFC 6386 lossy keyframe header): the RIFF "
        "chunk walk shared in discipline with the WAV codec, then "
        "VP8X (canvas dims + alpha flag, lossless iff a VP8L chunk is "
        "present) / VP8L (14-bit dims + alpha bit + version check) / "
        "VP8 (start-code check + 14-bit dims) — zero-exchange "
        "Arrow-batched pure map, fuzz-total (ok=false, never a stage "
        "kill). The fixture varies all three sub-formats plus an "
        "odd-size EXIF noise chunk (word-alignment exercise); the "
        "oracle recomputes every field from the generation law"
    ),
    oracle="""
SELECT doc_id,
       CAST(CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN 160 + doc_id % 50
         WHEN 1 THEN 1 + doc_id % 300
         ELSE 640 + doc_id % 100 END AS INTEGER) AS width,
       CAST(CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN 120 + doc_id % 40
         WHEN 1 THEN 1 + doc_id % 200
         ELSE 480 + doc_id % 80 END AS INTEGER) AS height,
       CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' ELSE 'VP8X' END AS format,
       doc_id % 3 = 1 AS lossless,
       doc_id % 3 >= 1 AND doc_id % 2 = 1 AS has_alpha,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 1 END AS INTEGER) AS n_chunks,
       true AS ok
FROM documents
""",
)
def multimodal_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.webp_container_meta(M.synthesize_webp_table(docs))


@register(
    "multimodal_wav_windows",
    doc=(
        "windowed audio features over decoded PCM (channel 0): per "
        "64-frame window the integer-exact amplitude sum, energy "
        "(sum of squares), and zero-crossing count — the silence/"
        "clipping/energy gates an audio corpus applies before paying "
        "for transcription. Arrow-batched numpy over the real RIFF "
        "parse; the oracle replays every window stat from the PCM "
        "generation law in closed-form integer arithmetic"
    ),
    oracle="""
WITH f AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS i,
         ((doc_id * 7 + g.i * 13) % 4096) - 2048 AS s
  FROM documents
  JOIN range(0, 257) g(i) ON g.i < 200 + doc_id % 57
),
w AS (
  SELECT doc_id, i, s, CAST(i // 64 AS INTEGER) AS win_idx,
         lag(s) OVER (PARTITION BY doc_id, i // 64 ORDER BY i) AS prev
  FROM f
)
SELECT doc_id, win_idx,
       CAST(count(*) AS INTEGER) AS n_frames,
       CAST(sum(s) AS BIGINT) AS sum_amp,
       CAST(sum(s * s) AS BIGINT) AS sum_sq_amp,
       CAST(count(*) FILTER (WHERE prev IS NOT NULL
                             AND (s >= 0) <> (prev >= 0)) AS INTEGER)
         AS n_zero_cross,
       true AS ok
FROM w GROUP BY doc_id, win_idx
""",
)
def multimodal_wav_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.wav_window_features(M.synthesize_wav_table(docs))


@register(
    "multimodal_image_dhash",
    doc=(
        "perceptual image fingerprint (dHash) over the real BMP "
        "decode: 9x8 nearest-sample grayscale grid, one bit per "
        "horizontal neighbor comparison, packed big-endian into a "
        "SIGNED int64 (p=0 is the MSB) - the 8-byte near-dup key an "
        "image corpus groups/Hamming-matches on before any embedding "
        "model runs. The oracle replays grid sampling, integer gray, "
        "every comparison bit, and the two's-complement packing from "
        "the BMP pixel law (HUGEINT-safe bit assembly)"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h FROM documents
),
g AS (
  SELECT doc_id, w, h, gi.i AS i, gj.j AS j,
         ((gi.i * h // 8) * w + (gj.j * w // 9)) * 3 AS k0
  FROM d, range(0, 8) gi(i), range(0, 9) gj(j)
),
gray AS (
  SELECT doc_id, i, j,
         (((doc_id + k0) % 251) + ((doc_id + k0 + 1) % 251)
          + ((doc_id + k0 + 2) % 251)) // 3 AS gv
  FROM g
),
bits AS (
  SELECT a.doc_id, a.i, a.j, CAST(a.gv < b.gv AS BIGINT) AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
  WHERE a.j < 8
)
SELECT bits.doc_id,
       CAST(1 + bits.doc_id % 13 AS INTEGER) AS width,
       CAST(1 + bits.doc_id % 7 AS INTEGER) AS height,
       CAST(sum(CASE WHEN i = 0 AND j = 0
                     THEN CAST(-9223372036854775808 AS HUGEINT) * bit
                     ELSE CAST(bit << (63 - (i * 8 + j)) AS HUGEINT) END)
            AS BIGINT) AS dhash,
       true AS ok
FROM bits GROUP BY bits.doc_id
""",
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.image_dhash(M.synthesize_bmp_table(docs))


@register(
    "multimodal_image_near_dup",
    doc=(
        "image near-duplicate pairs: dHash fingerprints through the "
        "GENERIC banded Hamming join (pigeonhole: max_hamming+1 "
        "bit-bands, any pair within Hamming k agrees exactly on >= 1 "
        "band - a lossless per-band equi-join + exact popcount "
        "filter, never an O(n^2) scan). Fixture pairs each even image "
        "with an odd variant whose pixel (0,0) is perturbed; the "
        "oracle computes every dhash from the modified law and runs "
        "the full quadratic scan the banding must reproduce exactly"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id - (doc_id % 2) AS base,
         1 + (doc_id - (doc_id % 2)) % 13 AS w,
         1 + (doc_id - (doc_id % 2)) % 7 AS h,
         doc_id % 2 = 1 AS odd
  FROM documents
),
g AS (
  SELECT doc_id, base, odd, gi.i AS i, gj.j AS j,
         (gi.i * h // 8) AS y, (gj.j * w // 9) AS x,
         ((gi.i * h // 8) * w + (gj.j * w // 9)) * 3 AS k0
  FROM d, range(0, 8) gi(i), range(0, 9) gj(j)
),
gray AS (
  SELECT doc_id, i, j,
         CASE WHEN odd AND y = 0 AND x = 0
              THEN (((base + k0 + 100) % 251) + ((base + k0 + 101) % 251)
                    + ((base + k0 + 102) % 251)) // 3
              ELSE (((base + k0) % 251) + ((base + k0 + 1) % 251)
                    + ((base + k0 + 2) % 251)) // 3 END AS gv
  FROM g
),
bits AS (
  SELECT a.doc_id, a.i, a.j, CAST(a.gv < b.gv AS BIGINT) AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
  WHERE a.j < 8
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN i = 0 AND j = 0
                       THEN CAST(-9223372036854775808 AS HUGEINT) * bit
                       ELSE CAST(bit << (63 - (i * 8 + j)) AS HUGEINT) END)
              AS BIGINT) AS dhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
""",
)
def multimodal_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fps = M.image_dhash(M.synthesize_bmp_variant_table(docs)).select("doc_id", "dhash")
    pairs = hamming_near_dup_pairs(fps, "doc_id", "dhash", bits=64)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "multimodal_image_dup_groups",
    doc=(
        "image duplicate GROUPS: dHash near-dup pairs (the banded "
        "Hamming join above) fed into until-converged large-star/"
        "small-star connected components, singletons folded back, "
        "per-group size attached - the canonical-selection view an "
        "image dedup actually keeps (keep cluster_id == doc_id). Own "
        "HIGHER-ENTROPY image law (16..31 x 16..23, pix = (base*3 + "
        "k*7) % 247): the tiny stats-law images collide so densely "
        "that groups degenerate into mega-components whose "
        "transitive-closure oracle is quadratic; here components are "
        "(almost always) the constructed even/odd pairs. The oracle "
        "replays the pair law and labels components with a recursive "
        "min-reachable-id CTE"
    ),
    oracle="""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id - (doc_id % 2) AS base,
         16 + (doc_id - (doc_id % 2)) % 16 AS w,
         16 + (doc_id - (doc_id % 2)) % 8 AS h,
         doc_id % 2 = 1 AS odd
  FROM documents
),
g AS (
  SELECT doc_id, base, odd, gi.i AS i, gj.j AS j,
         (gi.i * h // 8) AS y, (gj.j * w // 9) AS x,
         ((gi.i * h // 8) * w + (gj.j * w // 9)) * 3 AS k0
  FROM d, range(0, 8) gi(i), range(0, 9) gj(j)
),
gray AS (
  SELECT doc_id, i, j,
         CASE WHEN odd AND y = 0 AND x = 0
              THEN (((base * 3 + (k0 + 0) * 7 + 100) % 247)
                    + ((base * 3 + (k0 + 1) * 7 + 100) % 247)
                    + ((base * 3 + (k0 + 2) * 7 + 100) % 247)) // 3
              ELSE (((base * 3 + (k0 + 0) * 7) % 247)
                    + ((base * 3 + (k0 + 1) * 7) % 247)
                    + ((base * 3 + (k0 + 2) * 7) % 247)) // 3 END AS gv
  FROM g
),
bits AS (
  SELECT a.doc_id, a.i, a.j, CAST(a.gv < b.gv AS BIGINT) AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
  WHERE a.j < 8
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN i = 0 AND j = 0
                       THEN CAST(-9223372036854775808 AS HUGEINT) * bit
                       ELSE CAST(bit << (63 - (i * 8 + j)) AS HUGEINT) END)
              AS BIGINT) AS dhash
  FROM bits GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY cluster_id)
SELECT c.doc_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
       CAST(s.n AS BIGINT) AS cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM clusters c JOIN sizes s USING (cluster_id)
""",
)
def multimodal_image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_edges
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fps = M.image_dhash(M.synthesize_bmp_group_table(docs)).select("doc_id", "dhash")
    # Connectivity-preserving edges (star per exact-duplicate group +
    # representative-level near-dup pairs): identical CC labels to the
    # full pair relation, but an exact-copy image flood contributes
    # m−1 edges instead of m(m−1)/2 pairs.
    edges = hamming_near_dup_edges(fps, "doc_id", "dhash")
    labels, _rounds = connected_components_stars(edges.select("src", "dst"))
    # labels/sizes come off a localCheckpoint (stats-blind) — without
    # the hint the planner falls back to sort-merge; shuffle_hash is
    # the scale-safe shape (labels is corpus-node-sized, no broadcast)
    labeled = docs.join(
        labels.withColumnRenamed("node", "doc_id").hint("shuffle_hash"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("bigint").alias("cluster_id"),
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return labeled.join(sizes.hint("shuffle_hash"), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "multimodal_pdf_text",
    doc=(
        "PDF text extraction over synthesized REAL multi-object PDFs "
        "(header, xref table, trailer, pages tree, FlateDecode or raw "
        "content streams, indirect /Length, Tj and TJ shows, escaped "
        "parentheses, split /Contents arrays - ext/multimodal._make_pdf) "
        "via the real access path: startxref -> xref -> /Root -> pages "
        "tree -> content streams -> text operators. Arrow-batched pure "
        "map, zero exchanges. The oracle recomputes the generation-law "
        "text in closed form, byte-blind: page p of 1+doc_id%3 pages "
        "has 3+(doc_id+p)%5 words; word i is 'w'||((doc_id*7+p*31+"
        "i*13)%97), parenthesis-wrapped when (doc_id+p+i)%7=0; words "
        "joined by space, pages by newline"
    ),
    oracle="""
WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
words AS (
  SELECT d.doc_id, d.n_pages, pr.p, wr.i,
         (d.doc_id * 7 + pr.p * 31 + wr.i * 13) % 97 AS base
  FROM d, range(0, 3) pr(p), range(0, 8) wr(i)
  WHERE pr.p < d.n_pages AND wr.i < 3 + (d.doc_id + pr.p) % 5
),
w2 AS (
  SELECT doc_id, n_pages, p, i,
         CASE WHEN (doc_id + p + i) % 7 = 0
              THEN '(w' || base || ')' ELSE 'w' || base END AS word
  FROM words
),
pages AS (
  SELECT doc_id, n_pages, p, string_agg(word, ' ' ORDER BY i) AS page_text
  FROM w2 GROUP BY doc_id, n_pages, p
),
docs AS (
  SELECT doc_id, n_pages, string_agg(page_text, chr(10) ORDER BY p) AS text
  FROM pages GROUP BY doc_id, n_pages
)
SELECT doc_id, CAST(n_pages AS INTEGER) AS n_pages,
       CAST(length(text) AS INTEGER) AS n_chars, text, TRUE AS ok
FROM docs
""",
)
def multimodal_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.pdf_extract_text(M.synthesize_pdf_table(docs)).select(
        "doc_id", "n_pages", "n_chars", "text", "ok"
    )


@register(
    "multimodal_audio_near_dup",
    doc=(
        "audio near-dup pairs: 64-bit audio fingerprint (sign of "
        "neighbor segment-energy deltas over 65 equal nearest-sample "
        "segments of channel-0 PCM - the image-dHash idea on the "
        "time-energy grid, identical signed big-endian packing) over "
        "the REAL RIFF/WAVE parse, fed into the generic pre-collapsed "
        "banded Hamming join. Fixture law: odd ids replay their even "
        "partner's clip with frame 0 replaced - a segment-0-confined "
        "perturbation, so constructed pairs sit within Hamming 1. The "
        "oracle replays the PCM law, segment energies, every bit, the "
        "two's-complement packing, and the FULL quadratic scan the "
        "banding must reproduce exactly"
    ),
    oracle="""
WITH dd AS (
  SELECT doc_id, doc_id - (doc_id % 2) AS base,
         200 + (doc_id - (doc_id % 2)) % 57 AS n,
         doc_id % 2 = 1 AS odd
  FROM documents
),
s AS (
  SELECT doc_id, n, r.i AS i,
         CASE WHEN odd AND r.i = 0 THEN ((base * 7 + 500) % 4096) - 2048
              ELSE ((base * 7 + r.i * 13) % 4096) - 2048 END AS smp
  FROM dd, range(0, 257) r(i) WHERE r.i < n
),
seg AS (
  SELECT s.doc_id, t.t AS t, SUM(s.smp * s.smp) AS e
  FROM s, range(0, 65) t(t)
  WHERE s.i >= (t.t * s.n) // 65 AND s.i < ((t.t + 1) * s.n) // 65
  GROUP BY s.doc_id, t.t
),
bits AS (
  SELECT a.doc_id, a.t AS p, CAST(a.e < b.e AS BIGINT) AS bit
  FROM seg a JOIN seg b ON b.doc_id = a.doc_id AND b.t = a.t + 1
  WHERE a.t < 64
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN p = 0
                       THEN CAST(-9223372036854775808 AS HUGEINT) * bit
                       ELSE CAST(bit << (63 - p) AS HUGEINT) END)
              AS BIGINT) AS afp
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 2
""",
)
def multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fps = M.audio_fingerprint(M.synthesize_wav_variant_table(docs)).select(
        "doc_id", "afp"
    )
    pairs = hamming_near_dup_pairs(fps, "doc_id", "afp", bits=64)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )
