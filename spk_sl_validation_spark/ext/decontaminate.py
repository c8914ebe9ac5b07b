"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation/benchmark set.

Standard large-scale training-data hygiene (not in the reference —
`/root/reference` is batch ERP validation only; this extends the
north-star text-analysis set): any training document containing an
exact n-gram (n=8..13 in published pipelines) that also appears in a
benchmark document is flagged so it can be dropped or audited.

Scale design (100 TB corpus, ~10⁴–10⁶ benchmark docs):
- The benchmark n-gram set is tiny relative to the corpus → built
  once, deduplicated, and **broadcast**; the corpus side never
  shuffles for the join itself.
- Corpus shingling reuses :func:`~spk_sl_validation_spark.ext.hashing.
  shingle_rows` (posexplode + window-lead — fully codegen'd, one hash
  exchange by doc id), and that same exchange feeds the per-doc
  overlap count, so the whole check costs one shuffle over the corpus.
- For corpora where even distinct shingle *strings* are too wide,
  join on ``xxhash64(shingle)`` instead (64-bit, collision odds
  negligible at benchmark-set sizes); the contract query joins on the
  raw string so the DuckDB oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import shingle_rows


def benchmark_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-training-doc count of distinct word n-grams shared with the
    benchmark set.

    Returns ``(id_col, n_overlap, contaminated)`` — one row per train
    doc, ``n_overlap = |distinct n-grams(doc) ∩ n-grams(bench)|``,
    ``contaminated = n_overlap > 0``. Docs shorter than ``n`` tokens
    contribute one whole-doc shingle (shingle_rows semantics).
    """
    train_g = shingle_rows(train, id_col, text_col, n).distinct()
    bench_g = (
        shingle_rows(bench, id_col, text_col, n)
        .select("s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        train_g.join(F.broadcast(bench_g), "s", "left")
        .groupBy(id_col)
        .agg(F.count("__hit").alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )


def bloom_mask_row(bench_g: DataFrame, s_col: str = "s", m_bits: int = 8192) -> DataFrame:
    """1-row ``map<word_idx, word>`` Bloom bitmask over the distinct
    strings in ``bench_g[s_col]`` — the persistable filter artifact.
    Built IN-PLAN (lazy): per 64-bit word, ``sum(shiftleft(1, pos%64))``
    (positions distinct ⇒ the sum IS the bitwise OR); only non-zero
    words are stored, and the row rides a 1-row broadcast crossJoin
    (the house fan-in pattern), so m_bits scales to millions of bits
    where a plan-text literal would hit the codegen method limit."""
    from spk_sl_validation_spark.ext.sketches import bloom_positions

    words = (
        bloom_positions(bench_g, s_col, m_bits)
        .groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")).alias("v"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "v"))).alias("__mask")
    )


def bloom_bit_tests(m_bits: int, h_col: str = "__h", mask_col: str = "__mask") -> str:
    """SQL predicate string testing ``h_col`` against a crossJoined
    :func:`bloom_mask_row` column: one shiftright-&-1 bit test per
    position of ``sketches.bloom_pos_sql``, the positions the mask was
    built from. Arithmetic shift is bit-test-safe (the ``& 1`` reads
    only the lowest post-shift bit, sign fill never reaches it for
    shifts < 64); a missing word key yields NULL, which ``= 1``
    rejects."""
    from spk_sl_validation_spark.ext.sketches import bloom_pos_sql

    return " AND ".join(
        f"(shiftright(element_at({mask_col}, CAST(({pos}) / 64 AS INT)),"
        f" CAST(({pos}) % 64 AS INT)) & 1) = 1"
        for pos in bloom_pos_sql(h_col, m_bits)
    )


def benchmark_overlap_bloom(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 8192,
) -> DataFrame:
    """EXACTLY :func:`benchmark_overlap`'s output through a Bloom
    prefilter — the 100 TB shape when the benchmark n-gram STRING set
    is too wide to broadcast comfortably (published held-out suites
    reach 10⁶+ docs ⇒ multi-GB distinct-shingle relations; a Bloom of
    them is ``m_bits/8`` bytes, period).

    Three stages, all LAZY (constructing the plan runs no job):
    1. Bench shingle positions (``sketches.bloom_positions`` — the one
       shared Bloom hash-family convention) pack IN-PLAN into a
       sparse bitmask: per 64-bit word, ``sum(shiftleft(1, pos%64))``
       (positions are distinct, so the sum IS the bitwise OR), then
       one row of ``map<word_idx, word>`` — only non-zero words are
       stored, and the row rides a 1-row broadcast crossJoin (the
       house fan-in pattern), so m_bits scales to millions of bits
       where a plan-text literal would hit the codegen method limit
       around 2^17.
    2. The corpus-side probe is ``sketches.BLOOM_K`` ``element_at``+bit-test conditions
       per shingle — no shuffle; an absent map key means no bits set
       in that word, and the NULL bit-test correctly rejects. Bloom
       has no false negatives, so candidates ⊇ true matches and the
       (tunable) false-positive rate only costs verify work.
    3. Candidates alone exact-verify against the bench string set via
       a pinned SHUFFLE-HASH join (broadcasting the bench strings
       here would re-introduce exactly the wide broadcast this
       operator exists to avoid; both join sides — the Bloom-selected
       sliver and the bench set — are ≪ the corpus shingle stream),
       then fold back onto the train-doc universe with zero-overlap
       rows. False positives die in the verify, which is why the
       output is row-identical to the direct path and shares its
       oracle. The universe is ``distinct`` non-null-text doc ids —
       exactly the docs that contribute ≥1 shingle (``split`` of any
       non-null text yields ≥1 token), matching the direct path's
       groupBy row set without re-shingling.
    """
    from spk_sl_validation_spark.ext.hashing import md5_long

    bench_g = shingle_rows(bench, id_col, text_col, n).select("s").distinct()
    mask_row = bloom_mask_row(bench_g, "s", m_bits)

    train_g = (
        shingle_rows(train, id_col, text_col, n)
        .distinct()
        .withColumn("__h", md5_long(F.col("s").cast("string")))
        .crossJoin(F.broadcast(mask_row))
    )
    cand = (
        train_g.filter(F.expr(bloom_bit_tests(m_bits))).drop("__h", "__mask")
    )

    overlap = (
        cand.join(bench_g.withColumn("__hit", F.lit(1)).hint("shuffle_hash"), "s")
        .groupBy(id_col)
        .agg(F.count("__hit").alias("n_overlap"))
    )
    return (
        train.filter(F.col(text_col).isNotNull())
        .select(id_col)
        .distinct()
        .join(overlap.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )
