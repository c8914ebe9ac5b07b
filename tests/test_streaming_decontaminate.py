"""Streaming decontamination gate: stream == batch (a third
implementation — ext.decontaminate.benchmark_overlap — not the DuckDB
oracle), and the Bloom prefilter genuinely prunes before the verify
join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spk_sl_validation_spark.sources.readers import load_table


def test_stream_gate_equals_batch_overlap(spark, sf_dir):
    from spk_sl_validation_spark.ext.decontaminate import benchmark_overlap
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r.source: (r.n_docs, r.n_contaminated)
        for r in REGISTRY["streaming_decontaminate_gate"].builder(spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = benchmark_overlap(train, bench, "doc_id", "text", n=8)
    want = {
        r.source: (r.n_docs, r.n_contaminated)
        for r in train.join(flagged, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("contaminated"), 1)).alias("n_contaminated"),
        )
        .collect()
    }
    assert got == want


def test_bloom_prefilter_prunes(spark, sf_dir):
    """The candidate sliver must be far smaller than the shingle stream
    — otherwise the mask is doing nothing and every micro-batch pays
    the verify join on the full stream."""
    from spk_sl_validation_spark.ext.decontaminate import bloom_bit_tests, bloom_mask_row
    from spk_sl_validation_spark.ext.hashing import md5_long, shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    bench_g = shingle_rows(bench, "doc_id", "text", 8).select("s").distinct()
    mask = bloom_mask_row(bench_g, "s", 8192)
    g = (
        shingle_rows(train, "doc_id", "text", 8)
        .withColumn("__h", md5_long(F.col("s").cast("string")))
        .crossJoin(F.broadcast(mask))
    )
    total = g.count()
    cand = g.filter(F.expr(bloom_bit_tests(8192))).count()
    assert cand < total * 0.5
