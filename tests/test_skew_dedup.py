"""Adversarial-skew pins (SCALE.md §7, "Round-7 adversarial-skew
probe", is the measured story; these tests pin the two load-bearing mechanics at unit scale):

1. the hot-bucket cap: a corpus where ONE near-dup cluster is 50% of
   all docs really does produce an over-cap bucket in every band, and
   ``capped_band_rows`` bounds every bucket to exactly the cap;
2. AQE's skew-split backstop: the one join where a mega-component
   concentrates on a single shuffle key (min-label propagation's
   edges⋈labels round on a hub graph) gets a ``skew=true`` split in
   the final adaptive plan when label broadcast is off — the regime a
   100 TB corpus forces.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.dedup import (
    capped_band_rows,
    dedup_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
)

CAP = 16
N = 400


def _hot_corpus(spark, n=N):
    """Every even id near-duplicates doc 0 (shared 45-word body +
    unique tail token); odd ids are unique bodies."""
    base = spark.range(n).withColumnRenamed("id", "doc_id")

    def body(seed):
        # xxhash64-mixed words: affine formulas in (seed, i) alias
        # across seeds (shifted-parabola overlap makes "unique" bodies
        # accidentally near-duplicate); a hash mix cannot.
        return F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.xxhash64(F.concat(seed.cast("string"), F.lit(f"_{i}"))).cast("string"),
                )
                for i in range(40)
            ],
        )

    uniq = F.concat(F.lit("hdr shared span marker "), body(F.col("doc_id")))
    hot = F.concat(
        F.lit("hdr shared span marker "),
        body(F.lit(0)),
        F.lit(" tail"),
        F.col("doc_id").cast("string"),
    )
    text = F.when(F.col("doc_id") % 2 == 0, hot).otherwise(uniq)
    return base.select("doc_id", text.alias("text"))


def test_hot_corpus_overflows_uncapped_buckets(spark):
    docs = _hot_corpus(spark)
    sig = minhash_signatures(docs, "doc_id", "text")
    uncapped = capped_band_rows(sig, "doc_id", N)
    pre = (
        uncapped.groupBy("band", "h0", "h1")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()["mx"]
    )
    # the adversarial input is real: the hot bucket holds most of the
    # 200 near-dups (tails perturb a couple of minhash slots, so not
    # necessarily all 200 in every band)
    assert pre > 4 * CAP


def test_cap_bounds_every_bucket_exactly(spark):
    docs = _hot_corpus(spark)
    sig = minhash_signatures(docs, "doc_id", "text")
    capped = capped_band_rows(sig, "doc_id", CAP)
    post = (
        capped.groupBy("band", "h0", "h1")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()["mx"]
    )
    assert post == CAP  # bound hit, never exceeded
    # and therefore candidate pairs are bounded by bands * C(cap, 2)
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", max_bucket_size=CAP, with_estimate=False
    )
    assert pairs.count() <= 6 * CAP * (CAP - 1) // 2


def test_capped_hot_cluster_still_found(spark):
    docs = _hot_corpus(spark)
    clusters = dedup_clusters(docs, "doc_id", "text", max_iterations=20)
    big = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("doc_id").alias("members"))
        .orderBy(F.desc("n"))
        .first()
    )
    # the cap keeps the smallest bucket ids, so the found cluster is a
    # subset of the hot (even-id) docs — skew bounded, recall preserved
    # for the capped members
    assert big["n"] >= 3
    assert all(m % 2 == 0 for m in big["members"])


def test_propagation_join_gets_aqe_skew_split(spark):
    """Hub graph (1 node with n-1 spokes): the edges⋈labels join's hub
    partition must be split by AQE (skew=true in the FINAL adaptive
    plan — captured by executing the DataFrame's own QueryExecution,
    not a separate noop write)."""
    n = 400_000
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
        spokes = spark.range(1, n).select(
            F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
        )
        edges = spokes.unionAll(
            spokes.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint(eager=True)
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        nbr = (
            edges.join(labels, edges.src == F.col("node"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        qe = nbr._jdf.queryExecution()
        assert qe.toRdd().count() == n - 1 + 1  # every node gets a row
        plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        assert "isFinalPlan=true" in plan
        assert len(re.findall(r"skew=true", plan)) >= 1, (
            "AQE did not split the hub partition — skew backstop regressed"
        )
    finally:
        for k, v in saved.items():
            conf.set(k, v)


# ---------------------------------------------------------------------------
# Round-11: exact-duplicate pre-collapse in the banded Hamming join
# ---------------------------------------------------------------------------


def _flood_fps(spark, n: int, flood: int):
    """(doc_id, fp): ids [0, flood) share one fingerprint; the rest
    get xxhash64-mixed unique values. Built from spark.range — the
    NON-NULLABLE input shape is itself the regression trigger for the
    constraint-rewrite NoSuchElementException a CC consumer used to
    hit on the un-materialized edge union (round 11)."""
    base = spark.range(n).withColumnRenamed("id", "doc_id")
    return base.select(
        "doc_id",
        F.when(F.col("doc_id") < flood, F.lit(42).cast("long"))
        .otherwise(F.xxhash64("doc_id"))
        .alias("fp"),
    )


def test_hamming_flood_pairs_lossless(spark):
    """A 100-copy exact-duplicate flood yields exactly C(100, 2)
    Hamming-0 pairs through the pre-collapsed join expansion."""
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_pairs

    fps = _flood_fps(spark, 1000, 100)
    pairs = hamming_near_dup_pairs(fps, "doc_id", "fp", 64)
    zero = pairs.filter(F.col("hamming") == 0)
    assert zero.count() == 100 * 99 // 2
    # every zero-distance pair is inside the flood, ordered id_a < id_b
    bad = zero.filter(
        (F.col("id_a") >= F.col("id_b")) | (F.col("id_b") >= 100)
    ).count()
    assert bad == 0


def test_hamming_flood_edges_bounded_and_cc_labels(spark):
    """The edges variant emits m-1 star edges for an m-copy flood
    (never m(m-1)/2), and stars-CC over it labels the flood as ONE
    component — connectivity preserved."""
    from spk_sl_validation_spark.ext.dedup import hamming_near_dup_edges
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    fps = _flood_fps(spark, 2000, 1000)
    edges = hamming_near_dup_edges(fps, "doc_id", "fp")
    assert edges.filter(F.col("hamming") == 0).count() == 999
    labels, _rounds = connected_components_stars(edges.select("src", "dst"))
    top = (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"))
        .limit(1)
        .collect()[0]
    )
    assert top["sz"] == 1000 and top["cluster_id"] == 0


def test_hamming_post_collapse_buckets_are_distinct_fp_sized(spark):
    """After the fp collapse, band-bucket membership counts DISTINCT
    fingerprints: the flood contributes ONE entry per band, so no
    bucket can reach flood size."""
    fps = _flood_fps(spark, 2000, 1000)
    reps = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("m"))
    width = (64 + 2) // 3
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("fp"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bh"),
            )
            for b in range(3)
        ]
    )
    census = (
        reps.select(F.explode(bands).alias("bk"))
        .groupBy("bk.band", "bk.bh")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz").alias("mx"))
        .collect()[0]
    )
    assert census["mx"] < 100  # ~1001 distinct fps over 2^22 band values
