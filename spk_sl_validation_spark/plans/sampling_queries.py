"""Deterministic sampling & datetime surface.

Random sampling is useless for a reproducible training pipeline —
splits must be a pure function of the row, stable across runs,
engines, and cluster topologies. Everything here derives from the
cross-engine md5 family (ext/hashing.py), so the DuckDB oracle
replays the exact assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import md5_long, md5_long_sql
from spk_sl_validation_spark.plans.dedup_shared import _clusters_cte_body
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table

_H = md5_long_sql("CAST(doc_id AS VARCHAR)")


@register(
    "dataset_split",
    doc="deterministic train/val/test split (80/10/10) by content-stable hash — reproducible across runs/engines",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_H} % 100 < 80 THEN 'train'
            WHEN {_H} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


def _leakage_safe_oracle() -> str:
    h = md5_long_sql("CAST(cluster_id AS VARCHAR)")
    return f"""
WITH RECURSIVE {_clusters_cte_body()}
SELECT doc_id, cluster_id,
       CASE WHEN {h} % 100 < 80 THEN 'train'
            WHEN {h} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM clusters
"""


@register(
    "dataset_split_leakage_safe",
    doc=(
        "leakage-safe train/val/test split: assignment hashes the NEAR-DUP "
        "CLUSTER id, not the doc id, so no verified near-duplicate pair can "
        "straddle train and test (the eval-contamination failure mode of "
        "per-doc splits); unique docs get exactly dataset_split's assignment"
    ),
    oracle=_leakage_safe_oracle(),
)
def dataset_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split by near-dup cluster (SURVEY.md SS2.6 extension): a per-doc
    hash split leaks eval content whenever a near-duplicate of a test
    doc lands in train — hashing the transitive cluster label closes
    that by construction. For docs in singleton clusters
    (cluster_id == doc_id) the assignment is IDENTICAL to
    dataset_split, so adopting the safe split only moves documents
    that have near-duplicates. Rides dedup_clusters; one extra narrow
    projection, no additional shuffle."""
    from spk_sl_validation_spark.ext.dedup import dedup_clusters
    from spk_sl_validation_spark.plans.dedup_shared import JACCARD_TAU

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU)
    bucket = md5_long(F.col("cluster_id").cast("string")) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return clusters.select("doc_id", "cluster_id", split.alias("split"))


# dedup_queries registers here, right after the split: registration order
# is the driver's sample tiebreak (registry._ordered_registry)
from spk_sl_validation_spark.plans import dedup_queries  # noqa: E402, F401


@register(
    "stratified_sample",
    doc="stratified sampling: exactly 10 docs per language, selected by hash order (deterministic, balanced)",
    oracle=f"""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY {_H} ASC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 10
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id")
    )


@register(
    "datetime_suite",
    doc="datetime function surface: truncation, field extraction, date arithmetic (aligned across engines)",
    oracle="""
SELECT event_id,
       date_trunc('day', ts) AS day,
       CAST(extract(year FROM ts) AS INTEGER) AS y,
       CAST(extract(month FROM ts) AS INTEGER) AS m,
       CAST(extract(hour FROM ts) AS INTEGER) AS h,
       CAST(extract(isodow FROM ts) AS INTEGER) AS iso_dow,
       ts + INTERVAL 7 DAY AS ts_next_week,
       CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS INTEGER) AS days_since_2024
FROM events
WHERE event_id < 1000
""",
)
def datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.hour("ts").alias("h"),
        # ISO day-of-week (Mon=1..Sun=7): Spark's dayofweek is Sun=1.
        F.expr("((dayofweek(ts) + 5) % 7) + 1").cast("int").alias("iso_dow"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("ts_next_week"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("days_since_2024"),
    )


N_SHARDS = 16


@register(
    "dataset_shard_assignment",
    doc=(
        f"deterministic corpus sharding for training-data layout: shard = "
        f"content-stable hash % {N_SHARDS}, plus the doc's position and each "
        "shard's size — the resumable alternative to repartition(): shard "
        "membership and order are properties of the ROW, identical across "
        "runs, engines, and cluster sizes, so a partial re-run rewrites only "
        "the shards it must"
    ),
    oracle=f"""
WITH s AS (SELECT doc_id, {_H} % {N_SHARDS} AS shard FROM documents)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY {_H} ASC, doc_id ASC) AS BIGINT)
         AS pos_in_shard,
       CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_size
FROM s
""",
)
def dataset_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string"))
    assigned = docs.select("doc_id", (h % N_SHARDS).alias("shard"))
    w = Window.partitionBy("shard")
    return assigned.select(
        "doc_id",
        "shard",
        F.row_number().over(w.orderBy(h.asc(), F.col("doc_id").asc())).cast("long").alias("pos_in_shard"),
        F.count(F.lit(1)).over(w).cast("long").alias("shard_size"),
    )


# Priority sampling (Duffield, Lund & Thorup 2007): weight-proportional
# sampling without replacement with an unbiased subset-sum estimator.
# priority q_i = w_i / u_i with u_i uniform on (0,1]; keep the k largest
# priorities; tau = (k+1)-th priority; est_w_i = max(w_i, tau).
# u_i derives from the cross-engine md5 hash, so the "random" draw is a
# pure row function and the oracle replays the exact sample.
PRIORITY_K = 50
_U_DENOM = 1 << 30  # u = (h % 2^30 + 1) / 2^30  in (0, 1]


@register(
    "sample_priority_weighted",
    doc=(
        f"deterministic weight-proportional sampling (priority sampling, "
        f"Duffield-Lund-Thorup): k={PRIORITY_K} docs by priority w/u with "
        "hash-derived u and the unbiased max(w, tau) estimator. Spark plan is "
        "two TakeOrdered passes (top k+1, then top k) + a 1-row broadcast for "
        "tau — per-partition top-k partials, no global sort, no full shuffle "
        "at any corpus size"
    ),
    oracle=f"""
WITH p AS (
  SELECT doc_id, n_chars AS w,
         CAST(n_chars * {_U_DENOM} AS DOUBLE)
           / CAST(({_H} % {_U_DENOM}) + 1 AS DOUBLE) AS priority
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn FROM p
)
SELECT doc_id, w, priority,
       greatest(CAST(w AS DOUBLE),
                (SELECT CASE WHEN count(*) >= {PRIORITY_K + 1} THEN min(priority)
                        ELSE CAST('-infinity' AS DOUBLE) END
                 FROM r WHERE rn <= {PRIORITY_K + 1})) AS est_w
FROM r WHERE rn <= {PRIORITY_K}
""",
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return priority_sample(docs, "doc_id", "n_chars", PRIORITY_K)


def priority_sample(df: DataFrame, id_col: str, w_col: str, k: int) -> DataFrame:
    """Priority sampling core (reused by the registered query and the
    property tests): k rows of (id, w, priority, est_w) for any
    positive integer weight column."""
    h = md5_long(F.col(id_col).cast("string"))
    pri = df.select(
        id_col,
        F.col(w_col).alias("w"),
        (
            (F.col(w_col) * F.lit(_U_DENOM)).cast("double")
            / ((h % _U_DENOM) + F.lit(1)).cast("double")
        ).alias("priority"),
    )
    order = [F.col("priority").desc(), F.col(id_col).asc()]
    top_k1 = pri.orderBy(*order).limit(k + 1)
    # tau is the (k+1)-th priority ONLY when one exists; with n <= k
    # every row is sampled and the unbiased estimator is est_w = w,
    # i.e. tau = -inf (min-of-all would inflate est_w above w).
    tau = top_k1.agg(
        F.when(F.count(F.lit(1)) >= k + 1, F.min("priority"))
        .otherwise(F.lit(float("-inf")))
        .alias("tau")
    )
    sampled = top_k1.orderBy(*order).limit(k)
    return sampled.crossJoin(F.broadcast(tau)).select(
        id_col,
        "w",
        "priority",
        F.greatest(F.col("w").cast("double"), F.col("tau")).alias("est_w"),
    )
