"""Sketch queries: HyperLogLog, count-min, Bloom filter (north-star).

Unlike Spark's built-in ``approx_count_distinct`` / Bloom join
pruning — whose sketch state is engine-internal — these sketches are
built from the md5-family hashes, so DuckDB replays every register,
counter, and bit position and the driver value-verifies the
*estimates themselves*, not just row counts. See ext/sketches.py for
the determinism analysis (integer-domain harmonic sums, no
float-accumulation-order hazards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spk_sl_validation_spark.ext import sketches as SK
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


@register(
    "sketch_hll_distinct_users",
    doc=(
        f"HyperLogLog(2^{SK.HLL_P} registers) distinct-user estimate over events, "
        "with the exact count and relative error alongside. Sketch state is one "
        "64-row aggregate (map-side combined) — the 100 TB COUNT(DISTINCT) shape"
    ),
    oracle=SK.hll_estimate_sql("events", "user_id"),
)
def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return SK.hll_estimate(events, "user_id")


@register(
    "sketch_hll_by_type",
    doc=(
        f"grouped HyperLogLog(2^{SK.HLL_P}): distinct-user estimate PER event "
        "type — the per-source cardinality dashboard shape; partial agg "
        "collapses each partition to ≤ groups·2^p rows before the shuffle "
        "(exact COUNT(DISTINCT) per group would expand the corpus)"
    ),
    oracle=SK.hll_estimate_by_sql("events", "event_type", "user_id"),
)
def sketch_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return SK.hll_estimate_by(events, "event_type", "user_id")


@register(
    "sketch_cms_user_counts",
    doc=(
        f"count-min sketch ({SK.CMS_DEPTH}×{SK.CMS_WIDTH}) per-user event-count "
        "estimates vs exact counts; overestimate column exposes collision "
        "inflation (always ≥ 0). Counter matrix is broadcast-sized"
    ),
    oracle=SK.cms_estimate_counts_sql("events", "user_id"),
)
def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return SK.cms_estimate_counts(events, "user_id")


@register(
    "sketch_bloom_customer_orders",
    doc=(
        f"Bloom filter ({SK.BLOOM_BITS} bits, k={SK.BLOOM_K}) built over orders.o_custkey, "
        "probed with every customer: bloom_hit vs actual membership, false "
        "positives enumerated exactly. The broadcast-Bloom join-pruning shape"
    ),
    oracle=SK.bloom_membership_sql("orders", "o_custkey", "customer", "c_custkey"),
)
def sketch_bloom_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return SK.bloom_membership(orders, "o_custkey", customer, "c_custkey")


@register(
    "streaming_hll_distinct",
    doc=(
        "Structured Streaming HLL: the register table IS the streaming "
        "aggregation state (registers merge by max — the sketch's mergeability "
        "property), replayed availableNow == the batch estimate to the bit"
    ),
    oracle=SK.hll_estimate_sql("events", "user_id"),
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.streaming import pipeline as P

    stream = P.stream_events(spark, sf_dir)
    regs = P.run_available_now(
        SK.hll_registers(stream, "user_id"), output_mode="complete"
    )
    exact = SK.hll_exact(load_table(spark, sf_dir, "events"), "user_id")
    return SK.hll_estimate_from_registers(regs, exact)


PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]


@register(
    "profile_ndv_hll",
    doc=(
        "one-pass multi-column NDV profile: every column's HLL registers "
        "accumulate in a single scan + one grouped aggregate (c·2^p rows) — "
        "c columns do NOT cost c passes; estimates value-exact vs replay"
    ),
    oracle=SK.hll_profile_sql("orders", PROFILE_COLS),
)
def profile_ndv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return SK.hll_profile(orders, PROFILE_COLS)


@register(
    "sketch_kmv_jaccard",
    doc=(
        "KMV (k-minimum-values) sketch Jaccard: similarity of two customer key "
        "sets (open vs finished orders) estimated from 128-hash sketches — the "
        "set-INTERSECTION algebra HLL lacks; selection-only integer math, "
        "value-exact vs replay"
    ),
    oracle=SK.kmv_jaccard_sql(
        "(SELECT * FROM orders WHERE o_orderstatus = 'O')", "o_custkey",
        "(SELECT * FROM orders WHERE o_orderstatus = 'F')", "o_custkey",
    ),
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O")
    b = orders.filter(F.col("o_orderstatus") == "F")
    return SK.kmv_jaccard(a, "o_custkey", b, "o_custkey")


@register(
    "streaming_cms_user_counts",
    doc=(
        "Structured Streaming count-min: the d×w counter matrix is the "
        "streaming aggregation state (counters merge by addition), replayed "
        "availableNow == the batch estimates exactly"
    ),
    oracle=SK.cms_estimate_counts_sql("events", "user_id"),
)
def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.streaming import pipeline as P

    stream = P.stream_events(spark, sf_dir)
    counters = P.run_available_now(
        SK.cms_counters(stream, "user_id"), output_mode="complete"
    )
    exact = SK.cms_exact(load_table(spark, sf_dir, "events"), "user_id")
    return SK.cms_estimate_from_counters(counters, exact)


@register(
    "sketch_quantile_sample",
    doc=(
        f"mergeable quantile sketch: bottom-{SK.BOTTOMK_K}-by-hash uniform row "
        "sample (KMV-style, merge = keep k smallest hashes), exact interpolated "
        "p50/p90/p99 within the sample vs the true percentiles alongside. "
        "TakeOrdered — per-partition bottom-k + one k-row merge, no full sort"
    ),
    oracle=SK.bottomk_sample_quantiles_sql("events", "value", "event_id"),
)
def sketch_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return SK.bottomk_sample_quantiles(events, "value", "event_id")
