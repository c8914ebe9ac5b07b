"""Approximate-sketch operators: accuracy-bounded, not oracle-hashed
(HLL implementations differ across engines by design)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.sources.readers import load_table


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select(F.countDistinct("user_id").alias("n")).collect()[0].n
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02).alias("n")).collect()[0].n
    assert abs(approx - exact) <= max(1, 0.05 * exact)


def test_approx_percentile_brackets_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    row = ev.select(
        F.percentile_approx("value", 0.5, 10000).alias("approx"),
        F.percentile(F.col("value").cast("double"), F.lit(0.5)).alias("exact"),
    ).collect()[0]
    lo, hi = (
        ev.selectExpr("min(value) AS lo", "max(value) AS hi").collect()[0].lo,
        ev.selectExpr("max(value) AS hi").collect()[0].hi,
    )
    spread = hi - lo
    assert abs(row.approx - row.exact) <= 0.05 * spread


# ---------------------------------------------------------------------------
# Deterministic md5-family sketches (ext/sketches.py) — these ARE
# oracle-hashed in the contract; here we assert the mathematical
# guarantees that must hold regardless of data.
# ---------------------------------------------------------------------------

def _null_every(df, col, n):
    """``df`` with ``col`` set to NULL on every n-th ``event_id``."""
    return df.withColumn(col, F.when(F.col("event_id") % n == 0, None).otherwise(F.col(col)))


def test_hll_estimate_within_theoretical_error(spark, sf_dir):
    """Also on NULL-bearing input, where NULL values are not counted:
    the estimate equals the one on the NULL-free rows."""
    from spk_sl_validation_spark.ext.sketches import hll_estimate

    events = load_table(spark, sf_dir, "events")
    for ev in (events, _null_every(events, "user_id", 10)):
        row = hll_estimate(ev, "user_id").collect()[0]
        # standard error for m=64 is 1.04/sqrt(64) = 13%; allow 3 sigma
        assert abs(row.rel_err) <= 3 * 1.04 / 8
        assert row.m == 64
        assert 0 < row.active_registers <= 64
        assert row == hll_estimate(ev.filter(F.col("user_id").isNotNull()), "user_id").first()


def test_cms_never_underestimates(spark, sf_dir):
    from spk_sl_validation_spark.ext.sketches import cms_estimate_counts

    ev = load_table(spark, sf_dir, "events")
    out = cms_estimate_counts(ev, "user_id").collect()
    assert len(out) > 0
    assert all(r.overestimate >= 0 for r in out)
    assert all(r.cms_est >= r.exact_n for r in out)


def test_bloom_no_false_negatives(spark, sf_dir):
    from spk_sl_validation_spark.ext.sketches import bloom_membership

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    out = bloom_membership(orders, "o_custkey", customer, "c_custkey").collect()
    # every actual member must hit; false positives allowed but bounded
    assert all(r.bloom_hit for r in out if r.actual)
    n_probe_neg = sum(1 for r in out if not r.actual)
    n_fp = sum(1 for r in out if r.false_positive)
    if n_probe_neg:
        assert n_fp / n_probe_neg < 0.5  # loose sanity bound for tiny filter


def test_kmv_jaccard_within_bounds(spark, sf_dir):
    from spk_sl_validation_spark.ext.sketches import kmv_jaccard

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O")
    b = orders.filter(F.col("o_orderstatus") == "F")
    row = kmv_jaccard(a, "o_custkey", b, "o_custkey").first()
    assert 0.0 <= row.jaccard_est <= 1.0
    # k=128 ⇒ se ≈ sqrt(J(1-J)/k) ≲ 0.045; allow 4 sigma
    assert abs(row.jaccard_est - row.jaccard_exact) < 0.2
    assert row.union_ndv_est > 0
    assert abs(row.union_ndv_est / row.union_ndv_exact - 1) < 0.5


def test_bottomk_quantile_sample_mergeable(spark, sf_dir):
    """The sketch's merge law: bottom-k of (bottom-k(A) ∪ bottom-k(B))
    == bottom-k(A ∪ B) — partials from disjoint partitions combine
    into exactly the global sketch."""
    from spk_sl_validation_spark.ext.hashing import md5_long
    from spk_sl_validation_spark.ext.sketches import bottomk_sample_quantiles

    ev = load_table(spark, sf_dir, "events")
    k = 64
    h = md5_long(F.col("event_id").cast("string"))
    hashed = ev.select("event_id", h.alias("h"))
    a = hashed.filter(F.col("event_id") % 2 == 0).orderBy("h", "event_id").limit(k)
    b = hashed.filter(F.col("event_id") % 2 == 1).orderBy("h", "event_id").limit(k)
    merged = a.unionByName(b).orderBy("h", "event_id").limit(k)
    direct = hashed.orderBy("h", "event_id").limit(k)
    assert sorted(r["event_id"] for r in merged.collect()) == sorted(
        r["event_id"] for r in direct.collect()
    )


def test_bottomk_quantile_estimates_near_exact(spark, sf_dir):
    """With k=1024 the p50/p90 estimates must land within a few
    percentage points of the true quantile rank (binomial bound)."""
    from spk_sl_validation_spark.ext.sketches import bottomk_sample_quantiles

    ev = load_table(spark, sf_dir, "events")
    row = bottomk_sample_quantiles(ev, "value", "event_id").collect()[0]
    n = ev.count()
    for p in (50, 90):
        est, exact = row[f"est_p{p}"], row[f"exact_p{p}"]
        # rank of the estimate in the full distribution ≈ p ± 5pp
        rank = ev.filter(F.col("value").cast("double") <= est).count() / n
        assert abs(rank - p / 100) < 0.06, (p, est, exact, rank)


def test_hll_estimate_by_groups_match_global_per_group(spark):
    """Per-group registers are the global sketch restricted to the
    group's rows, so each group's estimate equals hll_estimate run on
    that group's slice alone; with NULL values, both equal their result
    on the NULL-free rows (2000 distinct users fill all 64 registers)."""
    from spk_sl_validation_spark.ext.sketches import hll_estimate, hll_estimate_by

    for n_rows, n_users, null_every in ((500, 40, None), (500, 40, 10), (2000, 2000, 10)):
        rows = [(i, f"t{i % 3}", i % n_users) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
        if null_every:
            df = _null_every(df, "user_id", null_every)
        clean = df.filter(df.user_id.isNotNull())
        by_rows = hll_estimate_by(df, "event_type", "user_id").collect()
        assert sorted(by_rows) == sorted(hll_estimate_by(clean, "event_type", "user_id").collect())
        assert all(0 < r["active_registers"] <= 64 for r in by_rows)
        by = {r["event_type"]: (r["hll_estimate"], r["exact_distinct"]) for r in by_rows}
        assert set(by) == {"t0", "t1", "t2"}
        for t in by:
            solo = hll_estimate(df.filter(df.event_type == t), "user_id").first()
            assert by[t] == (solo["hll_estimate"], solo["exact_distinct"])
        glob = hll_estimate(df, "user_id").first()
        assert glob == hll_estimate(clean, "user_id").first()
        assert 0 < glob["active_registers"] <= 64


def test_hll_profile_column_equals_hll_estimate(spark):
    """Each profiled column is the global sketch keyed by column name:
    its row equals hll_estimate on that column, NULL values uncounted."""
    from spk_sl_validation_spark.ext.sketches import hll_estimate, hll_profile

    rows = [(i, None if i % 10 == 0 else i % 150, f"s{i % 7}" if i % 4 else None) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, source string")
    prof = {r["cname"]: r for r in hll_profile(df, ["user_id", "source"]).collect()}
    assert set(prof) == {"user_id", "source"}
    for c, r in prof.items():
        solo = hll_estimate(df, c).first()
        assert 0 < r["active_registers"] <= 64
        assert (r["active_registers"], r["hll_estimate"], r["exact_distinct"]) == (
            solo["active_registers"], solo["hll_estimate"], solo["exact_distinct"]
        )
        assert r == hll_profile(df.filter(F.col(c).isNotNull()), [c]).first()


def _null_keyed(spark):
    """2000 events, ``user_id`` NULL on every 10th: one pandas frame
    with a nullable Int64 key and the Spark frame made from it."""
    n = 2000
    pdf = pd.DataFrame(
        {
            "event_id": pd.array(range(n), dtype="Int64"),
            "event_type": ["a" if i % 3 else "b" for i in range(n)],
            "user_id": pd.array([None if i % 10 == 0 else i % 700 for i in range(n)], dtype="Int64"),
            "value": [float(i * 37 % 1000) for i in range(n)],
        }
    )
    return pdf, spark.createDataFrame(pdf, "event_id long, event_type string, user_id long, value double")


def _null_key_cases(ev):
    """name -> (sketch over the events frame, its DuckDB twin over t)."""
    from spk_sl_validation_spark.ext import sketches as SK

    a, b = ev.filter(F.col("event_type") == "a"), ev.filter(F.col("event_type") == "b")
    ta, tb = "(SELECT * FROM t WHERE event_type = 'a')", "(SELECT * FROM t WHERE event_type = 'b')"
    return {
        "kmv_jaccard": (
            SK.kmv_jaccard(a, "user_id", b, "user_id"),
            SK.kmv_jaccard_sql(ta, "user_id", tb, "user_id"),
        ),
        "bottomk_sample_quantiles": (
            SK.bottomk_sample_quantiles(ev, "value", "user_id"),
            SK.bottomk_sample_quantiles_sql("t", "value", "user_id"),
        ),
        "cms_estimate_counts": (SK.cms_estimate_counts(ev, "user_id"), SK.cms_estimate_counts_sql("t", "user_id")),
        "bloom_membership": (
            SK.bloom_membership(a, "user_id", ev, "user_id"),
            SK.bloom_membership_sql(ta, "user_id", "t", "user_id"),
        ),
    }


@pytest.mark.parametrize(
    "name", ["kmv_jaccard", "bottomk_sample_quantiles", "cms_estimate_counts", "bloom_membership"]
)
def test_sketch_equals_twin_on_null_keys(spark, assert_twin, name):
    """NULL keys are not sketched in either engine (Spark sorts a NULL
    hash first and DuckDB last, so sketching one splits the KMV and
    bottom-k twins), and a NULL probe key yields no count-min or Bloom
    row."""
    pdf, ev = _null_keyed(spark)
    frame, sql = _null_key_cases(ev)[name]
    if "key" in frame.columns:
        assert frame.filter(F.col("key").isNull()).count() == 0
    assert_twin(frame, sql, t=pdf)
