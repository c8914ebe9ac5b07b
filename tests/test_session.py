"""session.py: nothing a query persisted survives between runs, and
per-application memo caches forget stopped applications."""

from __future__ import annotations


def test_release_unpersists_local_checkpoints(spark):
    from spk_sl_validation_spark.session import release

    df = spark.range(1000).selectExpr("id", "id % 7 AS k").localCheckpoint(eager=True)
    df.cache().count()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
    release(spark)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_memo_caches_drop_stopped_applications(spark, sf_dir):
    """A miss in any of the three applicationId-keyed memo caches drops
    the entries of other applications, so a stopped session's py4j
    objects are not pinned for the life of the process."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext import webcure as W
    from spk_sl_validation_spark.plans import webcure_queries as WQ

    live, stale = spark.sparkContext.applicationId, "app-stopped-0000"
    W._EXPR_CACHE[(stale, "url", "u")] = object()
    WQ._BLOCKED_CACHE[(stale,)] = object()
    WQ._FIXTURE_CACHE[(stale, sf_dir, "urls")] = object()
    WQ._BLOCKED_CACHE.pop((live,), None)  # force the miss

    W._cached_expr("memo_test", "c", lambda: F.lit(1))
    WQ._blocked_df(spark)
    WQ._materialized(spark, sf_dir, "memo_test", lambda: spark.range(1))

    for cache in (W._EXPR_CACHE, WQ._BLOCKED_CACHE, WQ._FIXTURE_CACHE):
        assert cache and all(key[0] == live for key in cache)
