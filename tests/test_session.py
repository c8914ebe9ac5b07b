"""session.release: nothing a query persisted survives between runs."""

from __future__ import annotations


def test_release_unpersists_local_checkpoints(spark):
    from spk_sl_validation_spark.session import release

    df = spark.range(1000).selectExpr("id", "id % 7 AS k").localCheckpoint(eager=True)
    df.cache().count()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
    release(spark)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
