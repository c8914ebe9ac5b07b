"""spread_for_compute (round 11, guide §2.5): manufactured
parallelism for tiny unsplittable corpus scans feeding per-row
expensive stages — rows identical, placement-only, and a structural
no-op once the input is big enough to parallelize by itself."""

from __future__ import annotations

import math

from spk_sl_validation_spark.sources import readers as R


SF_DIR = "/root/testdata/sf0.001"


def test_spread_increases_partitions_to_half_parallelism(spark):
    import pytest

    plain = R.load_table(spark, SF_DIR, "documents")
    spread = R.load_table_spread(spark, SF_DIR, "documents")
    p = spark.sparkContext.defaultParallelism
    rows, groups = R._parquet_rows_and_row_groups(f"{SF_DIR}/documents.parquet")
    expect = min(max(p // 2, 1), math.ceil(rows / R._SPREAD_MIN_ROWS_PER_TASK))
    if expect <= groups:
        # ADVICE r11: on hosts with defaultParallelism <= 2 the spread
        # is a DESIGNED no-op (target <= row groups) and the "plain has
        # fewer partitions" assertion becomes unsatisfiable.
        pytest.skip(f"spread is a designed no-op here (target {expect} <= row groups {groups})")
    assert plain.rdd.getNumPartitions() < expect
    assert spread.rdd.getNumPartitions() == expect


def test_spread_preserves_rows_exactly(spark):
    plain = R.load_table(spark, SF_DIR, "documents").collect()
    spread = R.load_table_spread(spark, SF_DIR, "documents").collect()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(plain, key=key) == sorted(spread, key=key)


def test_spread_is_noop_when_input_already_parallel(spark, monkeypatch):
    # A file that Spark can already split (row groups >= cores) or that
    # is too heavy to re-shuffle must come back WITHOUT an exchange.
    monkeypatch.setitem(
        R._PARQUET_META,
        _meta_key(f"{SF_DIR}/documents.parquet"),
        (10_000_000, spark.sparkContext.defaultParallelism),
    )
    df = R.load_table_spread(spark, SF_DIR, "documents")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_spread_skips_sub_task_inputs(spark, monkeypatch):
    # Fewer rows than one task's floor -> repartition would only add
    # scheduling overhead; the scan must stay as-is.
    monkeypatch.setitem(
        R._PARQUET_META, _meta_key(f"{SF_DIR}/documents.parquet"), (8, 1)
    )
    df = R.load_table_spread(spark, SF_DIR, "documents")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def _meta_key(path: str):
    import os

    st = os.stat(path)
    return (path, st.st_mtime, st.st_size)
