"""bench.py's Python-worker CPU reader sees the CPU of Python workers,
and its query-name check runs before any Spark session starts."""

from __future__ import annotations

import pytest


def test_py_worker_cpu_counts_an_arrow_grouped_map(spark):
    import pyarrow as pa

    from bench import py_worker_cpu_s

    def burn(table):
        # enough pure-Python work per group to outlast the 10 ms clock tick
        return pa.table({"k": table.column("k"), "s": [sum(i * i for i in range(300_000))] * table.num_rows})

    before = py_worker_cpu_s(spark)
    rows = spark.range(4).selectExpr("id % 2 AS k").groupBy("k").applyInArrow(burn, "k long, s long").collect()
    assert len(rows) == 4
    assert py_worker_cpu_s(spark) - before > 0


def test_unknown_query_name_exits_before_the_session(monkeypatch):
    import bench
    from spk_sl_validation_spark import session

    monkeypatch.setattr(session, "build_session", lambda **kw: pytest.fail("session built"))
    with pytest.raises(SystemExit, match="not registered: no_such_query"):
        bench.main(["dedup_minhash_lsh", "no_such_query"])
