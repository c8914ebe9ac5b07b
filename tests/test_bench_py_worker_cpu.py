"""bench.py's Python-worker CPU reader sees the CPU of Python workers."""

from __future__ import annotations


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
