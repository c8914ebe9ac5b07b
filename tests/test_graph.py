"""PageRank over event-transition edges (ext/graph.py).

Correctness model: a tiny hand-built graph whose exact ranks are
recomputed by an independent pure-python power iteration (same
damping, same dangling rule, same per-step rounding), plus invariant
checks — ranks sum to 1 and are each ≥ (1-d)/N.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.graph import DAMPING, ITERATIONS, pagerank, transition_edges


def _python_pagerank(edges, damping=DAMPING, iterations=ITERATIONS):
    from decimal import Decimal

    from tests.test_graph_property import _round_half_up

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = float(len(nodes))
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    rank = {v: _round_half_up(1.0 / n, 12) for v in nodes}
    for _ in range(iterations):
        # round-then-exact-decimal sums, mirroring the engine
        # (HALF_UP like Spark/DuckDB — python round() is half-even)
        inflow = {v: Decimal(0) for v in nodes}
        for s, d, w in edges:
            inflow[d] += Decimal(str(_round_half_up(rank[s] * w / out_w[s], 12)))
        dm = float(sum((Decimal(str(rank[v])) for v in nodes if v not in out_w), Decimal(0)))
        rank = {
            v: _round_half_up((1.0 - damping) / n + damping * (float(inflow[v]) + dm / n), 12)
            for v in nodes
        }
    return {v: _round_half_up(r, 6) for v, r in rank.items()}


def test_pagerank_matches_python_reference(spark):
    # a -> b -> c, a -> c, c dangling (no out-edges)
    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"]).withColumn(
        "w", F.col("w").cast("double")
    )
    got = {r["node"]: r["rank"] for r in pagerank(df)[0].collect()}
    assert got == _python_pagerank(edges)


def test_pagerank_ranks_sum_to_one(spark, sf_dir):
    from spk_sl_validation_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    ranks = pagerank(transition_edges(events))[0].collect()
    assert len(ranks) >= 2
    total = sum(r["rank"] for r in ranks)
    assert total == pytest.approx(1.0, abs=1e-4)
    n = len(ranks)
    floor = (1.0 - DAMPING) / n - 1e-9
    assert all(r["rank"] >= floor for r in ranks)


def test_transition_edges_counts(spark):
    rows = [
        (1, 100, 1, "x"),
        (1, 100, 2, "y"),
        (1, 100, 3, "x"),
        (2, 100, 4, "x"),  # same ts as event 5 — tiebreak on event_id
        (2, 100, 5, "y"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in transition_edges(events, order_cols=("ts", "event_id")).collect()
    }
    assert got == {("x", "y"): 2.0, ("y", "x"): 1.0}


def test_transition_edges_plan_shape(spark, sf_dir):
    """Edge derivation is the 100 TB stage: one window shuffle + one
    aggregate shuffle, no sort-merge join."""
    from tools.dump_plans import plan_stats

    from spk_sl_validation_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    df = transition_edges(events)
    df.write.mode("overwrite").format("noop").save()
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    assert st["shuffle_exchanges"] <= 2
    assert st["sort_merge_joins"] == 0
