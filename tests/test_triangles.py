"""Semantic golden + property tests for ext.graph.triangle_counts and
co_occurrence_edges (graph_triangle_parts).

The registry differential test value-hashes the registered query against
DuckDB; these pin the semantics on graphs where the answer is knowable
by eye, and property-test against a brute-force triple loop.
"""

from __future__ import annotations

from spk_sl_validation_spark.ext.graph import co_occurrence_edges, triangle_counts


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    return {r["node"]: r for r in triangle_counts(df).collect()}


def test_single_triangle(spark):
    got = _run(spark, [(1, 2), (2, 3), (1, 3)])
    for n in (1, 2, 3):
        assert got[n]["degree"] == 2
        assert got[n]["n_triangles"] == 1
        assert got[n]["clustering_coeff"] == 1.0


def test_star_has_no_triangles(spark):
    # hub 1 with 3 leaves: degree-ordered orientation points every edge
    # INTO the hub, so the hub generates zero wedges.
    got = _run(spark, [(1, 2), (1, 3), (1, 4)])
    assert got[1]["degree"] == 3 and got[1]["n_triangles"] == 0
    assert got[1]["clustering_coeff"] == 0.0
    for leaf in (2, 3, 4):
        assert got[leaf]["n_triangles"] == 0 and got[leaf]["clustering_coeff"] == 0.0


def test_k4_fully_clustered(spark):
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _run(spark, edges)
    for n in range(1, 5):
        assert got[n]["degree"] == 3
        assert got[n]["n_triangles"] == 3  # C(3,2) triangles through each node
        assert got[n]["clustering_coeff"] == 1.0


def test_triangle_plus_pendant(spark):
    # triangle 1-2-3 with pendant 4 hanging off 3: node 3 has degree 3
    # but only the one triangle -> coeff 2*1/(3*2) = 1/3.
    got = _run(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert got[3]["degree"] == 3 and got[3]["n_triangles"] == 1
    assert abs(got[3]["clustering_coeff"] - 1 / 3) < 1e-15
    assert got[4]["degree"] == 1 and got[4]["clustering_coeff"] == 0.0


def test_co_occurrence_edges_from_baskets(spark):
    rows = [(10, "a"), (10, "b"), (10, "b"), (10, "c"), (20, "a"), (20, "b"), (30, "z")]
    df = spark.createDataFrame(rows, ["order_id", "item"])
    got = {(r["a"], r["b"]) for r in co_occurrence_edges(df, "order_id", "item").collect()}
    # duplicates inside a basket collapse; the (a,b) edge from both
    # baskets appears once; singleton basket contributes nothing
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


# ---------------------------------------------------------------------------
# Property: matches a brute-force triple loop on random graphs
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge = st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1])
_graph = st.lists(_edge, min_size=1, max_size=16)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(raw=_graph)
def test_triangle_counts_match_bruteforce(spark, raw):
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect_tri = {n: 0 for n in adj}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if y not in adj[x]:
                continue
            for z in nodes:
                if z > y and z in adj[x] and z in adj[y]:
                    for n in (x, y, z):
                        expect_tri[n] += 1

    got = _run(spark, edges)
    assert sorted(got) == nodes
    for n in nodes:
        assert got[n]["degree"] == len(adj[n])
        assert got[n]["n_triangles"] == expect_tri[n], (n, edges)
        d = len(adj[n])
        expect_c = 2 * expect_tri[n] / (d * (d - 1)) if d >= 2 else 0.0
        assert got[n]["clustering_coeff"] == expect_c


def test_triangle_plan_shape(spark, sf_dir):
    """edges/deg/oriented are each multiply-consumed: without
    localCheckpoint Spark inlines every reference (first audit: 34
    scans, 97 exchanges — the edge derivation replayed 17x). Pinned:
    the final plan reads only checkpointed relations, <=6 exchanges,
    zero sort-merge joins, zero repeated parquet scans."""
    import re

    from tools.dump_plans import plan_stats

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["graph_triangle_parts"].builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    assert st["shuffle_exchanges"] <= 6, st
    assert st["sort_merge_joins"] == 0, st
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", formatted))
    assert n_scans == 0, f"final plan re-scans parquet {n_scans}x — checkpoint reuse regressed"


def test_basket_association_rules_semantics(spark):
    """Hand-built baskets: {a,b,c}, {a,b}, {a,d} -> only (a,b) reaches
    support 2. confidence/lift knowable by eye."""
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    import pyspark.sql.functions as F

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"), (3, "d")]
    df = spark.createDataFrame(rows, ["g", "i"])
    # replicate the registered query's core on the fixture
    it = df.distinct()
    nb = it.agg(F.countDistinct("g").alias("n_baskets"))
    item = it.groupBy("i").agg(F.count(F.lit(1)).alias("s_item"))
    a, b = it.alias("l"), it.alias("r")
    pair = (
        a.join(b, (F.col("l.g") == F.col("r.g")) & (F.col("l.i") < F.col("r.i")))
        .groupBy(F.col("l.i").alias("a"), F.col("r.i").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    out = (
        pair.join(item.select(F.col("i").alias("a"), F.col("s_item").alias("sa")), "a")
        .join(item.select(F.col("i").alias("b"), F.col("s_item").alias("sb")), "b")
        .crossJoin(nb)
        .collect()
    )
    assert len(out) == 1
    r = out[0]
    assert (r["a"], r["b"], r["support"]) == ("a", "b", 2)
    assert r["sa"] == 3 and r["sb"] == 2 and r["n_baskets"] == 3
    # confidence a->b = 2/3, b->a = 1.0, lift = 3*2/(3*2) = 1.0
