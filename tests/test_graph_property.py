"""Property tests: PageRank and containment vs independent python
references on hypothesis-generated inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import dedup as D
from spk_sl_validation_spark.ext.graph import DAMPING, ITERATIONS, pagerank


def _round_half_up(x: float, nd: int) -> float:
    """Spark's F.round / DuckDB's round semantics: HALF_UP on the
    shortest decimal representation of the double. Python's built-in
    round() is banker's (half-even) and diverges at exact .5 ties at
    the target digit (hypothesis found round(0.1316885, 6))."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(str(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _python_pagerank(edges, damping=DAMPING, iterations=ITERATIONS):
    from decimal import Decimal

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = float(len(nodes))
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    rank = {v: _round_half_up(1.0 / n, 12) for v in nodes}
    for _ in range(iterations):
        # round-then-exact-decimal sums, mirroring the engine
        inflow = {v: Decimal(0) for v in nodes}
        for s, d, w in edges:
            inflow[d] += Decimal(str(_round_half_up(rank[s] * w / out_w[s], 12)))
        dm = float(sum((Decimal(str(rank[v])) for v in nodes if v not in out_w), Decimal(0)))
        rank = {
            v: _round_half_up((1.0 - damping) / n + damping * (float(inflow[v]) + dm / n), 12)
            for v in nodes
        }
    return {v: _round_half_up(r, 6) for v, r in rank.items()}


edge_strategy = st.lists(
    st.tuples(
        st.sampled_from("abcdef"),
        st.sampled_from("abcdef"),
        st.integers(min_value=1, max_value=9),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(raw=edge_strategy)
def test_pagerank_property_matches_python(spark, raw):
    # collapse duplicate (src, dst) into summed weights — the operator
    # takes an aggregated edge list
    agg: dict[tuple[str, str], float] = {}
    for s, d, w in raw:
        agg[(s, d)] = agg.get((s, d), 0.0) + float(w)
    edges = [(s, d, w) for (s, d), w in sorted(agg.items())]
    df = spark.createDataFrame(edges, ["src", "dst", "w"]).withColumn(
        "w", F.col("w").cast("double")
    )
    got = {r["node"]: r["rank"] for r in pagerank(df)[0].collect()}
    expected = _python_pagerank(edges)
    # allow 1-ulp-at-the-rounding-boundary slack: compare at 1e-6
    assert set(got) == set(expected)
    assert all(abs(got[k] - expected[k]) <= 1e-6 for k in got)


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


doc_strategy = st.lists(
    st.lists(st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=20).map(
        " ".join
    ),
    min_size=2,
    max_size=5,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=doc_strategy)
def test_containment_property_matches_python(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, j) for i in range(len(texts)) for j in range(i + 1, len(texts))],
        ["id_a", "id_b"],
    )
    got = {
        (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in D.containment_for_pairs(docs, pairs, "doc_id", "text").collect()
    }
    for (i, j), (cab, cba) in got.items():
        a, b = _py_shingles(texts[i]), _py_shingles(texts[j])
        inter = len(a & b)
        assert cab == inter / len(a)
        assert cba == inter / len(b)


# ---------------------------------------------------------------------------
# Star-contraction connected components vs union-find
# ---------------------------------------------------------------------------


def _python_components(edge_list):
    """Union-find reference: node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_stars_cc_matches_union_find(spark, edge_list):
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels, _ = connected_components_stars(edges)
    got = {r.node: r.cluster_id for r in labels.collect()}
    want = {
        n: c for n, c in _python_components(edge_list).items()
        # self-loop-only nodes are singletons: the operator omits them
        # (callers fold singletons back), the reference keeps them
        if any(a != b and n in (a, b) for a, b in edge_list)
    }
    assert got == want
