"""Convergence mode (``eps``) of the three iterative algorithms — the
production story at 100 TB — against their fixed-iteration oracle mode
(``eps=None``), one loop each.

Two properties per algorithm:
1. parity — with ``eps=0`` and the fixed count as the cap, the
   convergence mode returns exactly the fixed-mode result (identical
   per-iteration arithmetic);
2. convergence — with a loose eps it stops before the cap, and the
   converged values are a fixed point (one more iteration moves every
   value ≤ eps).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.graph import ITERATIONS, pagerank, transition_edges
from spk_sl_validation_spark.ext.textrank import textrank_scores
from spk_sl_validation_spark.sources.readers import load_table


def _ranks(df):
    return dict(df.collect())


def test_pagerank_until_delta_parity_with_fixed(spark, sf_dir):
    edges = transition_edges(load_table(spark, sf_dir, "events"))
    fixed, n_fixed = pagerank(edges)
    assert n_fixed == ITERATIONS
    fixed = _ranks(fixed)
    conv, n_run = pagerank(edges, eps=0.0)
    assert n_run <= ITERATIONS
    assert _ranks(conv) == fixed


def test_pagerank_until_delta_converges_before_cap(spark, sf_dir):
    edges = transition_edges(load_table(spark, sf_dir, "events"))
    conv, n_run = pagerank(edges, n_iter=40, eps=1e-7)
    assert n_run < 40, "did not converge within the cap"
    # ranks still sum to ~1 after many iterations
    total = conv.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-3
    # converged = one more convergence run from scratch with a larger
    # budget lands on the same values (the fixed point is stable)
    conv2, n2 = pagerank(edges, n_iter=n_run + 5, eps=1e-7)
    assert _ranks(conv2) == _ranks(conv)


def test_textrank_until_delta_parity_with_fixed(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    fixed, n_fixed = textrank_scores(docs, n_iter=3)
    assert n_fixed == 3
    fixed = {r["tok"]: r["score"] for r in fixed.collect()}
    conv, n_run = textrank_scores(docs, n_iter=3, eps=0.0)
    assert n_run <= 3
    got = {r["tok"]: r["score"] for r in conv.collect()}
    assert got == fixed


def test_textrank_until_delta_converges(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    conv, n_run = textrank_scores(docs, n_iter=60, eps=1e-6)
    assert n_run < 60, "did not converge within the cap"
    scores = [r["score"] for r in conv.collect()]
    assert all(s > 0 for s in scores)


def test_kmeans_eps_parity_and_early_stop(spark, sf_dir):
    from spk_sl_validation_spark.ext.cluster import kmeans

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    _, fixed_c = kmeans(emb, "vec_id", "embedding", k=4, n_iter=3)
    _, conv_c = kmeans(emb, "vec_id", "embedding", k=4, n_iter=3, eps=0.0)
    assert np.array_equal(fixed_c, conv_c)
    # loose eps: converges well before a generous cap
    _, c1 = kmeans(emb, "vec_id", "embedding", k=4, n_iter=60, eps=1e-9)
    _, c2 = kmeans(emb, "vec_id", "embedding", k=4, n_iter=80, eps=1e-9)
    assert np.allclose(c1, c2, atol=1e-8)


# ---------------------------------------------------------------------------
# Connected components: star contraction, the one algorithm behind
# dedup_clusters (the DuckDB oracle replays min-label propagation).
# ---------------------------------------------------------------------------


def _cc_labels(spark, edge_list):
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels, rounds = connected_components_stars(edges)
    return {r.node: r.cluster_id for r in labels.collect()}, rounds


def test_stars_cc_long_chain_converges_in_log_rounds(spark):
    """A 10k-long chain — 9 999 propagation rounds, but star
    contraction lands in 15 (deterministic: rounds depend only on the
    graph structure; SCALE.md cites this as test-pinned)."""
    got, rounds = _cc_labels(spark, [(i, i + 1) for i in range(9_999)])
    assert rounds <= 15, rounds
    assert set(got.values()) == {0}
    assert len(got) == 10_000


def test_stars_cc_mixed_components(spark):
    edge_list = (
        [(i, i + 1) for i in range(99)]  # 100-node chain
        + [(200, 201), (201, 202), (202, 200)]  # triangle
        + [(300, 301)]  # pair
        + [(400, 401), (401, 402), (400, 402), (402, 403)]  # clique + tail
    )
    got, _ = _cc_labels(spark, edge_list)
    assert all(got[i] == 0 for i in range(100))
    assert got[200] == got[201] == got[202] == 200
    assert got[300] == got[301] == 300
    assert got[400] == got[401] == got[402] == got[403] == 400


def test_stars_cc_direction_and_duplicate_insensitive(spark):
    got, _ = _cc_labels(spark, [(2, 1), (1, 2), (2, 3), (3, 3), (5, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_dedup_clusters_raises_on_diameter_blowup(spark):
    """A near-dup CHAIN that needs more rounds than max_iterations
    must fail loudly, not return a silent partial labeling."""
    import pytest

    from spk_sl_validation_spark.ext.dedup import dedup_clusters

    # Sliding 30-word windows, stride 1: doc i shares 29/31 words with
    # doc i+1 (shingle Jaccard ≈ 0.93, so LSH at r=2,b=6 cannot miss
    # the consecutive edges) while the 0.8 verify threshold caps the
    # longest verified jump at i±3 — a genuine 60-node chain with
    # diameter ≈ 21 (checked offline via BFS over the verified pairs).
    words = [f"w{i}" for i in range(120)]
    docs_rows = [(i, " ".join(words[i : i + 30])) for i in range(60)]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    # star contraction needs ~2·log2(21) ≈ 9 rounds here, so a 5-round
    # cap must fail loudly
    with pytest.raises(ValueError, match="did not converge"):
        dedup_clusters(docs, jaccard_threshold=0.8, max_iterations=5).collect()
    # and with an adequate bound the whole chain is one component
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(docs, jaccard_threshold=0.8, max_iterations=20).collect()
    }
    assert got == {i: 0 for i in range(60)}


def test_stars_cc_empty_edges(spark):
    """Zero edges → zero labels in one round (and dedup_clusters
    degrades to all-singletons via the fold-back join)."""
    from spk_sl_validation_spark.ext.graph import connected_components_stars

    edges = spark.createDataFrame([], "src long, dst long")
    labels, rounds = connected_components_stars(edges)
    assert labels.count() == 0
    assert rounds == 1
