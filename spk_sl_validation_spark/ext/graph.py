"""Graph centrality over event-derived edges: PageRank, triangles and
connected components by star contraction.

North-star extension (no counterpart in the reference, whose surface
is tabular cleansing — SURVEY.md §2). Link-style centrality is a
standard web-corpus curation signal (Common Crawl ranks hosts by
harmonic/PageRank centrality to pick what to fetch and keep), and the
natural Spark shape is exactly this: derive an aggregated edge list
from the raw 100 TB fact table (the only scale-heavy stage, one
window + one shuffle), then run power iterations as joins over the
small aggregated graph.

Design notes for scale and determinism:

- **Edge derivation is the 100 TB stage.** ``transition_edges`` is a
  per-user ``lag`` window (one shuffle on user_id) followed by a
  groupBy count (one shuffle on the edge key). Both keys are
  well-distributed; no driver state.
- **Power iterations run on the aggregated graph.** The edge list is
  ``localCheckpoint``-ed once — each iteration joins
  against the materialized small relation instead of replaying the
  events scan (lineage otherwise doubles per iteration: rank_i feeds
  both the inflow term and the dangling-mass term).
- **No ``.collect()``.** Scalar fan-in (node count, dangling mass)
  stays in the plan as 1-row broadcast cross joins, the same pattern
  the quality queries use for corpus-level constants.
- **Cross-engine determinism.** Per-edge contributions and dangling
  masses are rounded to 12 decimals and summed as exact
  DECIMAL(28,12) — order-independent, so engine-specific summation
  order cannot diverge (the same round-then-exact-decimal rule as
  the LM scorers and TextRank); every rank update re-rounds to 12
  and the final output rounds to 6. The DuckDB oracle replays the
  identical expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Standard damping factor (Page et al. 1999).
DAMPING = 0.85

#: Fixed iteration count — enough to rank a near-complete transition
#: graph, and cheap to unroll in the SQL oracle.
ITERATIONS = 3


def transition_edges(
    events: DataFrame,
    node_col: str = "event_type",
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """(src, dst, w): per-user consecutive-event transitions, counted.

    The per-user ordering includes a unique tiebreak column so the
    edge multiset is deterministic under timestamp ties.
    """
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    seq = events.select(user_col, *order_cols, node_col).withColumn(
        "__prev", F.lag(node_col).over(w)
    )
    return (
        seq.filter(F.col("__prev").isNotNull())
        .groupBy(F.col("__prev").alias("src"), F.col(node_col).alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


def _pagerank_setup(edges: DataFrame):
    """(edges, nodes, n_df, out_w, ranks0): checkpointed edge list and
    the shared relations every power iteration reads."""
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    ranks0 = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), 12).alias("rank")
    )
    return edges, nodes, n_df, out_w, ranks0


def _pagerank_step(
    edges: DataFrame,
    nodes: DataFrame,
    n_df: DataFrame,
    out_w: DataFrame,
    ranks: DataFrame,
) -> DataFrame:
    """One synchronous power iteration of :func:`pagerank`."""
    contribs = (
        edges.join(F.broadcast(out_w), "src")
        .join(
            F.broadcast(ranks.withColumnRenamed("node", "src")),
            "src",
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.sum(
                F.round(F.col("rank") * F.col("w") / F.col("out_w"), 12)
                .cast("decimal(28,12)")
            )
            .cast("double")
            .alias("__inflow")
        )
    )
    dangling = (
        ranks.join(out_w, ranks.node == out_w.src, "left_anti")
        .agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(28,12)")).cast("double"),
                F.lit(0.0),
            ).alias("__dm")
        )
    )
    return (
        nodes.join(F.broadcast(contribs), "node", "left")
        .crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            F.round(
                F.lit(1.0 - DAMPING) / F.col("__n")
                + F.lit(DAMPING)
                * (
                    F.coalesce(F.col("__inflow"), F.lit(0.0))
                    + F.col("__dm") / F.col("__n")
                ),
                12,
            ).alias("rank"),
        )
    )


def linf_delta(cur: DataFrame, prev: DataFrame, key: str, val: str) -> float:
    """max |cur.val - prev.val| over the keys both frames share: the
    L∞ convergence probe of the iterative operators. One global
    aggregate, one scalar to the driver; it also materializes ``cur``'s
    lazy checkpoint, so the next iteration reads stored rows. An empty
    frame has a NULL max, read as 0.0: nothing left to move."""
    d = (
        cur.join(prev.withColumnRenamed(val, "__prev"), key)
        .agg(F.max(F.abs(F.col(val) - F.col("__prev"))).alias("d"))
        .first()["d"]
    )
    return 0.0 if d is None else d


def pagerank(
    edges: DataFrame, n_iter: int = ITERATIONS, eps: float | None = None
) -> tuple[DataFrame, int]:
    """(node, rank): weighted PageRank with dangling-mass
    redistribution, damping ``d = DAMPING``. Returns ``(ranks,
    n_iterations_run)``.

    update: rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out(u)
    + dangling/N), where dangling = Σ rank(u) over nodes with no
    out-edges. Both sums run over round(…, 12) values as exact
    DECIMAL(28,12) (order-independent); each update re-rounds to 12 —
    the DuckDB oracle's unrolled-CTE replay lands on identical doubles
    regardless of either engine's aggregation order.

    ``n_iter`` fixed power iterations (the oracle mode, cheap to unroll
    in SQL), or — when ``eps`` is given — iterate until the max
    per-node rank change ≤ ``eps`` (L∞, :func:`linf_delta`) with
    ``n_iter`` as the cap: the production mode at 100 TB, where a
    fixed unroll either wastes passes or stops short. With ``eps=0.0``
    and the same cap the ranks are bit-identical to the fixed mode
    (pinned by test): a zero delta is a fixed point, so stopping there
    changes nothing.
    """
    edges, nodes, n_df, out_w, ranks = _pagerank_setup(edges)
    it = 0
    for it in range(1, n_iter + 1):
        prev = ranks
        # rank_i feeds both next-iteration terms (inflow + dangling);
        # without truncation the lineage doubles per iteration. Lazy
        # checkpoint: materialized once at first use (the delta probe's
        # job in eps mode), N-node relation.
        ranks = _pagerank_step(edges, nodes, n_df, out_w, prev).localCheckpoint(eager=False)
        if eps is not None and linf_delta(ranks, prev, "node", "rank") <= eps:
            break
    return ranks.select("node", F.round("rank", 6).alias("rank")), it


def co_occurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """(a, b): undirected distinct co-occurrence edges — two items are
    adjacent iff they appear in the same group (parts co-ordered in one
    order, terms co-occurring in one document, …).

    Scale shape: the per-group self-join expands each group of size k
    into C(k,2) pairs — bounded by the group size, not the corpus, so
    it is safe whenever groups are naturally small (order baskets). A
    corpus with degenerate mega-groups needs the same cap/salt
    treatment as LSH buckets (ext/dedup.py MAX_BUCKET_SIZE) before this
    join.
    """
    it = df.select(F.col(group_col).alias("__g"), F.col(item_col).alias("__i")).distinct()
    a = it.alias("l")
    b = it.alias("r")
    # group-key self-join: both sides corpus-scale, shuffle-hash pinned
    # (stats often absent on derived relations -> SMJ default otherwise)
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("l.__g") == F.col("r.__g")) & (F.col("l.__i") < F.col("r.__i")),
        )
        .select(F.col("l.__i").alias("a"), F.col("r.__i").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, degree, n_triangles, clustering_coeff): per-node triangle
    participation and local clustering coefficient over an undirected
    edge list ``(a, b)`` with a < b and no self-loops.

    Degree-ordered orientation (the classic external-memory / MapReduce
    formulation, Suri & Vassilvitskii WWW'11): orient every edge from
    its lower-(degree, node) endpoint to the higher one, so each
    triangle {x ≺ y ≺ z} is found exactly once as the wedge y←x→z plus
    the closing oriented edge y→z. Oriented out-degree is O(√m), which
    bounds the wedge join by O(m^1.5) regardless of skew — a star
    graph's hub generates NO wedges because all its edges point INTO
    it. The degree relation is node-sized and broadcasts onto the edge
    list; the wedge self-join shuffles on the wedge apex and the
    closing join on the (y, z) pair key — both well-distributed.
    Coefficients are a single double division of exact integers, so the
    oracle lands on identical bits.

    ``edges``, ``deg``, and ``oriented`` are each consumed by 2–3
    downstream subtrees; without materialization Spark INLINES every
    reference (the first plan audit measured 34 parquet scans and 97
    exchanges — the edge derivation replayed 17×), so all three are
    ``localCheckpoint``-ed once, the same lineage-truncation idiom as
    :func:`_pagerank_setup`. After checkpointing the whole query is
    6 exchanges and zero repeated scans (PLANS.md).
    """
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    e = (
        edges.join(F.broadcast(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "da")), "a")
        .join(F.broadcast(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).localCheckpoint(eager=True)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedge_lt = (F.col("o1.dst_deg") < F.col("o2.dst_deg")) | (
        (F.col("o1.dst_deg") == F.col("o2.dst_deg")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(
        o2.hint("shuffle_hash"), (F.col("o1.src") == F.col("o2.src")) & wedge_lt
    ).select(
        F.col("o1.src").alias("x"), F.col("o1.dst").alias("y"), F.col("o2.dst").alias("z")
    )
    closing = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    triangles = wedges.join(closing.hint("shuffle_hash"), ["y", "z"], "leftsemi")
    per_node = (
        triangles.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node.hint("shuffle_hash"), "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2) * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def connected_components_stars(
    edges: DataFrame, max_rounds: int = 60
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): O(log² n) rounds (~2·log n in practice)
    whatever the diameter, where min-label propagation needs one round
    per unit of diameter and fails outright on long chains (SCALE.md
    §7).

    ``edges`` is any (src, dst) pair list (direction ignored,
    self-loops dropped). Returns ``(labels, n_rounds)`` where labels
    is (node, cluster_id = component-min id) covering every node that
    appears in the edge list; callers fold singletons back with one
    left join.

    One round = large-star (every node points its strictly-larger
    neighbors at the min of its closed neighborhood — keeps the graph
    connected while halving tall trees) then small-star (every node
    folds its ≤-neighbors and itself onto its min — contracts to
    stars). Fixpoint ⟺ the edge set is a star forest rooted at
    component minima (Theorem 1 of the paper), checked EXACTLY per
    round (count + one-sided exceptAll, two cheap jobs on the
    contracting edge relation — a hash/sum proxy could alias).
    Each star step is one groupBy-min + one hash join on the CURRENT
    edge relation, which only ever shrinks toward one-edge-per-node;
    ``localCheckpoint`` truncates lineage per round as in
    :func:`pagerank`.
    """
    # orient large -> small: (src, dst) with src > dst
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for rounds in range(1, max_rounds + 1):
        # -- large-star: emit (v, min(Γ(u) ∪ {u})) for every v ∈ Γ(u), v > u --
        sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        lmin = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("m0"))
            .select("src", F.least("m0", "src").alias("m"))
        )
        large = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # -- small-star: fold every ≤-neighbor and u itself onto min(Γ⁻(u)) --
        smin = large.groupBy("src").agg(F.min("dst").alias("m"))
        new_e = (
            large.join(smin, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(smin.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            new_e.count() == e.count() and new_e.exceptAll(e).limit(1).count() == 0
        )
        e = new_e
        if converged:
            break
    else:
        raise ValueError(
            f"connected_components_stars did not converge in {max_rounds} rounds"
        )
    labels = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
        .unionAll(e.select(F.col("dst").alias("node"), F.col("dst").alias("cluster_id")))
        .distinct()
    )
    return labels, rounds
