"""Graph centrality query: PageRank over the event-transition graph.

The DuckDB oracle replays the identical computation — same edge
derivation (per-user lag with a unique tiebreak), same damping, same
dangling-mass redistribution, and the same per-step round(…, 12)
re-synchronization — as unrolled CTEs, one pair (inflow, dangling)
per power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.graph import DAMPING, ITERATIONS, pagerank, transition_edges
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


def _pagerank_oracle(damping: float = DAMPING, iterations: int = ITERATIONS) -> str:
    steps = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        steps.append(
            f"""inf{i} AS (
  SELECT e.dst AS node,
         CAST(sum(CAST(round(r.rank * e.w / o.out_w, 12) AS DECIMAL(28,12))) AS DOUBLE)
           AS inflow
  FROM edges e
  JOIN outw o ON o.src = e.src
  JOIN {prev} r ON r.node = e.src
  GROUP BY e.dst
),
dang{i} AS (
  SELECT coalesce(CAST(sum(CAST(r.rank AS DECIMAL(28,12))) AS DOUBLE), 0.0) AS dm
  FROM {prev} r
  WHERE r.node NOT IN (SELECT src FROM edges)
),
r{i} AS (
  SELECT n.node,
         round((1.0 - {damping}) / nn.n
               + {damping} * (coalesce(f.inflow, 0.0) + d.dm / nn.n), 12) AS rank
  FROM nodes n
  LEFT JOIN inf{i} f ON f.node = n.node
  CROSS JOIN nn
  CROSS JOIN dang{i} d
)"""
        )
    iter_ctes = ",\n".join(steps)
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
edges AS (
  SELECT prev AS src, event_type AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM seq WHERE prev IS NOT NULL
  GROUP BY 1, 2
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
r0 AS (SELECT node, round(1.0 / nn.n, 12) AS rank FROM nodes CROSS JOIN nn),
{iter_ctes}
SELECT node, round(rank, 6) AS rank FROM r{iterations}
"""


@register(
    "graph_pagerank_events",
    doc=(
        "link-style centrality for corpus curation: per-user consecutive-event "
        "transition edges (lag window + count), then weighted PageRank with "
        f"dangling redistribution, {ITERATIONS} unrolled power iterations at "
        f"d={DAMPING} — edge derivation is the 100 TB stage, iterations join "
        "the small aggregated graph"
    ),
    oracle=_pagerank_oracle(),
)
def graph_pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ranks, _ = pagerank(transition_edges(events))
    return ranks


@register(
    "graph_triangle_parts",
    doc=(
        "per-node triangle counts + local clustering coefficient over the "
        "parts-co-ordered-together graph (market-basket co-occurrence), "
        "degree-ordered edge orientation (Suri-Vassilvitskii): oriented "
        "out-degree is O(sqrt(m)), so the wedge join is O(m^1.5) regardless "
        "of hub skew — a star's hub generates zero wedges"
    ),
    oracle="""
WITH it AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
e AS (
  SELECT DISTINCT a.i AS a, b.i AS b
  FROM it a JOIN it b ON a.g = b.g AND a.i < b.i
),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst,
         CASE WHEN (da.degree < db.degree) OR (da.degree = db.degree AND e.a < e.b)
              THEN db.degree ELSE da.degree END AS dst_deg
  FROM e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
),
tri AS (
  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
  FROM oriented o1
  JOIN oriented o2 ON o1.src = o2.src
   AND ((o1.dst_deg < o2.dst_deg) OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
  WHERE EXISTS (SELECT 1 FROM oriented c WHERE c.src = o1.dst AND c.dst = o2.dst)
),
per_node AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
  GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(p.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * coalesce(p.n_triangles, 0) AS DOUBLE) / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN per_node p ON p.node = d.node
""",
)
def graph_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle / clustering-coefficient analytics (SURVEY.md SS2.6
    extension; the reference has no graph surface). See
    ext/graph.py triangle_counts for the orientation argument."""
    from spk_sl_validation_spark.ext.graph import co_occurrence_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_counts(co_occurrence_edges(li, "l_orderkey", "l_partkey"))


MIN_SUPPORT = 2  # pair must co-occur in at least this many baskets


@register(
    "basket_association_rules",
    doc=(
        f"market-basket association rules: part pairs co-ordered in >= "
        f"{MIN_SUPPORT} orders with support, both-direction confidence, and "
        "lift. Pair counting is one C(k,2)-bounded self-join + hash "
        "aggregate; item supports and the basket count broadcast back onto "
        "the (already support-filtered) pair relation"
    ),
    oracle=f"""
WITH it AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
nb AS (SELECT count(DISTINCT g) AS n_baskets FROM it),
item AS (SELECT i, count(*) AS s_item FROM it GROUP BY i),
pair AS (
  SELECT a.i AS a, b.i AS b, count(*) AS support
  FROM it a JOIN it b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_SUPPORT}
)
SELECT p.a, p.b, p.support,
       ia.s_item AS support_a, ib.s_item AS support_b,
       CAST(p.support AS DOUBLE) / ia.s_item AS confidence_ab,
       CAST(p.support AS DOUBLE) / ib.s_item AS confidence_ba,
       CAST(p.support * nb.n_baskets AS DOUBLE) / (ia.s_item * ib.s_item) AS lift
FROM pair p
JOIN item ia ON ia.i = p.a
JOIN item ib ON ib.i = p.b
CROSS JOIN nb
""",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (support/confidence/lift) over order
    baskets — the Apriori pair stage as pure relational algebra. Scale
    shape: pair counting shuffles C(k,2) rows per basket (bounded by
    basket size) into one hash aggregate; the HAVING prunes to the
    interesting pairs BEFORE the stats joins, item supports join back
    as a broadcast (item-vocabulary-sized), and n_baskets is a 1-row
    broadcast fan-in. Every derived measure is a single double
    division of exact integers — bit-stable across engines."""
    it = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("i"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by 3 subtrees (pairs, item, nb)
    )
    nb = it.agg(F.countDistinct("g").alias("n_baskets"))
    item = it.groupBy("i").agg(F.count(F.lit(1)).alias("s_item"))
    a, b = it.alias("l"), it.alias("r")
    pair = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("l.g") == F.col("r.g")) & (F.col("l.i") < F.col("r.i")),
        )
        .groupBy(F.col("l.i").alias("a"), F.col("r.i").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
    )
    ia = item.select(F.col("i").alias("a"), F.col("s_item").alias("support_a"))
    ib = item.select(F.col("i").alias("b"), F.col("s_item").alias("support_b"))
    return (
        pair.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "support",
            "support_a",
            "support_b",
            (F.col("support").cast("double") / F.col("support_a")).alias("confidence_ab"),
            (F.col("support").cast("double") / F.col("support_b")).alias("confidence_ba"),
            (
                (F.col("support") * F.col("n_baskets")).cast("double")
                / (F.col("support_a") * F.col("support_b"))
            ).alias("lift"),
        )
    )
