"""Relational operator queries (SURVEY.md §2.2–§2.8 coverage).

Each query exercises one (or a tight cluster) of the reference's
operators on the driver's TPC-H-ish testdata, with a DuckDB oracle.
The mapping to the reference operator ids from SURVEY.md §2 is noted
per query. Reference evidence lives in the operator implementations
(operators/…); queries here compose them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.functions.scalar import neq, slash_key, status_str, strip_prefix
from spk_sl_validation_spark.operators import relational as R
from spk_sl_validation_spark.operators.rules import Guard, Rule, compile_to_column, compile_to_sql
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


def _dec(c, p: int = 18, s: int = 2):
    """Exact-decimal accumulator: deterministic across engines."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


def _cents(c) -> F.Column:
    """Exact integer fixed-point units (cents) for a 2-decimal money
    column — feeds operators.relational.exact_fixed_point_agg."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# Aggregation + filter (F1/E7-E9/A1): TPC-H Q1 shape — the headline scan+agg.
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    headline=True,
    doc="TPC-H Q1 shape: filter → groupBy 2 keys → 8 aggregates (A1, E7, F1)",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)           AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)      AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)   AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)        AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            / COUNT(*) AS DOUBLE)                                       AS avg_qty,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
            / COUNT(*) AS DOUBLE)                                       AS avg_disc,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money aggregation runs as two-level exact fixed-point (long cents
    # inside codegen, decimal merge over partition partials) — measured
    # 1.3x faster than a decimal chain on this shape with bit-identical
    # doubles; see operators.relational.exact_fixed_point_agg for the
    # overflow analysis that makes it corpus-size-safe.
    li = load_table(spark, sf_dir, "lineitem")
    qc, pc, dc, tc = (_cents(c) for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    agg = R.exact_fixed_point_agg(
        filtered,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": (qc, 1e2),
            "sum_base_price": (pc, 1e2),
            "sum_disc_price": (pc * (F.lit(100) - dc), 1e4),
            "sum_charge": (pc * (F.lit(100) - dc) * (F.lit(100) + tc), 1e6),
            "__sum_disc": (dc, 1e2),
        },
        count_alias="count_order",
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("__sum_disc") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# Pure filter + projection (F1/F5/E8/E9): pushdown-friendly scan slice.
# ---------------------------------------------------------------------------

@register(
    "filter_shipdate_window",
    doc="timestamp-range + numeric predicate filter, projected scan (F1, E8, P1)",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_discount > 0.05
""",
)
def filter_shipdate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_shipdate")


# ---------------------------------------------------------------------------
# Predicate surface (E4/E9/E10/E11): ==, !=, isin, startswith, null tests.
# ---------------------------------------------------------------------------

@register(
    "predicate_surface",
    doc="compound predicates: equality, null-safe !=, IN-list, prefix (E4/E9/E10/E11)",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       (o_orderpriority LIKE '1%') AS is_urgent,
       (o_orderstatus IS DISTINCT FROM 'F') AS not_f
FROM orders
WHERE o_orderstatus = 'O'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_custkey IS NOT NULL
""",
)
def predicate_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_custkey").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.col("o_orderpriority").startswith("1").alias("is_urgent"),
            neq(F.col("o_orderstatus"), "F").alias("not_f"),
        )
    )


# ---------------------------------------------------------------------------
# Derived keys (E1/E2/E3/E5): slash-concat keys, literal concat, substring.
# ---------------------------------------------------------------------------

@register(
    "derived_keys",
    doc="string key derivation: concat_ws, literal concat, prefix strip (E1/E2/E3)",
    oracle="""
SELECT CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) AS line_key,
       CAST(l_orderkey AS VARCHAR) || '/3090'                              AS apex_key,
       SUBSTRING(CAST(l_partkey AS VARCHAR), 4)                            AS part_suffix,
       l_orderkey, l_linenumber
FROM lineitem
WHERE l_orderkey < 1000
""",
)
def derived_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    ok = F.col("l_orderkey").cast("string")
    return li.select(
        slash_key(ok, F.col("l_linenumber").cast("string")).alias("line_key"),
        F.concat(ok, F.lit("/3090")).alias("apex_key"),
        strip_prefix(F.col("l_partkey").cast("string"), 3).alias("part_suffix"),
        "l_orderkey",
        "l_linenumber",
    )


# ---------------------------------------------------------------------------
# Cast normalization (E5/E6): the reference's double→long→string chain.
# ---------------------------------------------------------------------------

@register(
    "cast_normalize",
    doc="type normalization: double→long→string status chain (E5/E6, SL_SPK_Cleansing.py:65)",
    oracle="""
SELECT CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS qty_status,
       COUNT(*) AS n
FROM lineitem
GROUP BY 1
""",
)
def cast_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(status_str("l_quantity").alias("qty_status"))
        .groupBy("qty_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Broadcast dim enrichment (J1–J3 shape): fact ⟕ dim ⟕ dim.
# ---------------------------------------------------------------------------

@register(
    "broadcast_enrich",
    headline=True,
    doc="fact ⟕ part ⟕ supplier broadcast enrichment (J1–J3, P1/P2)",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
       p.p_brand, p.p_type, s.s_name
FROM lineitem l
LEFT JOIN part p     ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
""",
)
def broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = R.left_join(li, part, on=li.l_partkey == part.p_partkey)
    out = R.left_join(out, supp, on=out.l_suppkey == supp.s_suppkey)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "p_brand", "p_type", "s_name")


# ---------------------------------------------------------------------------
# Computed-key join (J8): join on an expression-derived string key.
# ---------------------------------------------------------------------------

@register(
    "join_computed_key",
    doc="left join on a computed string key (J8, SL_SPK_Cleansing.py:228 shape)",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, o.o_orderpriority
FROM lineitem l
LEFT JOIN orders o
  ON CAST(l.l_orderkey AS VARCHAR) = CAST(o.o_orderkey AS VARCHAR)
WHERE l.l_orderkey < 2000
""",
)
def join_computed_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_orderpriority")
    joined = R.left_join(li, o, on=li.l_orderkey.cast("string") == o.o_orderkey.cast("string"))
    return joined.select("l_orderkey", "l_linenumber", "o_orderstatus", "o_orderpriority")


# ---------------------------------------------------------------------------
# Semi / anti joins (SJ1–SJ3, AJ1/AJ2): the validity-split machinery.
# ---------------------------------------------------------------------------

@register(
    "semi_join_exists",
    doc="EXISTS membership filter (SJ1, SL_SPK_Cleansing.py:96-103)",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
""",
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return R.semi_join(o, li, on=o.o_orderkey == li.l_orderkey, broadcast_build=False).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "anti_join_not_exists",
    doc="NOT EXISTS validity split (AJ1/AJ2, SL_SPK_Cleansing.py:107-110,249-253)",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderdate
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00')
""",
)
def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return R.anti_join(o, li, on=o.o_orderkey == li.l_orderkey, broadcast_build=False).select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )


# ---------------------------------------------------------------------------
# Union + dedup (U1/D1): invalid = expired ∪ blocked, dedup'd.
# ---------------------------------------------------------------------------

@register(
    "union_dedup",
    doc="union-all of two slices + distinct (U1+D1, SL_SPK_Cleansing.py:84-91)",
    oracle="""
SELECT DISTINCT o_orderkey, o_orderstatus
FROM (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
)
""",
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderstatus")
    return R.union_all(a, b).distinct()


# ---------------------------------------------------------------------------
# Duplicate marking (D2): the reference's one window operator.
# ---------------------------------------------------------------------------

@register(
    "dup_mark_window",
    doc="mark ALL members of >1 groups (D2, SL_SPK_Cleansing.py:128)",
    oracle="""
SELECT l_orderkey, l_linenumber,
       (COUNT(*) OVER (PARTITION BY l_orderkey) > 1) AS is_dup
FROM lineitem
WHERE l_orderkey < 3000
""",
)
def dup_mark_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    return R.mark_duplicates(li, ["l_orderkey"]).select("l_orderkey", "l_linenumber", "is_dup")


# ---------------------------------------------------------------------------
# Deterministic dedup-first (D1 with total order).
# ---------------------------------------------------------------------------

@register(
    "dedup_first_per_key",
    doc="drop_duplicates with deterministic winner (D1, SL_SPK_Cleansing.py:91)",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey FROM (
  SELECT l_orderkey, l_linenumber, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return R.dedup_first(
        li, ["l_orderkey"], order_by=[F.col("l_linenumber"), F.col("l_partkey")]
    ).select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )


# ---------------------------------------------------------------------------
# Group-sum over all numeric columns (A1, Status_Cleansing.py:104).
# ---------------------------------------------------------------------------

@register(
    "group_sum_events",
    doc="groupBy key, sum numeric columns (A1, Status_Cleansing.py:103-104)",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def group_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(_dec("value")).cast("double").alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Rule cascade (E12 — the heart of the reference), dual-compiled.
# ---------------------------------------------------------------------------

def _lineitem_rules() -> list[Rule]:
    """A cascade with every guard flavor the oracle can express:
    IF_NULL first-match rules, an ALWAYS overwrite, a null-safe !=,
    and an unconditional fallback — the A-cascade shape
    (SL_SPK_Cleansing.py:119-303) re-expressed on lineitem."""
    return [
        Rule(
            "big_qty",
            F.col("l_quantity") > 45,
            "check: unusually large quantity",
            Guard.IF_NULL,
            condition_sql="l_quantity > 45",
        ),
        Rule(
            "returned",
            F.col("l_returnflag") == "R",
            "MDO action: returned line",
            Guard.ALWAYS,
            condition_sql="l_returnflag = 'R'",
        ),
        Rule(
            "not_open",
            neq(F.col("l_linestatus"), "O"),
            "closed line",
            Guard.IF_NULL,
            condition_sql="l_linestatus IS DISTINCT FROM 'O'",
        ),
        Rule(
            "fallback",
            F.lit(True),
            "Ok, no action",
            Guard.IF_NULL,
            condition_sql="TRUE",
        ),
    ]


def _lineitem_rules_sql_only() -> list[Rule]:
    """The same cascade with SQL-only conditions — Column construction
    needs an active Spark session, but oracle generation happens at
    import time. tests/test_queries.py asserts the two stay in sync
    (same condition_sql/messages → identical compile_to_sql output)."""
    return [
        Rule("big_qty", None, "check: unusually large quantity", Guard.IF_NULL,
             condition_sql="l_quantity > 45"),
        Rule("returned", None, "MDO action: returned line", Guard.ALWAYS,
             condition_sql="l_returnflag = 'R'"),
        Rule("not_open", None, "closed line", Guard.IF_NULL,
             condition_sql="l_linestatus IS DISTINCT FROM 'O'"),
        Rule("fallback", None, "Ok, no action", Guard.IF_NULL, condition_sql="TRUE"),
    ]


@register(
    "rule_cascade_comment",
    headline=True,
    doc="ordered rule cascade with ALWAYS-overwrite + null-safe != (E12, SURVEY.md §2.8)",
    oracle=(
        "SELECT l_orderkey, l_linenumber,\n"
        f"       {compile_to_sql(_lineitem_rules_sql_only())} AS Comment\n"
        "FROM lineitem"
    ),
)
def rule_cascade_comment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        compile_to_column(_lineitem_rules()).alias("Comment"),
    )


# ---------------------------------------------------------------------------
# Top-K per group (window): standard OLAP addition.
# ---------------------------------------------------------------------------

@register(
    "top_k_per_group",
    doc="top-3 rows per group by value with unique tiebreak (window row_number)",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
  FROM lineitem
) WHERE rank <= 3
""",
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = R.top_k_per_group(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3,
    )
    return out.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rank")


# ---------------------------------------------------------------------------
# Comment backfill + coalesce (J11/J12 + E13): Analysis column.
# ---------------------------------------------------------------------------

@register(
    "coalesce_backfill",
    doc="left-join comment backfill + coalesce into Analysis (J11/J12, E13, SL_SPK_Cleansing.py:305-319)",
    oracle="""
SELECT o.o_orderkey, o.o_orderstatus,
       COALESCE(r.ret_comment, 'no returned lines') AS Analysis
FROM orders o
LEFT JOIN (
  SELECT l_orderkey, 'has ' || CAST(COUNT(*) AS VARCHAR) || ' returned lines' AS ret_comment
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
) r ON o.o_orderkey = r.l_orderkey
""",
)
def coalesce_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.concat(
                F.lit("has "), F.count(F.lit(1)).cast("string"), F.lit(" returned lines")
            ).alias("ret_comment")
        )
    )
    joined = R.left_join(o, returned, on=o.o_orderkey == returned.l_orderkey)
    return joined.select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce(F.col("ret_comment"), F.lit("no returned lines")).alias("Analysis"),
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg (headline): revenue per nation (J-chain + A1 at scale).
# ---------------------------------------------------------------------------

@register(
    "revenue_by_nation",
    headline=True,
    doc="3-way fact⟕dim⟕dim join + aggregation (join-chain shape at scale)",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pc, dc = _cents("l_extendedprice"), _cents("l_discount")
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .withColumn("nation", F.col("n_name"))
    )
    # Same two-level exact fixed-point money sum as pricing_summary.
    return R.exact_fixed_point_agg(
        joined,
        ["nation"],
        {"revenue": (pc * (F.lit(100) - dc), 1e4)},
        count_alias="n_lines",
    )


# ---------------------------------------------------------------------------
# Sessionization (lag + gap cumsum): events table, window-function suite.
# ---------------------------------------------------------------------------

@register(
    "sessionize_events",
    doc="sessionization via lag(ts) + cumulative gap counter (window suite)",
    oracle="""
SELECT user_id, event_id, CAST(session_id AS BIGINT) AS session_id FROM (
  SELECT user_id, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
  )
)
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("user_id", "event_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch shape of the streaming op).
# ---------------------------------------------------------------------------

@register(
    "windowed_event_agg",
    doc="tumbling 1h window aggregation over event time (batch twin of streaming op)",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def windowed_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


FUZZY_MAX_DIST = 4


_FUZZY_ORACLE = f"""
WITH p AS (
  SELECT p_partkey, p_name,
         substr(p_name, 1, 1) || '|' || split_part(p_name, ' ', -1) AS blk
  FROM part
),
cand AS (
  SELECT a.p_partkey, a.p_name, b.p_partkey AS match_key, b.p_name AS match_name,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
   AND abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_DIST}
)
SELECT p_partkey, p_name, match_key, match_name, CAST(dist AS INTEGER) AS dist
FROM cand
WHERE dist <= {FUZZY_MAX_DIST}
QUALIFY row_number() OVER (PARTITION BY p_partkey ORDER BY dist, match_key) = 1
"""


@register(
    "fuzzy_match_parts",
    doc=(
        "entity resolution (record linkage): per part, its best fuzzy match — "
        "multi-attribute blocking (first char + last name token), levenshtein "
        f"<= {FUZZY_MAX_DIST} verify, rank (distance, key), keep the top "
        "match. Block-join + window, no all-pairs"
    ),
    oracle=_FUZZY_ORACLE,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best fuzzy match per record — the block-verify-rank shape every
    entity-resolution / record-linkage pipeline runs (supplier-master
    reconciliation, near-identical product names).

    Blocking is the recall/cost dial of record linkage: a single
    attribute (last name token) left 50M candidate pairs on the 20k
    sf0.1 catalog with 72% passing the distance filter — blocking
    that barely blocks. The multi-attribute key (first character +
    last token) cuts candidates ~20× at the standard price that a
    match differing in its FIRST character is missed. At 100 TB the
    same plan holds with higher-cardinality keys (phonetic code +
    length band, or char-n-gram MinHash bands — see ext/dedup.py);
    the verify cost is |block|² per block, never corpus², and the
    final window shares the block join's partitioning.
    """
    from spk_sl_validation_spark.ext.linkage import block_firstchar_lasttoken, fuzzy_best_match

    # Shared block-verify-rank operator (ext/linkage.py): probe side
    # spread by (blk, key) so the levenshtein loop parallelizes
    # regardless of input layout (measured 86 s → ~4 s on a 1-file
    # 20k-part table at local[32]); |len(a)-len(b)| lower-bound
    # prefilter before the O(len²) distance. This query pins the
    # bench blocking key (oracle replays it verbatim); the scaled
    # catalog uses the length-banded key — see linkage docstring and
    # the SCALE.md §7 fuzzy probes.
    return fuzzy_best_match(
        load_table(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        block_firstchar_lasttoken("p_name"),
        FUZZY_MAX_DIST,
    )


@register(
    "fuzzy_match_parts_collapsed",
    doc=(
        "entity resolution, exact-collapse-first: identical output to "
        "fuzzy_match_parts but the levenshtein verify runs over DISTINCT "
        "names (the dedup exact_first move) — O(distinct-names²) per block "
        "instead of O(records²); the production path when names repeat "
        "heavily (SCALE.md §7: 6.3e8 record pairs vs a 64x64 name problem "
        "on the 10x catalog). Oracle = the record-level SQL, verbatim: "
        "the whole point is bit-identical output"
    ),
    oracle=_FUZZY_ORACLE,
)
def fuzzy_match_parts_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.linkage import (
        block_firstchar_lasttoken,
        fuzzy_best_match_collapsed,
    )

    return fuzzy_best_match_collapsed(
        load_table(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        block_firstchar_lasttoken("p_name"),
        FUZZY_MAX_DIST,
    )
