"""Scale-machinery queries: skew-mitigation operators whose results
must be *identical* to the naive plan — the oracle is the plain SQL
the salted/bucketed execution replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.operators.skew import salted_group_agg
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


@register(
    "salted_group_sum",
    doc="two-phase salted aggregation on a skewed low-cardinality key == plain GROUP BY (exact decimal sums)",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def salted_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_group_agg(ev, ["event_type"], sum_cols=["value_dec"], salt_source="event_id")
    return out.select(
        "event_type", F.col("sum_value_dec").cast("double").alias("sum_value"), "n"
    )


@register(
    "salted_join_agg",
    doc=(
        "salted large-to-large shuffle join on a 5-value (maximally skewed) key "
        "== plain equi-join: probe rows salt by row-hash, build side replicated "
        "n_salts x, so one hot key spreads over n_salts reducers. Aggregated "
        "with exact decimal sums so the comparison is bit-stable"
    ),
    oracle="""
WITH dim AS (
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS type_avg
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MAX(d.type_avg) AS type_avg
FROM events e JOIN dim d ON d.event_type = e.event_type
GROUP BY e.event_type
""",
)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.operators.skew import salted_shuffle_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias(
            "type_avg"
        )
    )
    joined = salted_shuffle_join(ev, dim, on=["event_type"], n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.max("type_avg").alias("type_avg"),
    )


# --- Z-order (Morton) clustered layout -------------------------------------
#
# Data-layout machinery for multi-dimensional range pruning at rest: rows
# sort by the bit-interleave of two key columns, files split on z-ranges,
# and each file's min/max footer then bounds BOTH dimensions, so a scan
# with a predicate on either key prunes most files (the technique behind
# Delta/Iceberg OPTIMIZE ZORDER). The z-value is pure integer bit math —
# identical in Spark and DuckDB — so the oracle replays the layout and the
# per-file stats exactly.

from spk_sl_validation_spark.ext.hashing import Z_BITS, z_value_expr, z_value_sql

_Z_FILES_SHIFT = 2 * Z_BITS - 4  # top 4 z-bits -> 16 files


@register(
    "layout_zorder_stats",
    doc=(
        "Z-order clustered file layout: interleave 16 bits of l_orderkey and "
        "l_partkey, split into 16 files on the top z-bits, report per-file "
        "min/max of both dims — the footer stats a z-clustered rewrite gives "
        "a 100 TB table so point/range predicates on either key prune files. "
        "One hash-agg shuffle of 16 groups; the z-value itself is codegen'd "
        "integer bit math, no UDF"
    ),
    oracle=f"""
WITH k AS (
  SELECT l_orderkey & 65535 AS x, l_partkey & 65535 AS y FROM lineitem
),
z AS (
  SELECT x, y, ({z_value_sql("x", "y")}) AS zval FROM k
)
SELECT zval >> {_Z_FILES_SHIFT} AS file_id,
       COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM z
GROUP BY file_id
""",
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = li.selectExpr("l_orderkey & 65535 AS x", "l_partkey & 65535 AS y")
    z = k.selectExpr("x", "y", f"({z_value_expr('x', 'y')}) AS zval")
    return (
        z.selectExpr(f"shiftright(zval, {_Z_FILES_SHIFT}) AS file_id", "x", "y")
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


SKEW_TOP_K = 10


@register(
    "skew_key_stats",
    doc=(
        f"join/agg-key skew diagnosis on events.user_id: top-{SKEW_TOP_K} heavy "
        "hitters with per-key and cumulative load share — the measurement that "
        "feeds the salting threshold in operators/skew.py"
    ),
    oracle=f"""
WITH keyed AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM keyed),
ranked AS (
  SELECT user_id, n,
         row_number() OVER (ORDER BY n DESC, user_id ASC) AS rnk,
         CAST(sum(n) OVER (ORDER BY n DESC, user_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
  FROM keyed
)
SELECT r.user_id, r.n,
       round(CAST(r.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share,
       round(CAST(r.cum_n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS cum_share,
       CAST(r.rnk AS INTEGER) AS rnk,
       t.n_keys, t.total
FROM ranked r CROSS JOIN tot t
WHERE r.rnk <= {SKEW_TOP_K}
""",
)
def skew_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a shuffle key before a big join/agg.

    The per-key count is one hash aggregation; ranking the hitters is
    a window over the (already reduced) key-count relation, and the
    totals ride a 1-row broadcast. `share`/`cum_share` divide exact
    integers, so the floats are bit-identical across engines. At
    100 TB the keyed aggregation is the same shuffle the diagnosed
    join would pay — run it once, decide salting from `share`
    (operators/skew.py treats keys above ~1/partitions as hot).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = keyed.agg(
        F.sum("n").cast("long").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    ranked = keyed.select(
        "user_id",
        "n",
        F.row_number().over(w).alias("rnk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("cum_n"),
    ).filter(F.col("rnk") <= SKEW_TOP_K)
    return ranked.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n",
        F.round(F.col("n").cast("double") / F.col("total").cast("double"), 6).alias("share"),
        F.round(F.col("cum_n").cast("double") / F.col("total").cast("double"), 6).alias("cum_share"),
        F.col("rnk").cast("int").alias("rnk"),
        "n_keys",
        "total",
    )
