"""SQL-string API surface: the engine is equally drivable via
``spark.sql`` over registered views — same Catalyst plans as the
DataFrame API. One representative multi-join analytical query (TPC-H
Q3 shape) pins the surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table

_Q3 = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


@register(
    "sql_tpch_q3",
    doc="SQL-string API: TPC-H Q3 shape via spark.sql over registered views (same Catalyst plan as DataFrame API)",
    oracle=_Q3.format(customer="customer", orders="orders", lineitem="lineitem"),
)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    return spark.sql(_Q3.format(customer="v_customer", orders="v_orders", lineitem="v_lineitem"))


_Q17 = """
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
       COUNT(*) AS n_lines
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM {lineitem} l2 WHERE l2.l_partkey = l.l_partkey
)
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@register(
    "sql_tpch_q17",
    doc=(
        "SQL-string API: TPC-H Q17 shape — correlated scalar subquery (per-part avg) that "
        "Catalyst decorrelates into an aggregate + join, no per-row re-scan. AVG is exact "
        "here (integral quantities sum exactly in double), so the threshold is deterministic"
    ),
    oracle=_Q17.format(lineitem="lineitem", part="part"),
)
def sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    return spark.sql(_Q17.format(lineitem="v_lineitem", part="v_part"))


_Q18 = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS total_price,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l2.l_orderkey FROM {lineitem} l2
    GROUP BY l2.l_orderkey
    HAVING SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY total_price DESC, o.o_orderkey
LIMIT 100
"""


@register(
    "sql_tpch_q18",
    doc=(
        "SQL-string API: TPC-H Q18 shape — IN over a grouped HAVING subquery "
        "(large-volume orders). Catalyst rewrites the IN to a left-semi join "
        "against the pre-aggregated subquery, so the big fact is scanned twice "
        "but shuffled on the same key both times; DECIMAL quantity sums keep the "
        "HAVING threshold bit-deterministic"
    ),
    oracle=_Q18.format(customer="customer", orders="orders", lineitem="lineitem"),
)
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    return spark.sql(_Q18.format(customer="v_customer", orders="v_orders", lineitem="v_lineitem"))


_Q22 = """
SELECT c.c_mktsegment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM {customer} c
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
        * (SELECT COUNT(*) FROM {customer} WHERE c_acctbal > 0.0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM {customer} WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-08-01 00:00:00'
  )
GROUP BY c.c_mktsegment
"""


@register(
    "sql_tpch_q22",
    doc=(
        "SQL-string API: TPC-H Q22 shape — dormant above-average-balance "
        "customers per segment: two uncorrelated scalar subqueries (broadcast as "
        "literals) + correlated NOT EXISTS (left-anti join). The above-average "
        "test is written multiply-through (bal * n > total) so both sides stay "
        "exact DECIMAL/BIGINT — no float-boundary flakiness between engines"
    ),
    oracle=_Q22.format(customer="customer", orders="orders"),
)
def sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    return spark.sql(_Q22.format(customer="v_customer", orders="v_orders"))


PYDS_N = 60_000
PYDS_SHARDS = 8


def _pyds_oracle() -> str:
    from spk_sl_validation_spark.sources.pyds import oracle_sql

    return f"""
WITH src AS ({oracle_sql(PYDS_N, PYDS_SHARDS)})
SELECT shard,
       count(*) AS n_events,
       CAST(SUM(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM src GROUP BY shard
"""


@register(
    "python_datasource_scan",
    doc=(
        f"custom Python DataSource (Spark 4 pyspark.sql.datasource API): "
        f"{PYDS_N} deterministic records planned as {PYDS_SHARDS}-way "
        "parallel input partitions, aggregated per shard — the modern "
        "connector extension point, verified end to end because the DuckDB "
        "oracle replays the generator arithmetic exactly"
    ),
    oracle=_pyds_oracle(),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources import pyds

    pyds.register(spark)
    src = (
        spark.read.format(pyds.FORMAT_NAME)
        .option("n", str(PYDS_N))
        .option("shards", str(PYDS_SHARDS))
        .load()
    )
    return src.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round("value", 3).cast("decimal(18,3)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "python_datasource_stream",
    doc=(
        "custom Python DataSource ON A STREAM (Spark 4 partitioned "
        "DataSourceStreamReader): the same deterministic generator served "
        "through the streaming offset protocol (one availableNow "
        "microbatch; the driver only plans offset spans + per-shard range "
        "partitions, rows generate EXECUTOR-side; recovery re-plans "
        "committed spans via partitions(start, end)), aggregated per "
        "shard — stream == the batch connector == the generator-replay "
        "oracle"
    ),
    oracle=_pyds_oracle(),
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.sources import pyds
    from spk_sl_validation_spark.streaming.pipeline import run_available_now

    pyds.register(spark)
    src = (
        spark.readStream.format(pyds.FORMAT_NAME)
        .option("n", str(PYDS_N))
        .option("shards", str(PYDS_SHARDS))
        .load()
    )
    agg = src.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round("value", 3).cast("decimal(18,3)")).alias("__sum_dec"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        "shard",
        "n_events",
        F.col("__sum_dec").cast("double").alias("sum_value"),
        "min_id",
        "max_id",
    )
