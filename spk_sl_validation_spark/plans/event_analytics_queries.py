"""Event-analytics queries over the events table: funnel conversion,
cohort retention, SCD Type 2 interval derivation.

The classic warehouse trio a user of the reference would reach for
next once their cleansing pipeline feeds an events store. All three
are expressed as shuffle-minimal DataFrame plans keyed on ``user_id``
(consecutive per-user aggregates/windows reuse one hash partitioning;
AQE collapses the per-step funnel joins to broadcasts when a step's
survivor set is dim-sized) and value-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.events import RL_CAP, RL_RATE, rate_limit_oracle_sql
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table

_FUNNEL_HOURS = 24


@register(
    "funnel_conversion",
    doc=(
        "3-step ordered funnel (view → click ≤24h → purchase ≤24h): per step, "
        "users whose earliest qualifying event falls inside the window opened by "
        "the previous step. Each step is one groupBy(user) aggregate joined to "
        "the prior survivor set — same user_id shuffle key end to end"
    ),
    oracle=f"""
WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
        AND e.ts <= v.view_ts + INTERVAL {_FUNNEL_HOURS} HOUR
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
      JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        AND e.ts <= c.click_ts + INTERVAL {_FUNNEL_HOURS} HOUR
      GROUP BY e.user_id)
SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM v) AS n_users
UNION ALL
SELECT 2 AS step, 'click' AS event_type, (SELECT count(*) FROM c) AS n_users
UNION ALL
SELECT 3 AS step, 'purchase' AS event_type, (SELECT count(*) FROM p) AS n_users
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {_FUNNEL_HOURS} HOUR")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("view_ts")) & (F.col("ts") <= F.col("view_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("click_ts")) & (F.col("ts") <= F.col("click_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def step(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(n).alias("step"), F.lit(name).alias("event_type"), "n_users"
        )

    return step(v, 1, "view").unionAll(step(c, 2, "click")).unionAll(step(p, 3, "purchase"))


@register(
    "cohort_retention",
    doc=(
        "daily cohort retention triangle: users bucketed by first-activity day, "
        "counted once per (cohort, day-offset) they were active. One groupBy for "
        "the cohort map, one distinct + count — all shuffles on user_id/cohort "
        "keys, no row explosion"
    ),
    oracle="""
WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT e.user_id, f.cohort_day,
             CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT) AS day_offset
      FROM events e JOIN f ON f.user_id = e.user_id)
SELECT cohort_day, day_offset, count(*) AS n_active
FROM a GROUP BY cohort_day, day_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_day", "day_offset").agg(F.count(F.lit(1)).alias("n_active"))


@register(
    "scd2_intervals",
    headline=True,
    doc=(
        "SCD Type 2 derivation: collapse a per-user event log into "
        "change-only effective-dated intervals (valid_from, valid_to, "
        "is_current) — lag to drop no-op repeats, lead to close each interval. "
        "Both windows share one (user_id) partitioning; one shuffle total"
    ),
    oracle="""
WITH o AS (SELECT user_id, event_id, event_type AS status, ts,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
ch AS (SELECT user_id, event_id, status, ts AS valid_from FROM o
       WHERE prev IS NULL OR status <> prev)
SELECT user_id, status, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(lead(valid_from) OVER w IS NULL AS INT) AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
""",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = (
        ev.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("status"),
            "ts",
            F.lag("event_type").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("status") != F.col("prev")))
        .select("user_id", "event_id", "status", F.col("ts").alias("valid_from"))
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return ch.select(
        "user_id",
        "status",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().cast("int").alias("is_current"),
    )


@register(
    "cdc_apply_latest",
    doc=(
        "CDC apply: collapse a keyed change stream to final state — latest "
        "change per key wins by (ts, event_id), 'error' tombstones delete the "
        "key. WindowGroupLimit prunes to one row per key before the shuffle; "
        "this is the batch MERGE-from-changelog shape"
    ),
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
""",
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "temporal_dim_join",
    doc=(
        "point-in-time fact→SCD2-dim join: each purchase joins the interval "
        "covering the instant strictly before it (state-at-time-of-fact, the "
        "time-travel-correct warehouse join). Equi-join on user_id with a "
        "residual interval predicate — a hash join, not a BNLJ, because "
        "per-key interval counts are small"
    ),
    oracle="""
WITH o AS (SELECT user_id, event_id, event_type AS status, ts,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
ch AS (SELECT user_id, event_id, status, ts AS valid_from FROM o
       WHERE prev IS NULL OR status <> prev),
scd AS (
  SELECT user_id, status, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
  FROM ch
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       s.status AS status_before, s.valid_from AS state_since
FROM p LEFT JOIN scd s
  ON p.user_id = s.user_id
 AND s.valid_from < p.ts
 AND (s.valid_to IS NULL OR s.valid_to >= p.ts)
""",
)
def temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = (
        ev.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("status"),
            "ts",
            F.lag("event_type").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("status") != F.col("prev")))
        .select("user_id", "event_id", "status", F.col("ts").alias("valid_from"))
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    scd = ch.select(
        F.col("user_id").alias("s_user_id"),
        "status",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    cond = (
        (p.user_id == scd.s_user_id)
        & (scd.valid_from < p.ts)
        & (scd.valid_to.isNull() | (scd.valid_to >= p.ts))
    )
    return p.join(scd, cond, "left").select(
        "event_id",
        "user_id",
        "ts",
        F.col("status").alias("status_before"),
        F.col("valid_from").alias("state_since"),
    )


_INC_CUTOFF = "TIMESTAMP '2024-01-15 00:00:00'"


@register(
    "incremental_watermark_batch",
    doc=(
        "incremental batch consumption with a durable composite (ts, id) "
        "high-watermark (operators/incremental.py): run 1 processes history up "
        "to a cutoff and commits; the registered result is run 2's increment — "
        "exactly the rows lexicographically after the committed watermark, so "
        "rows sharing the watermark timestamp are not dropped (the classic "
        "incremental-ETL bug the composite key exists to prevent)"
    ),
    oracle=f"""
WITH b1 AS (SELECT ts, event_id FROM events WHERE ts <= {_INC_CUTOFF}),
wm AS (
  SELECT max(ts) AS wts,
         (SELECT max(event_id) FROM b1 WHERE ts = (SELECT max(ts) FROM b1)) AS wid
  FROM b1
)
SELECT e.event_id, e.ts, e.event_type
FROM events e CROSS JOIN wm
WHERE e.ts > wm.wts OR (e.ts = wm.wts AND e.event_id > wm.wid)
""",
)
def incremental_watermark_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from spk_sl_validation_spark.operators.incremental import (
        commit_watermark,
        incremental_rows,
    )

    ev = load_table(spark, sf_dir, "events")
    state_dir = tempfile.mkdtemp(prefix="spk_sl_inc_")
    # run 1: process everything up to the cutoff, commit its watermark
    batch1 = ev.filter(F.col("ts") <= F.expr(_INC_CUTOFF))
    commit_watermark(batch1, state_dir, "ts", "event_id")
    # run 2: the increment = rows strictly after the committed (ts, id)
    return incremental_rows(ev, state_dir, "ts", "event_id").select(
        "event_id", "ts", "event_type"
    )


PATH_LEN = 3
PATH_TOP_K = 20


@register(
    "event_paths_topk",
    doc=(
        f"top-{PATH_TOP_K} most-traveled {PATH_LEN}-step event paths "
        "(per-user ordered lead window → path string → count) — the "
        "Sankey / path-analysis primitive"
    ),
    oracle=f"""
WITH seq AS (
  SELECT event_type AS e0,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n
  FROM seq WHERE e1 IS NOT NULL AND e2 IS NOT NULL
  GROUP BY path
)
SELECT path, n FROM (
  SELECT path, n, row_number() OVER (ORDER BY n DESC, path ASC) AS rnk
  FROM paths
) WHERE rnk <= {PATH_TOP_K}
""",
)
def event_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-user consecutive event triple becomes a '>'-joined
    path string; counts are map-side-combined on the (bounded:
    |event_types|^3) path key, and the top-k ranks over the reduced
    path-count relation. The only corpus-scale exchange is the
    user_id window shuffle the other event analytics already pay —
    at 100 TB the path aggregation input is one row per event, the
    output is vocabulary-bounded. Ordering is deterministic under
    timestamp ties via the event_id tiebreak (same rule as
    transition_edges, ext/graph.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e0"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    paths = (
        seq.filter(F.col("e1").isNotNull() & F.col("e2").isNotNull())
        .select(F.concat_ws(">", "e0", "e1", "e2").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return (
        paths.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= PATH_TOP_K)
        .select("path", "n")
    )


@register(
    "pareto_abc_customers",
    doc=(
        "Pareto/ABC classification: customers ranked by exact DECIMAL "
        "revenue, cumulative share cut at 80%/95% into A/B/C tiers — the "
        "skew-documenting report (who is the head of the revenue "
        "distribution). Cumulative sums run as exact decimals over the "
        "customer-bounded aggregate relation, so shares are "
        "engine-identical; the corpus pays one hash aggregate"
    ),
    oracle="""
WITH r AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
),
c AS (
  SELECT o_custkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         SUM(rev) OVER () AS tot_rev
  FROM r
)
SELECT o_custkey,
       CAST(rev AS DOUBLE) AS revenue,
       round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) AS cum_share,
       CASE WHEN round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) <= 0.8 THEN 'A'
            WHEN round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
""",
)
def pareto_abc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC tiers from exact-decimal cumulative revenue shares.

    Scale note: the ordered cumulative window runs on the per-customer
    aggregate — dimension-bounded, orders of magnitude below the fact
    table; at true dimension scale partition the window by region and
    offset per-partition totals (the pack_sequences two-phase pattern).
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w_cum = Window.orderBy(F.col("rev").desc(), F.col("o_custkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = r.select(
        "o_custkey",
        "rev",
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.sum("rev").over(w_all).alias("tot_rev"),
    )
    share = F.round(F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double"), 6)
    return c.select(
        "o_custkey",
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
    )


@register(
    "cumulative_distinct_events",
    doc=(
        "running COUNT(DISTINCT) emulation — engines (Spark included) do "
        "not support DISTINCT aggregates over ordered windows, so the "
        "first occurrence of each (user, event_type) is marked via "
        "row_number and a running sum of marks gives the cumulative "
        "distinct-type count per user timeline; two windows sharing one "
        "user-keyed exchange"
    ),
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events WHERE user_id < 100
)
SELECT user_id, event_id, event_type,
       CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_types_so_far
FROM marked
""",
)
def cumulative_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn(
        "first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    )
    return marked.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


RFM_ASOF = "1998-08-02"  # analysis date: max o_orderdate in TPC-H is 1998-08-02


@register(
    "rfm_segmentation",
    doc=(
        "RFM customer segmentation: recency (days since last order at the "
        f"{RFM_ASOF} analysis date), frequency (order count), monetary "
        "(exact DECIMAL revenue), each scored into quintiles by ntile "
        "with full deterministic tiebreaks, concatenated into the segment "
        "code — one hash aggregate + dimension-bounded rank windows"
    ),
    oracle=f"""
WITH r AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), DATE '{RFM_ASOF}') AS recency_days,
         count(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT o_custkey, recency_days, frequency, CAST(monetary AS DOUBLE) AS monetary,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
  FROM r
)
SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
       CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_code
FROM s
""",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quintile RFM scores; ntile windows run on the customer-bounded
    aggregate (dimension-scale), every ordering fully tiebroken."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_ASOF).cast("date"), F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary_dec"),
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    w_m = Window.orderBy(F.col("monetary_dec").desc(), F.col("o_custkey").asc())
    s = r.select(
        "o_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )
    return s.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_code"),
    )


@register(
    "interval_overlap_months",
    doc=(
        "interval-overlap join decomposed into bucket memberships — the "
        "scalable plan for non-equi overlap joins: each supplier transit "
        "interval (shipdate..receiptdate) explodes into the calendar "
        "months it spans (sequence+explode, rows ∝ span), then a single "
        "hash aggregate yields per-(supplier, month) overlapping-interval "
        "counts and exact overlap days; the oracle replays it as the "
        "naive non-equi month-calendar join Spark would otherwise plan "
        "as a nested loop"
    ),
    oracle="""
WITH iv AS (
  -- this testdata's lineitem carries no receiptdate; transit span is
  -- derived deterministically from the line number (3..31 days)
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + CAST((l_linenumber * 7 + 3) AS INTEGER) AS r
  FROM lineitem WHERE l_suppkey < 50
),
bounds AS (SELECT min(s) AS lo, max(r) AS hi FROM iv),
months AS (
  SELECT unnest(generate_series(date_trunc('month', b.lo), date_trunc('month', b.hi),
                                INTERVAL 1 MONTH)) AS m
  FROM bounds b
),
j AS (
  SELECT iv.l_suppkey, months.m,
         date_diff('day',
                   greatest(iv.s, CAST(months.m AS DATE)),
                   least(iv.r, CAST(months.m + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE)))
           + 1 AS overlap_days
  FROM iv JOIN months
    ON iv.s <= CAST(months.m + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE)
   AND iv.r >= CAST(months.m AS DATE)
)
SELECT l_suppkey, m AS month,
       count(*) AS n_intervals,
       CAST(SUM(overlap_days) AS BIGINT) AS total_overlap_days
FROM j GROUP BY 1, 2
""",
)
def interval_overlap_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: no non-equi join anywhere — each
    interval explodes into its month buckets (rows proportional to the
    interval span, here <= 3), and overlap arithmetic is a narrow map.
    At 100 TB this is the shape that replaces the BroadcastNestedLoop
    plan a direct range predicate would produce."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    iv = li.select(
        "l_suppkey",
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(F.col("l_shipdate").cast("date"), F.col("l_linenumber") * 7 + 3).alias("r"),
    )
    exploded = iv.select(
        "l_suppkey",
        "s",
        "r",
        F.explode(
            F.expr("sequence(date_trunc('month', s), date_trunc('month', r), interval 1 month)")
        ).alias("m_ts"),
    ).withColumn("m", F.col("m_ts").cast("date"))  # date for overlap arithmetic
    month_end = F.expr("last_day(m)")
    overlap = (
        F.datediff(F.least(F.col("r"), month_end), F.greatest(F.col("s"), F.col("m"))) + 1
    )
    return (
        exploded.select("l_suppkey", "m_ts", overlap.alias("overlap_days"))
        .groupBy("l_suppkey", F.col("m_ts").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("overlap_days").cast("long").alias("total_overlap_days"),
        )
    )


RL_USERS = 60


@register(
    "rate_limit_accept",
    doc=(
        f"per-user token-bucket admission (cap {RL_CAP}, refill {RL_RATE}/s "
        "of event-time gap): the canonical inherently-sequential per-key "
        "fold — min(cap, tokens + dt*rate) is non-associative, so no "
        "window/prefix-sum decomposition exists; runs as an Arrow-batched "
        "ordered fold per user (applyInPandas, thousands of keys in "
        "parallel), value-verified against a recursive-CTE replay of the "
        "identical IEEE arithmetic"
    ),
    oracle=rate_limit_oracle_sql("events", f"user_id < {RL_USERS}"),
)
def rate_limit_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.events import rate_limit_accept as _rl

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < RL_USERS)
    return _rl(ev)
