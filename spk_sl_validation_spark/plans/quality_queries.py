"""Data-quality utility queries: referential integrity, one-scan
column profiling, equi-depth histograms.

The reference's whole purpose is master-data quality; these are the
generic checks its user would run next. All three are single-pass,
shuffle-light shapes: FK checks are broadcast-dim left joins counted
FILTER-style, the profiler is one aggregate per source scan emitted in
long format, and the histogram derives its bucket boundaries from the
exact distributed ``percentile`` aggregate (a global ``ntile`` would
force a single-partition sort — the boundaries-then-bucket plan keeps
every stage parallel at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


@register(
    "referential_integrity",
    doc=(
        "FK orphan audit: per declared foreign key, total rows and rows whose "
        "key has no match in the parent — a broadcast left join + conditional "
        "count per FK, unioned into one long-format report"
    ),
    oracle="""
SELECT 'orders.o_custkey->customer' AS fk, count(*) AS n_rows,
       count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS n_rows,
       count(*) FILTER (WHERE o2.o_orderkey IS NULL) AS n_orphans
FROM lineitem l LEFT JOIN orders o2 ON o2.o_orderkey = l.l_orderkey
""",
)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fk_check(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, label: str) -> DataFrame:
        j = child.select(ckey).join(
            F.broadcast(parent.select(pkey).distinct()),
            child[ckey] == parent[pkey],
            "left",
        )
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col(pkey).isNull(), 1)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return fk_check(orders, "o_custkey", customer, "c_custkey", "orders.o_custkey->customer").unionAll(
        fk_check(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders")
    )


_PROFILE_COLS = ("o_custkey", "o_totalprice")


@register(
    "table_profile",
    doc=(
        "one-scan column profiler (long format): per column, row count, "
        "non-null count, exact distinct count, numeric min/max — the schema-"
        "drift smoke test run before every pipeline ingest"
    ),
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col, count(*) AS n, count({c}) AS n_nonnull,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_d, CAST(max({c}) AS DOUBLE) AS max_d
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    parts = [
        orders.agg(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.count(c).alias("n_nonnull"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("double").alias("min_d"),
            F.max(c).cast("double").alias("max_d"),
        ).select("col", "n", "n_nonnull", "n_distinct", "min_d", "max_d")
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_N_BUCKETS = 8
_QS = [i / _N_BUCKETS for i in range(1, _N_BUCKETS)]


@register(
    "equidepth_histogram",
    doc=(
        f"equi-depth histogram ({_N_BUCKETS} buckets): boundaries from the exact "
        "distributed percentile aggregate, bucket assignment as a codegen when-"
        "chain against the broadcast boundary row — no global sort (a window "
        "ntile would serialize onto one partition at 100 TB)"
    ),
    oracle=f"""
WITH b AS (SELECT quantile_cont(value, {_QS}) AS qs FROM events)
SELECT bucket, count(*) AS n,
       min(value) AS lo, max(value) AS hi
FROM (
  SELECT e.value,
         1 + {' + '.join(f'(CASE WHEN e.value > round(b.qs[{i + 1}], 6) THEN 1 ELSE 0 END)' for i in range(len(_QS)))} AS bucket
  FROM events e CROSS JOIN b
)
GROUP BY bucket
""",
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.expr(f"percentile(value, array({', '.join(map(str, _QS))}))").alias("qs"))
    # Boundaries are rounded to 6 decimals on both sides of the oracle compare:
    # the linear-interpolation arithmetic order differs between engines by a
    # ULP (e.g. 51.86999999999999 vs 51.87), which flips rows sitting exactly
    # on a boundary into the neighboring bucket.
    bucket = F.lit(1)
    for i in range(len(_QS)):
        bucket = bucket + F.when(F.col("value") > F.round(F.col("qs")[i], 6), 1).otherwise(0)
    return (
        ev.crossJoin(F.broadcast(b))
        .select("value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("lo"), F.max("value").alias("hi"))
    )


@register(
    "dataset_drift_psi",
    doc=(
        "population-stability-index drift report between two dataset splits "
        "(doc_id parity) over n_chars: 10 fixed integer-arithmetic bins, "
        "smoothed proportions, per-bin PSI terms (rounded to absorb ln ulp). "
        "The train-vs-incoming distribution-shift check a 100 TB ingest runs "
        "per batch — two scans + one 10-row aggregate"
    ),
    oracle="""
WITH stats AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
b AS (
  SELECT least(9, ((d.n_chars - s.mn) * 10) // (s.mx - s.mn + 1)) AS bin,
         (d.doc_id % 2 = 0) AS is_ref
  FROM documents d CROSS JOIN stats s
),
c AS (
  SELECT bin,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM b GROUP BY bin
),
allbins AS (SELECT unnest(range(0, 10)) AS bin),
f AS (
  SELECT a.bin,
         CAST(coalesce(c.n_ref, 0) AS BIGINT) AS n_ref,
         CAST(coalesce(c.n_cur, 0) AS BIGINT) AS n_cur
  FROM allbins a LEFT JOIN c ON a.bin = c.bin
),
t AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM f)
SELECT f.bin, f.n_ref, f.n_cur,
       round((CAST(f.n_ref AS DOUBLE) + 0.5) / (CAST(t.tot_ref AS DOUBLE) + 5.0), 10) AS p_ref,
       round((CAST(f.n_cur AS DOUBLE) + 0.5) / (CAST(t.tot_cur AS DOUBLE) + 5.0), 10) AS p_cur,
       round(((CAST(f.n_ref AS DOUBLE) + 0.5) / (CAST(t.tot_ref AS DOUBLE) + 5.0)
            - (CAST(f.n_cur AS DOUBLE) + 0.5) / (CAST(t.tot_cur AS DOUBLE) + 5.0))
           * ln(((CAST(f.n_ref AS DOUBLE) + 0.5) / (CAST(t.tot_ref AS DOUBLE) + 5.0))
              / ((CAST(f.n_cur AS DOUBLE) + 0.5) / (CAST(t.tot_cur AS DOUBLE) + 5.0))), 6) AS psi_term
FROM f CROSS JOIN t
""",
)
def dataset_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    b = docs.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(9),
            F.expr("div((n_chars - mn) * 10, mx - mn + 1)"),
        ).alias("bin"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    allbins = spark.range(10).select(F.col("id").alias("bin"))
    f = allbins.join(c, "bin", "left").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    t = f.agg(F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur"))
    out = f.crossJoin(F.broadcast(t))
    p_ref = (F.col("n_ref").cast("double") + 0.5) / (F.col("tot_ref").cast("double") + 5.0)
    p_cur = (F.col("n_cur").cast("double") + 0.5) / (F.col("tot_cur").cast("double") + 5.0)
    return out.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 10).alias("p_ref"),
        F.round(p_cur, 10).alias("p_cur"),
        F.round((p_ref - p_cur) * F.log(p_ref / p_cur), 6).alias("psi_term"),
    )


def _table_checksum_oracle() -> str:
    from spk_sl_validation_spark.sources.sinks import dataset_checksum_sql

    return dataset_checksum_sql(
        "orders",
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "CAST(o_totalprice AS DECIMAL(18,2))",
            "o_orderpriority",
        ],
    )


@register(
    "table_checksum",
    doc=(
        "order-independent distributed content checksum of orders (commutative "
        "md5 sum mod 2^61-1): one map-side-combined aggregate at any scale — "
        "the data-contract primitive for verifiable exports/replication; "
        "float column pinned via DECIMAL cast so the string form is "
        "engine-stable"
    ),
    oracle=_table_checksum_oracle(),
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.sources.sinks import dataset_checksum

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    return dataset_checksum(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice_dec", "o_orderpriority"],
    )


@register(
    "dataset_version_diff",
    doc=(
        "corpus version diff by content fingerprint: full outer join of two "
        "dataset versions on doc_id, each row classified added / removed / "
        "changed / unchanged by md5 comparison — the audit a 100 TB corpus "
        "refresh runs before promoting a new snapshot (versions derived "
        "deterministically from the documents table for the oracle)"
    ),
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.fp <> b.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
""",
)
def dataset_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    v2 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
        ).alias("fp"),
    )
    a = v1.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = v2.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    # Full outer can't broadcast and defaults to sort-merge; pin
    # shuffle-hash (the new-snapshot side builds) — both sides are
    # corpus-scale but per-partition hash build of (id, fp) rows is
    # bounded and skips two corpus sorts.
    j = a.join(b.hint("shuffle_hash"), a.id_a == b.id_b, "full_outer")
    status = (
        F.when(F.col("id_a").isNull(), "added")
        .when(F.col("id_b").isNull(), "removed")
        .when(F.col("fp_a") != F.col("fp_b"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce("id_a", "id_b").alias("doc_id"), status.alias("status")
    )
