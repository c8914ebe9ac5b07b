"""Deterministic distributed sketches: HyperLogLog, count-min, Bloom.

North-star extension (the reference has no approximate algorithms —
SURVEY.md §2.6's only aggregate is a group-sum). At 100 TB, exact
`COUNT(DISTINCT)` / heavy-hitter / membership queries are shuffle
monsters; sketches make them one map-side-combinable aggregate whose
state is a few KB per executor. Spark's built-ins
(``approx_count_distinct``, ``Bloom``-filter joins) are
engine-internal and not reproducible by another engine, so these
implementations use the md5-family hashes from ``hashing.py`` — every
register/counter/bit is identical in DuckDB SQL, making the sketches
*value-verifiable* against the oracle, not just "approximately right".

Determinism notes:
- The HLL harmonic mean is summed in the **integer domain**
  (``1 << (B - rank)`` per register, one BIGINT sum) and converted to
  double once at the end — no float-accumulation-order dependence.
- Count-min counters and Bloom bit positions are pure integers.
- Leading-zero ranks come from ``strpos(lpad(bin(w), B, '0'), '1')``
  — string ops, identical in both engines (no log2 rounding hazards).

Scale shapes (all three):
  narrow hash projection → ONE partial+final aggregate bounded by the
  sketch size (m registers / d·w counters / m_bits positions), then a
  broadcast-sized join for probes. No per-row state ever crosses the
  shuffle except the bounded sketch rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import md5_long, md5_long_sql

HASH_BITS = 60  # md5_long yields a 60-bit positive long

# Sketch sizes. Each Spark operator and its ``*_sql`` DuckDB twin read
# the same constant, so the two engines build the same sketch.
HLL_P = 6  # 2^6 = 64 registers
CMS_DEPTH = 4
CMS_WIDTH = 64
KMV_K = 128
BLOOM_BITS = 2048
BLOOM_K = 5
BOTTOMK_K = 1024

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

# Standard alpha constants (Flajolet et al. 2007) for small m; m >= 128
# uses 0.7213 / (1 + 1.079 / m). Fixed literals so both engines see the
# exact same double.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(register, max_rank): the HLL sketch state for ``df[col]``.

    h = md5_long(col); register = low ``HLL_P`` bits; rank = 1 + leading
    zeros of the remaining ``B = 60 - HLL_P`` bits (B + 1 if they are all
    zero). One groupBy(register) max — partial aggregation collapses
    every partition to ≤ 2^HLL_P rows before the shuffle, so sketch
    cost at 100 TB is a 64-row exchange.
    """
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    h = md5_long(F.col(col).cast("string"))
    reg = (h % F.lit(m)).alias("register")
    w = F.shiftright(h, HLL_P)
    first_one = F.instr(F.lpad(F.bin(w), bits, "0"), "1")
    rank = F.when(w == 0, F.lit(bits + 1)).otherwise(first_one)
    return (
        df.select(reg, rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """Single-row HLL cardinality estimate with the exact count and
    relative error alongside (the exact side exists for the oracle
    comparison; a production run would drop it).

    The harmonic denominator is assembled as ONE BIGINT:
    ``Z_int = sum(1 << (B1 - max_rank)) + (m - active) * (1 << B1)``
    with ``B1 = B + 1`` (empty registers contribute 2^0 scaled by
    2^B1). raw = alpha * m^2 * 2^B1 / Z_int, with exactly one
    int→double conversion — bit-identical across engines.

    Small-range correction (Flajolet et al. §4): when raw ≤ 2.5m and
    empty registers exist, linear counting ``m * ln(m / V)`` replaces
    the raw estimate. ``ln`` is the one op without a cross-engine
    bit-exactness guarantee, so the corrected estimate is rounded to
    6 decimals (absorbs last-ulp libm drift; the branch condition
    itself compares exact-arithmetic values, so both engines take the
    same branch).
    """
    regs = hll_registers(df, col)
    exact = df.select(F.countDistinct(col).alias("exact_distinct"))
    return hll_estimate_from_registers(regs, exact)


def _hll_finish_exprs():
    """(raw, est) Column expressions over a relation carrying
    ``active_registers`` and ``z_present`` — THE single copy of the
    HLL finishing math (integer-domain harmonic sum, small-range
    linear-counting correction, round-6). Shared by the global,
    per-group, and profiling estimators so the correction can never
    desynchronize between them."""
    m = 1 << HLL_P
    b1 = HASH_BITS - HLL_P + 1
    z_int = (
        F.col("z_present")
        + (F.lit(m) - F.col("active_registers")) * F.lit(1 << b1).cast("long")
    )
    raw = F.lit(_alpha(m) * m * m) * F.lit(float(1 << b1)) / z_int.cast("double")
    v_empty = F.lit(m) - F.col("active_registers")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
    est = F.round(
        F.when((raw <= F.lit(2.5 * m)) & (v_empty > 0), linear).otherwise(raw), 6
    )
    return raw, est


def hll_estimate_from_registers(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Finish the HLL estimate from a (register, max_rank) sketch table
    and a single-row ``exact`` frame with ``exact_distinct``.

    Split out because the register table is the MERGEABLE part: unions
    of sketches combine by ``max`` per register, which is exactly what
    a streaming aggregation's state update or a cross-datacenter merge
    does — the batch and streaming HLL queries share this tail.
    """
    m = 1 << HLL_P
    b1 = HASH_BITS - HLL_P + 1
    agg_row = regs.agg(
        F.count(F.lit(1)).cast("long").alias("active_registers"),
        # shiftleft's bit count must be a column here; F.shiftleft only
        # accepts a literal int, so spell it in SQL.
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {b1} - max_rank)")).alias("z_present"),
    )
    raw, est = _hll_finish_exprs()
    return (
        agg_row.crossJoin(exact)
        .select(
            F.lit(m).alias("m"),
            "active_registers",
            raw.alias("raw_estimate"),
            est.alias("hll_estimate"),
            "exact_distinct",
            (est / F.col("exact_distinct") - 1.0).alias("rel_err"),
        )
    )


def hll_estimate_sql(table: str, col: str) -> str:
    """DuckDB twin of :func:`hll_estimate` (same bits, same integers)."""
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    h = md5_long_sql(f"CAST({col} AS VARCHAR)")
    return f"""
WITH h AS (SELECT {h} AS h FROM {table}),
r AS (
  SELECT h % {m} AS register,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {b1}
              ELSE strpos(lpad(bin(h >> {HLL_P}), {bits}, '0'), '1') END AS rank
  FROM h
),
regs AS (SELECT register, max(rank) AS max_rank FROM r GROUP BY register),
z AS (
  SELECT count(*) AS active,
         sum((1::BIGINT << ({b1} - max_rank))) AS z_present
  FROM regs
),
e AS (
  SELECT active,
         {_alpha(m) * m * m!r} * {float(1 << b1)!r}
           / CAST(z_present + ({m} - active) * (1::BIGINT << {b1}) AS DOUBLE) AS raw,
         ({m} - active) AS v_empty
  FROM z
),
c AS (
  SELECT active, raw,
         round(CASE WHEN raw <= {2.5 * m!r} AND v_empty > 0
                    THEN {float(m)!r} * ln({float(m)!r} / CAST(v_empty AS DOUBLE))
                    ELSE raw END, 6) AS est
  FROM e
)
SELECT {m} AS m,
       CAST(active AS BIGINT) AS active_registers,
       raw AS raw_estimate,
       est AS hll_estimate,
       (SELECT count(DISTINCT {col}) FROM {table}) AS exact_distinct,
       est / (SELECT count(DISTINCT {col}) FROM {table}) - 1.0 AS rel_err
FROM c
"""


def hll_estimate_by(df: DataFrame, group_col: str, col: str) -> DataFrame:
    """Per-group HLL cardinality estimates — the dashboard shape a
    100 TB pipeline queries constantly (distinct users per event type,
    distinct docs per source) where per-group exact COUNT(DISTINCT)
    forces a corpus-wide expand.

    Same bit-exact math as :func:`hll_estimate`, keyed by
    ``group_col``: partial aggregation collapses every partition to
    ≤ n_groups · 2^HLL_P rows before the shuffle, and the finishing
    aggregate + exact-side join are n_groups-sized. The exact count
    rides along per group for the oracle comparison (a production run
    would drop it and the expand it costs).
    """
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    h = md5_long(F.col(col).cast("string"))
    w = F.shiftright(h, HLL_P)
    first_one = F.instr(F.lpad(F.bin(w), bits, "0"), "1")
    rank = F.when(w == 0, F.lit(bits + 1)).otherwise(first_one)
    regs = (
        df.select(F.col(group_col), (h % F.lit(m)).alias("register"), rank.alias("rank"))
        .groupBy(group_col, "register")
        .agg(F.max("rank").alias("max_rank"))
    )
    agg = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("active_registers"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {b1} - max_rank)")).alias("z_present"),
    )
    exact = df.groupBy(group_col).agg(F.countDistinct(col).alias("exact_distinct"))
    _, est = _hll_finish_exprs()
    return (
        agg.join(exact.hint("shuffle_hash"), group_col)
        .select(
            group_col,
            "active_registers",
            est.alias("hll_estimate"),
            "exact_distinct",
            (est / F.col("exact_distinct") - 1.0).alias("rel_err"),
        )
    )


def hll_estimate_by_sql(table: str, group_col: str, col: str) -> str:
    """DuckDB twin of :func:`hll_estimate_by`."""
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    h = md5_long_sql(f"CAST({col} AS VARCHAR)")
    return f"""
WITH h AS (SELECT {group_col} AS g, {h} AS h FROM {table}),
r AS (
  SELECT g, h % {m} AS register,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {b1}
              ELSE strpos(lpad(bin(h >> {HLL_P}), {bits}, '0'), '1') END AS rank
  FROM h
),
regs AS (SELECT g, register, max(rank) AS max_rank FROM r GROUP BY g, register),
z AS (
  SELECT g, count(*) AS active,
         sum((1::BIGINT << ({b1} - max_rank))) AS z_present
  FROM regs GROUP BY g
),
e AS (
  SELECT g, active,
         {_alpha(m) * m * m!r} * {float(1 << b1)!r}
           / CAST(z_present + ({m} - active) * (1::BIGINT << {b1}) AS DOUBLE) AS raw,
         ({m} - active) AS v_empty
  FROM z
),
c AS (
  SELECT g, active,
         round(CASE WHEN raw <= {2.5 * m!r} AND v_empty > 0
                    THEN {float(m)!r} * ln({float(m)!r} / CAST(v_empty AS DOUBLE))
                    ELSE raw END, 6) AS est
  FROM e
),
x AS (SELECT {group_col} AS g, count(DISTINCT {col}) AS exact_distinct FROM {table} GROUP BY {group_col})
SELECT c.g AS {group_col},
       CAST(c.active AS BIGINT) AS active_registers,
       c.est AS hll_estimate,
       x.exact_distinct,
       c.est / x.exact_distinct - 1.0 AS rel_err
FROM c JOIN x USING (g)
"""


def hll_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column NDV estimates for many columns in ONE scan: each row
    explodes into (column-name, value) pairs and every column's HLL
    registers accumulate in the same grouped aggregate.

    Output: (cname, active_registers, hll_estimate, exact_distinct,
    rel_err). The profiling shape that matters at 100 TB: c columns
    cost one pass and c·2^HLL_P aggregate rows, not c passes. (The exact
    NDV column exists for the oracle comparison; production profiling
    drops it — that's the entire point of the sketch.)
    """
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("cname"), F.col(c).cast("string").alias("val"))
            for c in cols
        ]
    )
    v = df.select(F.explode(pairs).alias("e")).select("e.cname", "e.val").filter(
        F.col("val").isNotNull()
    )
    h = md5_long(F.col("val"))
    w = F.shiftright(h, HLL_P)
    first_one = F.instr(F.lpad(F.bin(w), bits, "0"), "1")
    rank = F.when(w == 0, F.lit(b1)).otherwise(first_one)
    regs = (
        v.select("cname", (h % F.lit(m)).alias("register"), rank.alias("rank"))
        .groupBy("cname", "register")
        .agg(F.max("rank").alias("max_rank"))
    )
    z = regs.groupBy("cname").agg(
        F.count(F.lit(1)).cast("long").alias("active_registers"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {b1} - max_rank)")).alias("z_present"),
    )
    _, est = _hll_finish_exprs()
    exact = v.groupBy("cname").agg(F.countDistinct("val").alias("exact_distinct"))
    return (
        z.join(exact, "cname")
        .select(
            "cname",
            "active_registers",
            est.alias("hll_estimate"),
            "exact_distinct",
            (est / F.col("exact_distinct") - 1.0).alias("rel_err"),
        )
    )


def hll_profile_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`hll_profile`."""
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS cname, CAST({c} AS VARCHAR) AS val FROM {table}" for c in cols
    )
    h = md5_long_sql("val")
    return f"""
WITH v AS (SELECT cname, val FROM ({unions}) WHERE val IS NOT NULL),
hh AS (SELECT cname, {h} AS h FROM v),
r AS (
  SELECT cname, h % {m} AS register,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {b1}
              ELSE strpos(lpad(bin(h >> {HLL_P}), {bits}, '0'), '1') END AS rank
  FROM hh
),
regs AS (SELECT cname, register, max(rank) AS max_rank FROM r GROUP BY cname, register),
z AS (
  SELECT cname, CAST(count(*) AS BIGINT) AS active_registers,
         sum((1::BIGINT << ({b1} - max_rank))) AS z_present
  FROM regs GROUP BY cname
),
e AS (
  SELECT cname, active_registers,
         {_alpha(m) * m * m!r} * {float(1 << b1)!r}
           / CAST(z_present + ({m} - active_registers) * (1::BIGINT << {b1}) AS DOUBLE) AS raw,
         ({m} - active_registers) AS v_empty
  FROM z
),
c AS (
  SELECT cname, active_registers,
         round(CASE WHEN raw <= {2.5 * m!r} AND v_empty > 0
                    THEN {float(m)!r} * ln({float(m)!r} / CAST(v_empty AS DOUBLE))
                    ELSE raw END, 6) AS hll_estimate
  FROM e
),
exact AS (SELECT cname, count(DISTINCT val) AS exact_distinct FROM v GROUP BY cname)
SELECT c.cname, c.active_registers, c.hll_estimate, exact.exact_distinct,
       c.hll_estimate / exact.exact_distinct - 1.0 AS rel_err
FROM c JOIN exact ON c.cname = exact.cname
"""


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def _cms_bucket(h: Column, seed: int) -> Column:
    from spk_sl_validation_spark.ext.hashing import seeded_perm

    return seeded_perm(h, seed) % F.lit(CMS_WIDTH)


def cms_counters(df: DataFrame, col: str) -> DataFrame:
    """(row, bucket, cnt): the CMS_DEPTH×CMS_WIDTH count-min counter matrix.

    One explode to d rows per input row, one groupBy bounded at d·w
    output rows — partial aggregation means each executor ships at
    most d·w longs regardless of input size.
    """
    h = md5_long(F.col(col).cast("string"))
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("drow"), _cms_bucket(h, i).alias("bucket"))
            for i in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .select("c.drow", "c.bucket")
        .groupBy("drow", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate_counts(df: DataFrame, col: str) -> DataFrame:
    """Per-key CMS count estimate next to the exact count.

    Output: (key, exact_n, cms_est, overestimate). CMS guarantees
    cms_est ≥ exact_n; the overestimate column makes the collision
    inflation visible. The counter matrix is broadcast-sized (d·w), so
    probing is a broadcast join against the exact groupBy.
    """
    counters = cms_counters(df, col)
    exact = df.groupBy(F.col(col).alias("key")).agg(F.count(F.lit(1)).alias("exact_n"))
    return cms_estimate_from_counters(counters, exact)


def cms_estimate_from_counters(counters: DataFrame, exact: DataFrame) -> DataFrame:
    """Finish CMS estimates from a (drow, bucket, cnt) counter matrix
    and an exact (key, exact_n) frame. Split out because the counter
    matrix is the MERGEABLE part: counters from shards/micro-batches
    combine by plain addition — a streaming aggregation's state update
    — so batch and streaming CMS share this tail."""
    h = md5_long(F.col("key").cast("string"))
    probes = exact.select(
        "key",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("drow"), _cms_bucket(h, i).alias("bucket"))
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("key", "exact_n", "c.drow", "c.bucket")
    return (
        probes.join(F.broadcast(counters), ["drow", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select("key", "exact_n", "cms_est", (F.col("cms_est") - F.col("exact_n")).alias("overestimate"))
    )


def cms_estimate_counts_sql(table: str, col: str) -> str:
    """DuckDB twin of :func:`cms_estimate_counts`."""
    from spk_sl_validation_spark.ext.hashing import seeded_perm_sql

    h = md5_long_sql(f"CAST({col} AS VARCHAR)")
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS drow, ({seeded_perm_sql('h', i)}) % {CMS_WIDTH} AS bucket FROM h"
        for i in range(CMS_DEPTH)
    )
    hk = md5_long_sql("CAST(key AS VARCHAR)")
    probe_rows = " UNION ALL ".join(
        f"SELECT key, exact_n, {i} AS drow, ({seeded_perm_sql('hk', i)}) % {CMS_WIDTH} AS bucket FROM ek"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH h AS (SELECT {h} AS h FROM {table}),
cells AS ({cell_rows}),
counters AS (SELECT drow, bucket, count(*) AS cnt FROM cells GROUP BY drow, bucket),
ek AS (SELECT {col} AS key, count(*) AS exact_n, {hk} AS hk FROM {table} GROUP BY {col}),
probes AS ({probe_rows})
SELECT p.key, p.exact_n, min(c.cnt) AS cms_est, min(c.cnt) - p.exact_n AS overestimate
FROM probes p JOIN counters c ON p.drow = c.drow AND p.bucket = c.bucket
GROUP BY p.key, p.exact_n
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum values) — distinct sketch with SET ALGEBRA
# ---------------------------------------------------------------------------

def kmv_sketch(df: DataFrame, col: str) -> DataFrame:
    """(h): the KMV_K smallest distinct 60-bit hashes of ``df[col]`` — a
    KMV distinct sketch. orderBy+limit compiles to TakeOrdered
    (per-partition top-k, then a k-row merge on one reducer) — no full
    sort, no full shuffle."""
    h = md5_long(F.col(col).cast("string"))
    return df.select(h.alias("h")).distinct().orderBy("h").limit(KMV_K)


def kmv_jaccard(df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str) -> DataFrame:
    """Jaccard similarity of two key SETS estimated from their KMV
    sketches — the set-intersection algebra HLL cannot do (HLL unions
    trivially but cannot intersect).

    K = k smallest of (A_k ∪ B_k); ρ = |{h ∈ K : h ∈ A_k ∧ h ∈ B_k}|/k
    estimates J(A,B). Also reports the union-NDV estimate
    (k-1)·2^60/max(K) and the exact values for oracle comparison.
    Everything is integer selection + two exact divisions — no float
    accumulation anywhere.
    """
    a_k = kmv_sketch(df_a, col_a).withColumn("__a", F.lit(1))
    b_k = kmv_sketch(df_b, col_b).withColumn("__b", F.lit(1))
    merged = (
        a_k.select("h").unionByName(b_k.select("h")).distinct().orderBy("h").limit(KMV_K)
    )
    kk = (
        merged.join(a_k, "h", "left")
        .join(b_k, "h", "left")
        .agg(
            F.count(F.lit(1)).alias("k_actual"),
            F.sum(
                F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1).otherwise(0)
            ).alias("n_both"),
            F.max("h").alias("kth_min"),
        )
    )
    exact_a = df_a.select(F.col(col_a).cast("string").alias("key")).distinct()
    exact_b = df_b.select(F.col(col_b).cast("string").alias("key")).distinct()
    n_inter = exact_a.join(exact_b, "key").count()
    n_union = exact_a.unionByName(exact_b).distinct().count()
    return kk.select(
        F.col("k_actual").cast("long").alias("k"),
        (F.col("n_both").cast("double") / F.col("k_actual")).alias("jaccard_est"),
        F.lit(float(n_inter) / float(n_union)).alias("jaccard_exact"),
        (
            (F.col("k_actual") - 1).cast("double")
            * F.lit(float(1 << HASH_BITS))
            / F.col("kth_min").cast("double")
        ).alias("union_ndv_est"),
        F.lit(n_union).cast("long").alias("union_ndv_exact"),
    )


def kmv_jaccard_sql(table_a: str, col_a: str, table_b: str, col_b: str) -> str:
    """DuckDB twin of :func:`kmv_jaccard`."""
    ha = md5_long_sql(f"CAST({col_a} AS VARCHAR)")
    hb = md5_long_sql(f"CAST({col_b} AS VARCHAR)")
    return f"""
WITH da AS (SELECT DISTINCT {ha} AS h FROM {table_a}),
db AS (SELECT DISTINCT {hb} AS h FROM {table_b}),
ak AS (SELECT h FROM da ORDER BY h LIMIT {KMV_K}),
bk AS (SELECT h FROM db ORDER BY h LIMIT {KMV_K}),
merged AS (
  SELECT h FROM (SELECT h FROM ak UNION SELECT h FROM bk) ORDER BY h LIMIT {KMV_K}
),
kk AS (
  SELECT count(*) AS k_actual,
         sum(CASE WHEN ak.h IS NOT NULL AND bk.h IS NOT NULL THEN 1 ELSE 0 END) AS n_both,
         max(m.h) AS kth_min
  FROM merged m LEFT JOIN ak ON m.h = ak.h LEFT JOIN bk ON m.h = bk.h
),
ea AS (SELECT DISTINCT CAST({col_a} AS VARCHAR) AS key FROM {table_a}),
eb AS (SELECT DISTINCT CAST({col_b} AS VARCHAR) AS key FROM {table_b}),
ex AS (
  SELECT (SELECT count(*) FROM ea JOIN eb USING (key)) AS n_inter,
         (SELECT count(*) FROM (SELECT key FROM ea UNION SELECT key FROM eb)) AS n_union
)
SELECT CAST(k_actual AS BIGINT) AS k,
       CAST(n_both AS DOUBLE) / k_actual AS jaccard_est,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_exact,
       CAST(k_actual - 1 AS DOUBLE) * {float(1 << HASH_BITS)!r} / CAST(kth_min AS DOUBLE) AS union_ndv_est,
       CAST(n_union AS BIGINT) AS union_ndv_exact
FROM kk CROSS JOIN ex
"""


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def bloom_positions(df: DataFrame, col: str, m_bits: int = 2048, k: int = 5) -> DataFrame:
    """(pos): the distinct set bit positions of a Bloom filter built
    over ``df[col]``. k seeded permutations of one md5 per value; the
    distinct() is bounded at m_bits rows — the whole filter is one
    broadcastable column."""
    from spk_sl_validation_spark.ext.hashing import seeded_perm

    h = md5_long(F.col(col).cast("string"))
    poss = F.array(*[(seeded_perm(h, i) % F.lit(m_bits)).alias(f"p{i}") for i in range(k)])
    return df.select(F.explode(poss).alias("pos")).distinct()


def bloom_membership(
    build: DataFrame,
    build_col: str,
    probe: DataFrame,
    probe_col: str,
) -> DataFrame:
    """Probe ``probe[probe_col]`` against a Bloom filter of
    ``build[build_col]``.

    Output: (key, bloom_hit, actual, false_positive) — the exact
    membership is computed alongside (left_semi) so the oracle can
    verify the false-positive set exactly, not just statistically.
    At scale: the filter (≤ BLOOM_BITS rows) broadcasts; this is how a
    Bloom-pruned join sidesteps shuffling the probe side.
    """
    from spk_sl_validation_spark.ext.hashing import seeded_perm

    bits = bloom_positions(build, build_col, BLOOM_BITS, BLOOM_K).withColumn("__set", F.lit(1))
    keys = probe.select(F.col(probe_col).alias("key")).distinct()
    hk = md5_long(F.col("key").cast("string"))
    probes = keys.select(
        "key",
        F.explode(
            F.array(*[(seeded_perm(hk, i) % F.lit(BLOOM_BITS)) for i in range(BLOOM_K)])
        ).alias("pos"),
    )
    hits = (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy("key")
        .agg((F.count("__set") == F.lit(BLOOM_K)).alias("bloom_hit"))
    )
    actual = (
        build.select(F.col(build_col).alias("key")).distinct().withColumn("__in", F.lit(True))
    )
    return (
        hits.join(actual, "key", "left")
        .select(
            "key",
            "bloom_hit",
            F.coalesce(F.col("__in"), F.lit(False)).alias("actual"),
            (F.col("bloom_hit") & ~F.coalesce(F.col("__in"), F.lit(False))).alias(
                "false_positive"
            ),
        )
    )


def bloom_membership_sql(
    build_table: str,
    build_col: str,
    probe_table: str,
    probe_col: str,
) -> str:
    """DuckDB twin of :func:`bloom_membership`."""
    from spk_sl_validation_spark.ext.hashing import seeded_perm_sql

    hb = md5_long_sql(f"CAST({build_col} AS VARCHAR)")
    hp = md5_long_sql("CAST(key AS VARCHAR)")
    build_pos = " UNION ALL ".join(
        f"SELECT ({seeded_perm_sql('h', i)}) % {BLOOM_BITS} AS pos FROM bh"
        for i in range(BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT key, ({seeded_perm_sql('hk', i)}) % {BLOOM_BITS} AS pos FROM pk"
        for i in range(BLOOM_K)
    )
    return f"""
WITH bh AS (SELECT {hb} AS h FROM {build_table}),
bits AS (SELECT DISTINCT pos FROM ({build_pos})),
pk AS (SELECT DISTINCT {probe_col} AS key, {hp} AS hk FROM {probe_table}),
probes AS ({probe_pos}),
hits AS (
  SELECT p.key, (count(b.pos) = {BLOOM_K}) AS bloom_hit
  FROM probes p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY p.key
),
actual AS (SELECT DISTINCT {build_col} AS key, TRUE AS act FROM {build_table})
SELECT h.key, h.bloom_hit,
       coalesce(a.act, FALSE) AS actual,
       (h.bloom_hit AND NOT coalesce(a.act, FALSE)) AS false_positive
FROM hits h LEFT JOIN actual a ON h.key = a.key
"""


# ---------------------------------------------------------------------------
# Bottom-k uniform-sample quantiles (mergeable)
# ---------------------------------------------------------------------------

#: Quantiles the bottom-k sketch reports (``est_p50``/``exact_p50``, …).
_BOTTOMK_PS = (0.5, 0.9, 0.99)


def bottomk_sample_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """Approximate p50/p90/p99 from a bottom-k-by-hash uniform row
    sample — the mergeable-quantile member of the sketch family.

    The sketch is the ``BOTTOMK_K`` rows whose 60-bit key hash is smallest: a
    deterministic uniform sample without replacement (the hash imposes
    a random-but-fixed total order on rows). Like KMV, it merges by
    "union partials, keep the k smallest hashes" — so per-partition
    partials combine associatively and a streaming twin is the same
    aggregation. Quantile estimates are exact interpolated percentiles
    *within* the sample; standard error ~ sqrt(p(1-p)/k).

    Scale shape: ``orderBy(h).limit(k)`` compiles to TakeOrdered —
    per-partition bottom-k then one k-row merge; no full sort, no full
    shuffle, driver traffic O(k). The exact column (for error
    comparison, same pattern as :func:`kmv_jaccard`) is one
    ObjectHashAggregate pass.
    """
    h = md5_long(F.col(key_col).cast("string"))
    sample = (
        df.select(
            F.col(value_col).cast("double").alias("v"),
            h.alias("h"),
            F.col(key_col).alias("key"),
        )
        .orderBy("h", "key")
        .limit(BOTTOMK_K)
    )
    est = sample.agg(
        F.count(F.lit(1)).alias("k"),
        *[F.percentile(F.col("v"), F.lit(p)).alias(f"est_p{int(p * 100)}") for p in _BOTTOMK_PS],
    )
    exact = df.agg(
        *[
            F.percentile(F.col(value_col).cast("double"), F.lit(p)).alias(
                f"exact_p{int(p * 100)}"
            )
            for p in _BOTTOMK_PS
        ]
    )
    return est.crossJoin(exact)


def bottomk_sample_quantiles_sql(
    table: str,
    value_col: str,
    key_col: str,
) -> str:
    """DuckDB twin of :func:`bottomk_sample_quantiles` (QUALIFY replays
    the deterministic bottom-k rule; quantile_cont == Spark percentile)."""
    hsql = md5_long_sql(f"CAST({key_col} AS VARCHAR)")
    est_cols = ", ".join(
        f"quantile_cont(v, {p}) AS est_p{int(p * 100)}" for p in _BOTTOMK_PS
    )
    exact_cols = ", ".join(
        f"quantile_cont(CAST({value_col} AS DOUBLE), {p}) AS exact_p{int(p * 100)}"
        for p in _BOTTOMK_PS
    )
    return f"""
WITH s AS (
  SELECT CAST({value_col} AS DOUBLE) AS v
  FROM (SELECT {value_col}, {hsql} AS h, {key_col} FROM {table})
  QUALIFY row_number() OVER (ORDER BY h, {key_col}) <= {BOTTOMK_K}
),
est AS (SELECT count(*) AS k, {est_cols} FROM s),
ex AS (SELECT {exact_cols} FROM {table})
SELECT est.*, ex.* FROM est CROSS JOIN ex
"""
