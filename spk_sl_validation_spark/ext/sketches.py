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

NULL values are not counted by any sketch: every sketch and every
exact side reads one hashed input (:func:`_hashed` / :func:`_hashed_sql`)
that drops them, so both engines sketch the same set of non-NULL values
(the mergeable summaries are defined over sets of values, and a NULL
hash would sort first in Spark and last in DuckDB).

Each sketch rule is stated once per engine: the HLL register/rank
builder, the HLL finish, the count-min cell array and the Bloom
position array each have one Spark and one SQL form, and the global,
per-group and per-column HLL estimators differ only in their keys.

Scale shapes (all three):
  narrow hash projection → ONE partial+final aggregate bounded by the
  sketch size (m registers / d·w counters / m_bits positions), then a
  broadcast-sized join for probes. No per-row state ever crosses the
  shuffle except the bounded sketch rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import md5_long, md5_long_sql, seeded_perm, seeded_perm_sql

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
# Hashed input: the non-NULL values of one column and their md5_long
# ---------------------------------------------------------------------------

def _hashed(df: DataFrame, col: str, *keys: str) -> DataFrame:
    """(*keys, col, h): the rows of ``df`` whose ``col`` is not NULL,
    with ``h = md5_long(CAST(col AS STRING))``."""
    return df.filter(F.col(col).isNotNull()).select(
        *keys, col, md5_long(F.col(col).cast("string")).alias("h")
    )


def _hashed_sql(table: str, col: str, *keys: str) -> str:
    """DuckDB twin of :func:`_hashed`: a SELECT over ``table``."""
    h = md5_long_sql(f"CAST({col} AS VARCHAR)")
    return f"SELECT {''.join(f'{k}, ' for k in keys)}{col}, {h} AS h FROM {table} WHERE {col} IS NOT NULL"


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

# Standard alpha constants (Flajolet et al. 2007) for small m; m >= 128
# uses 0.7213 / (1 + 1.079 / m). Fixed literals so both engines see the
# exact same double.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def _hll_registers(hashed: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, register, max_rank) over a :func:`_hashed` input.

    register = low ``HLL_P`` bits of h; rank = 1 + leading zeros of the
    remaining ``B = 60 - HLL_P`` bits (B + 1 if they are all zero). One
    groupBy max — partial aggregation collapses every partition to
    ≤ n_keys · 2^HLL_P rows before the shuffle."""
    bits = HASH_BITS - HLL_P
    w = F.shiftright(F.col("h"), HLL_P)
    rank = F.when(w == 0, F.lit(bits + 1)).otherwise(F.instr(F.lpad(F.bin(w), bits, "0"), "1"))
    register = (F.col("h") % F.lit(1 << HLL_P)).alias("register")
    return hashed.groupBy(*keys, register).agg(F.max(rank).alias("max_rank"))


def _hll_exact(hashed: DataFrame, col: str, keys: list[str]) -> DataFrame:
    return hashed.groupBy(*keys).agg(F.countDistinct(col).alias("exact_distinct"))


def _hll_finish(regs: DataFrame, exact: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, active_registers, raw_estimate, hll_estimate,
    exact_distinct, rel_err) from a register table and its exact side.

    The harmonic denominator is assembled as ONE BIGINT:
    ``Z_int = sum(1 << (B1 - max_rank)) + (m - active) * (1 << B1)``
    with ``B1 = B + 1`` (empty registers contribute 2^0 scaled by
    2^B1). raw = alpha * m^2 * 2^B1 / Z_int, with exactly one
    int→double conversion — bit-identical across engines.

    Small-range correction (Flajolet et al. §4): when raw ≤ 2.5m and
    empty registers exist, linear counting ``m * ln(m / V)`` replaces
    the raw estimate. ``ln`` is the one op without a cross-engine
    bit-exactness guarantee, so the estimate is rounded to 6 decimals
    (absorbs last-ulp libm drift; the branch condition compares
    exact-arithmetic values, so both engines take the same branch).
    With no active register the sum is 0, not NULL, so the estimate is
    linear counting's 0.0.
    """
    m = 1 << HLL_P
    b1 = HASH_BITS - HLL_P + 1
    z = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("active_registers"),
        # shiftleft's bit count must be a column here; F.shiftleft only
        # accepts a literal int, so spell it in SQL.
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {b1} - max_rank)")), F.lit(0).cast("long")
        ).alias("z_present"),
    )
    v_empty = F.lit(m) - F.col("active_registers")
    z_int = F.col("z_present") + v_empty * F.lit(1 << b1).cast("long")
    raw = F.lit(_alpha(m) * m * m) * F.lit(float(1 << b1)) / z_int.cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
    est = F.round(F.when((raw <= F.lit(2.5 * m)) & (v_empty > 0), linear).otherwise(raw), 6)
    both = z.join(exact.hint("shuffle_hash"), keys) if keys else z.crossJoin(exact)
    return both.select(
        *keys,
        "active_registers",
        raw.alias("raw_estimate"),
        est.alias("hll_estimate"),
        "exact_distinct",
        (F.try_divide(est, F.col("exact_distinct")) - 1.0).alias("rel_err"),
    )


def _hll_by(df: DataFrame, col: str, keys: list[str]) -> DataFrame:
    hashed = _hashed(df, col, *keys)
    return _hll_finish(_hll_registers(hashed, keys), _hll_exact(hashed, col, keys), keys).drop(
        "raw_estimate"
    )


def _hll_sql(hashed: str, col: str, keys: list[str]) -> str:
    """DuckDB twin of ``_hll_finish(_hll_registers(…), _hll_exact(…))``
    over a :func:`_hashed_sql` relation, keyed like the Spark side."""
    m = 1 << HLL_P
    bits = HASH_BITS - HLL_P
    b1 = bits + 1
    k = "".join(f"{c}, " for c in keys)
    by = f" GROUP BY {', '.join(keys)}" if keys else ""
    join = f"JOIN ex USING ({', '.join(keys)})" if keys else "CROSS JOIN ex"
    return f"""
WITH hv AS ({hashed}),
regs AS (
  SELECT {k}h % {m} AS register,
         max(CASE WHEN (h >> {HLL_P}) = 0 THEN {b1}
                  ELSE strpos(lpad(bin(h >> {HLL_P}), {bits}, '0'), '1') END) AS max_rank
  FROM hv GROUP BY {k}register
),
z AS (
  SELECT {k}CAST(count(*) AS BIGINT) AS active_registers,
         coalesce(sum(1::BIGINT << ({b1} - max_rank)), 0) AS z_present
  FROM regs{by}
),
e AS (
  SELECT {k}active_registers,
         {_alpha(m) * m * m!r} * {float(1 << b1)!r}
           / CAST(z_present + ({m} - active_registers) * (1::BIGINT << {b1}) AS DOUBLE) AS raw_estimate
  FROM z
),
c AS (
  SELECT {k}active_registers, raw_estimate,
         round(CASE WHEN raw_estimate <= {2.5 * m!r} AND active_registers < {m}
                    THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - active_registers AS DOUBLE))
                    ELSE raw_estimate END, 6) AS hll_estimate
  FROM e
),
ex AS (SELECT {k}count(DISTINCT {col}) AS exact_distinct FROM hv{by})
SELECT {k}active_registers, raw_estimate, hll_estimate, exact_distinct,
       hll_estimate / exact_distinct - 1.0 AS rel_err
FROM c {join}
"""


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(register, max_rank): the HLL sketch state for ``df[col]``. One
    groupBy(register) max, so sketch cost at 100 TB is a 64-row
    exchange."""
    return _hll_registers(_hashed(df, col), [])


def hll_exact(df: DataFrame, col: str) -> DataFrame:
    """Single-row exact side (``exact_distinct``) of :func:`hll_estimate`."""
    return _hll_exact(_hashed(df, col), col, [])


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """Single-row HLL cardinality estimate with the exact count and
    relative error alongside (the exact side exists for the oracle
    comparison; a production run would drop it)."""
    return hll_estimate_from_registers(hll_registers(df, col), hll_exact(df, col))


def hll_estimate_from_registers(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Finish the HLL estimate from a (register, max_rank) sketch table
    and a single-row ``exact`` frame with ``exact_distinct``.

    Split out because the register table is the MERGEABLE part: unions
    of sketches combine by ``max`` per register, which is exactly what
    a streaming aggregation's state update or a cross-datacenter merge
    does — the batch and streaming HLL queries share this tail.
    """
    return _hll_finish(regs, exact, []).select(F.lit(1 << HLL_P).alias("m"), "*")


def hll_estimate_sql(table: str, col: str) -> str:
    """DuckDB twin of :func:`hll_estimate` (same bits, same integers)."""
    return f"SELECT {1 << HLL_P} AS m, * FROM ({_hll_sql(_hashed_sql(table, col), col, [])})"


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
    return _hll_by(df, col, [group_col])


def hll_estimate_by_sql(table: str, group_col: str, col: str) -> str:
    """DuckDB twin of :func:`hll_estimate_by`."""
    hll = _hll_sql(_hashed_sql(table, col, group_col), col, [group_col])
    return f"SELECT * EXCLUDE (raw_estimate) FROM ({hll})"


def hll_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column NDV estimates for many columns in ONE scan: each row
    explodes into (cname, val) pairs and every column's HLL registers
    accumulate in the same grouped aggregate, keyed by ``cname``.

    Output: (cname, active_registers, hll_estimate, exact_distinct,
    rel_err). The profiling shape that matters at 100 TB: c columns
    cost one pass and c·2^HLL_P aggregate rows, not c passes. (The exact
    NDV column exists for the oracle comparison; production profiling
    drops it — that's the entire point of the sketch.)
    """
    pairs = df.select(
        F.inline(
            F.array(*[F.struct(F.lit(c).alias("cname"), F.col(c).cast("string").alias("val")) for c in cols])
        )
    )
    return _hll_by(pairs, "val", ["cname"])


def hll_profile_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`hll_profile`."""
    pairs = " UNION ALL ".join(
        f"SELECT '{c}' AS cname, CAST({c} AS VARCHAR) AS val FROM {table}" for c in cols
    )
    hll = _hll_sql(_hashed_sql(f"({pairs})", "val", "cname"), "val", ["cname"])
    return f"SELECT * EXCLUDE (raw_estimate) FROM ({hll})"


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def _cms_cells(h: Column) -> Column:
    """array<struct<drow, bucket>>: the CMS_DEPTH counter cells of hash ``h``."""
    return F.array(
        *[
            F.struct(F.lit(i).alias("drow"), (seeded_perm(h, i) % F.lit(CMS_WIDTH)).alias("bucket"))
            for i in range(CMS_DEPTH)
        ]
    )


def _cms_cells_sql(h: str) -> str:
    """DuckDB twin of :func:`_cms_cells`: a list of structs."""
    cells = ", ".join(
        f"{{'drow': {i}, 'bucket': {seeded_perm_sql(h, i)} % {CMS_WIDTH}}}" for i in range(CMS_DEPTH)
    )
    return f"[{cells}]"


def cms_counters(df: DataFrame, col: str) -> DataFrame:
    """(drow, bucket, cnt): the CMS_DEPTH×CMS_WIDTH count-min counter matrix.

    One inline to d rows per input row, one groupBy bounded at d·w
    output rows — partial aggregation means each executor ships at
    most d·w longs regardless of input size.
    """
    return (
        _hashed(df, col)
        .select(F.inline(_cms_cells(F.col("h"))))
        .groupBy("drow", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_exact(df: DataFrame, col: str) -> DataFrame:
    """(key, exact_n): the exact side of :func:`cms_estimate_counts`."""
    return _hashed(df, col).groupBy(F.col(col).alias("key")).agg(F.count(F.lit(1)).alias("exact_n"))


def cms_estimate_counts(df: DataFrame, col: str) -> DataFrame:
    """Per-key CMS count estimate next to the exact count.

    Output: (key, exact_n, cms_est, overestimate). CMS guarantees
    cms_est ≥ exact_n; the overestimate column makes the collision
    inflation visible. The counter matrix is broadcast-sized (d·w), so
    probing is a broadcast join against the exact groupBy.
    """
    return cms_estimate_from_counters(cms_counters(df, col), cms_exact(df, col))


def cms_estimate_from_counters(counters: DataFrame, exact: DataFrame) -> DataFrame:
    """Finish CMS estimates from a (drow, bucket, cnt) counter matrix
    and an exact (key, exact_n) frame. Split out because the counter
    matrix is the MERGEABLE part: counters from shards/micro-batches
    combine by plain addition — a streaming aggregation's state update
    — so batch and streaming CMS share this tail."""
    probes = _hashed(exact, "key", "exact_n").select("key", "exact_n", F.inline(_cms_cells(F.col("h"))))
    return (
        probes.join(F.broadcast(counters), ["drow", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select("key", "exact_n", "cms_est", (F.col("cms_est") - F.col("exact_n")).alias("overestimate"))
    )


def cms_estimate_counts_sql(table: str, col: str) -> str:
    """DuckDB twin of :func:`cms_estimate_counts`."""
    return f"""
WITH hv AS ({_hashed_sql(table, col)}),
counters AS (
  SELECT drow, bucket, count(*) AS cnt
  FROM (SELECT unnest({_cms_cells_sql('h')}, recursive := true) FROM hv)
  GROUP BY drow, bucket
),
ek AS (SELECT {col} AS key, count(*) AS exact_n FROM hv GROUP BY {col}),
probes AS (
  SELECT key, exact_n, unnest({_cms_cells_sql('h')}, recursive := true)
  FROM ({_hashed_sql('ek', 'key', 'exact_n')})
)
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
    return _hashed(df, col).select("h").distinct().orderBy("h").limit(KMV_K)


def kmv_jaccard(df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str) -> DataFrame:
    """Jaccard similarity of two key SETS estimated from their KMV
    sketches — the set-intersection algebra HLL cannot do (HLL unions
    trivially but cannot intersect).

    K = k smallest of (A_k ∪ B_k); ρ = |{h ∈ K : h ∈ A_k ∧ h ∈ B_k}|/k
    estimates J(A,B). Also reports the union-NDV estimate
    (k-1)·2^60/max(K) and the exact values for oracle comparison: the
    exact side counts the distinct keys of the union of the two
    distinct key sets (a key in both appears twice) in one aggregate,
    read by two scalar subqueries, so the plan runs no driver-side job.
    Everything is integer selection + exact divisions — no float
    accumulation anywhere. Empty inputs give k = 0 and NULL ratios.
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
    keys = [
        _hashed(df, col).select(F.col(col).cast("string").alias("key")).distinct()
        for df, col in ((df_a, col_a), (df_b, col_b))
    ]
    ex = (
        keys[0].unionByName(keys[1])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_sets"))
        .agg(
            F.count(F.when(F.col("n_sets") == 2, 1)).alias("n_inter"),
            F.count(F.lit(1)).alias("n_union"),
        )
    )
    n_inter, n_union = ex.select("n_inter").scalar(), ex.select("n_union").scalar()
    return kk.select(
        F.col("k_actual").cast("long").alias("k"),
        F.try_divide(F.col("n_both").cast("double"), F.col("k_actual")).alias("jaccard_est"),
        F.try_divide(n_inter.cast("double"), n_union.cast("double")).alias("jaccard_exact"),
        (
            (F.col("k_actual") - 1).cast("double")
            * F.lit(float(1 << HASH_BITS))
            / F.col("kth_min").cast("double")
        ).alias("union_ndv_est"),
        n_union.alias("union_ndv_exact"),
    )


def kmv_jaccard_sql(table_a: str, col_a: str, table_b: str, col_b: str) -> str:
    """DuckDB twin of :func:`kmv_jaccard`."""
    return f"""
WITH ha AS ({_hashed_sql(table_a, col_a)}),
hb AS ({_hashed_sql(table_b, col_b)}),
ak AS (SELECT DISTINCT h FROM ha ORDER BY h LIMIT {KMV_K}),
bk AS (SELECT DISTINCT h FROM hb ORDER BY h LIMIT {KMV_K}),
merged AS (
  SELECT h FROM (SELECT h FROM ak UNION SELECT h FROM bk) ORDER BY h LIMIT {KMV_K}
),
kk AS (
  SELECT count(*) AS k_actual,
         sum(CASE WHEN ak.h IS NOT NULL AND bk.h IS NOT NULL THEN 1 ELSE 0 END) AS n_both,
         max(m.h) AS kth_min
  FROM merged m LEFT JOIN ak ON m.h = ak.h LEFT JOIN bk ON m.h = bk.h
),
keys AS (
  SELECT key, count(*) AS n_sets FROM (
    SELECT DISTINCT CAST({col_a} AS VARCHAR) AS key FROM ha
    UNION ALL
    SELECT DISTINCT CAST({col_b} AS VARCHAR) AS key FROM hb
  ) GROUP BY key
),
ex AS (SELECT count(*) FILTER (WHERE n_sets = 2) AS n_inter, count(*) AS n_union FROM keys)
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

def bloom_pos_array(h: Column, m_bits: int) -> Column:
    """array<long>: the BLOOM_K bit positions of hash ``h`` in an
    ``m_bits`` filter — k seeded permutations of one md5 per value."""
    return F.array(*[seeded_perm(h, i) % F.lit(m_bits) for i in range(BLOOM_K)])


def bloom_pos_sql(h: str, m_bits: int) -> list[str]:
    """SQL twin of :func:`bloom_pos_array`, one expression per position
    (valid in DuckDB and in Spark SQL)."""
    return [f"{seeded_perm_sql(h, i)} % {m_bits}" for i in range(BLOOM_K)]


def bloom_positions(df: DataFrame, col: str, m_bits: int = BLOOM_BITS) -> DataFrame:
    """(pos): the distinct set bit positions of a Bloom filter built
    over ``df[col]``. The distinct() is bounded at m_bits rows — the
    whole filter is one broadcastable column."""
    return _hashed(df, col).select(F.explode(bloom_pos_array(F.col("h"), m_bits)).alias("pos")).distinct()


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
    bits = bloom_positions(build, build_col).withColumn("__set", F.lit(1))
    probes = (
        _hashed(probe, probe_col)
        .select(F.col(probe_col).alias("key"), "h")
        .distinct()
        .select("key", F.explode(bloom_pos_array(F.col("h"), BLOOM_BITS)).alias("pos"))
    )
    hits = (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy("key")
        .agg((F.count("__set") == F.lit(BLOOM_K)).alias("bloom_hit"))
    )
    actual = (
        _hashed(build, build_col)
        .select(F.col(build_col).alias("key"))
        .distinct()
        .withColumn("__in", F.lit(True))
    )
    in_build = F.coalesce(F.col("__in"), F.lit(False))
    return hits.join(actual, "key", "left").select(
        "key", "bloom_hit", in_build.alias("actual"), (F.col("bloom_hit") & ~in_build).alias("false_positive")
    )


def bloom_membership_sql(
    build_table: str,
    build_col: str,
    probe_table: str,
    probe_col: str,
) -> str:
    """DuckDB twin of :func:`bloom_membership`."""
    pos = ", ".join(bloom_pos_sql("h", BLOOM_BITS))
    return f"""
WITH hb AS ({_hashed_sql(build_table, build_col)}),
bits AS (SELECT DISTINCT unnest([{pos}]) AS pos FROM hb),
pk AS (SELECT DISTINCT {probe_col} AS key, h FROM ({_hashed_sql(probe_table, probe_col)})),
probes AS (SELECT key, unnest([{pos}]) AS pos FROM pk),
hits AS (
  SELECT p.key, (count(b.pos) = {BLOOM_K}) AS bloom_hit
  FROM probes p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY p.key
),
actual AS (SELECT DISTINCT {build_col} AS key, TRUE AS act FROM hb)
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
    *within* the sample; standard error ~ sqrt(p(1-p)/k). Sample and
    exact side both cover the rows with a non-NULL key.

    Scale shape: ``orderBy(h).limit(k)`` compiles to TakeOrdered —
    per-partition bottom-k then one k-row merge; no full sort, no full
    shuffle, driver traffic O(k). The exact column (for error
    comparison, same pattern as :func:`kmv_jaccard`) is one
    ObjectHashAggregate pass.
    """
    hashed = _hashed(df, key_col, value_col)
    v = F.col(value_col).cast("double")
    est = hashed.orderBy("h", key_col).limit(BOTTOMK_K).agg(
        F.count(F.lit(1)).alias("k"),
        *[F.percentile(v, F.lit(p)).alias(f"est_p{int(p * 100)}") for p in _BOTTOMK_PS],
    )
    exact = hashed.agg(*[F.percentile(v, F.lit(p)).alias(f"exact_p{int(p * 100)}") for p in _BOTTOMK_PS])
    return est.crossJoin(exact)


def bottomk_sample_quantiles_sql(
    table: str,
    value_col: str,
    key_col: str,
) -> str:
    """DuckDB twin of :func:`bottomk_sample_quantiles` (QUALIFY replays
    the deterministic bottom-k rule; quantile_cont == Spark percentile)."""
    v = f"CAST({value_col} AS DOUBLE)"
    est_cols = ", ".join(f"quantile_cont({v}, {p}) AS est_p{int(p * 100)}" for p in _BOTTOMK_PS)
    exact_cols = ", ".join(f"quantile_cont({v}, {p}) AS exact_p{int(p * 100)}" for p in _BOTTOMK_PS)
    return f"""
WITH hv AS ({_hashed_sql(table, key_col, value_col)}),
s AS (SELECT {value_col} FROM hv QUALIFY row_number() OVER (ORDER BY h, {key_col}) <= {BOTTOMK_K}),
est AS (SELECT count(*) AS k, {est_cols} FROM s),
ex AS (SELECT {exact_cols} FROM hv)
SELECT est.*, ex.* FROM est CROSS JOIN ex
"""
