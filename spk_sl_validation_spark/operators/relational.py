"""Relational operator surface (SURVEY.md §2.2–§2.7).

Thin, composable wrappers over the DataFrame API that pin down the
reference's semantics (broadcast build sides, anti-join validity
splits, deterministic dedup, duplicate marking). Everything here is
declarative — Catalyst owns physical strategy; we only add broadcast
hints where the build side is known dim-sized.

Scale posture: every join helper broadcasts its build side (the semi
and anti joins unless ``broadcast_build=False``) — at 100 TB the fact
side never moves for dim joins; the only shuffles in
the reference workload are the group-by aggregation and the
duplicate-marking window, both keyed on high-cardinality composite
keys (no skew concern; AQE skew-join covers residual hot keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.functions.scalar import c as _c


def left_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | Sequence[str] | Column,
) -> DataFrame:
    """Left outer equi-join, build side broadcast.

    Every join in the reference is a left outer merge of a fact
    against a small dim/slice (SURVEY.md §2.5 J1–J12) → broadcast
    hash join, no shuffle of the probe side. The build side is NOT
    deduplicated: J5's row multiplication on dual-source materials is
    load-bearing (SL_SPK_Cleansing.py:153, SURVEY.md §4.4.5).
    """
    return probe.join(F.broadcast(build), on=on, how="left")


def semi_join(
    probe: DataFrame, build: DataFrame, on: str | Sequence[str] | Column, broadcast_build: bool = True
) -> DataFrame:
    """EXISTS — the reference's ``isin(dim.column)`` membership filters
    (SL_SPK_Cleansing.py:96-97,102-103; SURVEY.md SJ1–SJ3)."""
    b = F.broadcast(build) if broadcast_build else build
    return probe.join(b, on=on, how="left_semi")


def anti_join(
    probe: DataFrame, build: DataFrame, on: str | Sequence[str] | Column, broadcast_build: bool = True
) -> DataFrame:
    """NOT EXISTS — the reference's ``~isin`` validity splits
    (SL_SPK_Cleansing.py:107-110,249-253; SURVEY.md AJ1/AJ2)."""
    b = F.broadcast(build) if broadcast_build else build
    return probe.join(b, on=on, how="left_anti")


def union_all(*dfs: DataFrame) -> DataFrame:
    """``pd.concat`` — SL_SPK_Cleansing.py:91,108,224 (SURVEY.md U1)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def dedup_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column] | None = None
) -> DataFrame:
    """``drop_duplicates(subset=keys)`` — SL_SPK_Cleansing.py:91,108
    (SURVEY.md D1).

    With ``order_by`` the winner is deterministic (row_number over a
    window) — required for hash-based oracle comparison. Without it,
    falls back to Spark's ``dropDuplicates`` (arbitrary winner, like
    pandas' dependence on row order; value-stable when non-key columns
    agree within a key group, which is the reference's situation).
    """
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def mark_duplicates(df: DataFrame, keys: Sequence[str], flag_col: str = "is_dup") -> DataFrame:
    """``duplicated(keys, keep=False)`` — every member of a >1 group is
    flagged (SL_SPK_Cleansing.py:128; SURVEY.md D2). One shuffle on
    ``keys``; the reference's only window-shaped operator.
    """
    w = Window.partitionBy(*keys)
    return df.withColumn(flag_col, F.count(F.lit(1)).over(w) > 1)


def group_sum(df: DataFrame, keys: Sequence[str], numeric_cols: Sequence[str]) -> DataFrame:
    """``groupby(keys).sum()`` over the numeric columns —
    Status_Cleansing.py:104 (SURVEY.md A1). Hash aggregate with
    map-side partial aggregation for free.
    """
    aggs = [F.sum(_c(col)).alias(col) for col in numeric_cols]
    return df.groupBy(*[_c(k) for k in keys]).agg(*aggs)


def exact_fixed_point_agg(
    df: DataFrame,
    keys: Sequence[str],
    sums: dict[str, tuple[Column, float]],
    count_alias: str | None = None,
) -> DataFrame:
    """Exact money/fixed-point SUMs at long-integer speed, safe at any
    corpus size: two-level accumulation.

    ``sums`` maps output name → (integer-units Column — e.g. cents as
    ``round(x*100).cast("long")`` — , divisor back to the display
    unit). Result columns are DOUBLE, bit-identical to a
    ``SUM(CAST(x AS DECIMAL))`` chain (both engines round the same
    exact rational to the nearest double).

    Why not one ``sum(decimal)``: Spark's decimal aggregation buffers
    BigDecimal per row — measured 1.9x slower than a long sum on the
    TPC-H Q1 shape. Why not one ``sum(long)``: a single long
    accumulator overflows once n_rows × max_units exceeds 2^63 —
    fine for a bench, wrong for 100 TB.

    The two-level plan bounds each accumulator structurally:
    - **Level 1** groups by (keys, spark_partition_id) — completes
      map-side (each pid lives in exactly one partition), summing
      longs inside whole-stage codegen. Overflow bound is
      rows-per-PARTITION × max_units < 2^63: a 128 MB input split
      holds < ~1e7 rows, so units up to ~1e11 per row (scale-6
      products of money × two rate factors) keep a 40x margin —
      independent of total corpus size.
    - **Level 2** shuffles only the tiny partial rows (≤ groups ×
      input-partitions) and merges them in DECIMAL(38,0) — exact for
      any number of partials; the decimal cost is paid once per
      partial, not once per row.

    The extra exchange moves a few long columns per (group,
    partition) — negligible against the row-level scan it replaces.
    """
    pid = F.spark_partition_id().alias("__pid")
    partials = [F.sum(expr).alias(f"__p_{name}") for name, (expr, _) in sums.items()]
    partials.append(F.count(F.lit(1)).alias("__p_cnt"))
    lvl1 = df.groupBy(*[_c(k) for k in keys], pid).agg(*partials)
    finals = [
        (F.sum(F.col(f"__p_{name}").cast("decimal(38,0)")).cast("double") / F.lit(div)).alias(name)
        for name, (_, div) in sums.items()
    ]
    if count_alias is not None:
        finals.append(F.sum("__p_cnt").alias(count_alias))
    return lvl1.groupBy(*keys).agg(*finals)


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column], k: int, rank_col: str = "rank"
) -> DataFrame:
    """Top-K per group via row_number window. ``order_by`` must be a
    total order (include a unique tiebreak) for deterministic output."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def evaluate_once(df: DataFrame, *cols: str) -> DataFrame:
    """Force the named columns to evaluate ONCE per row before
    downstream projections consume them many times.

    Catalyst's CollapseProject re-inlines an aliased expression into
    every downstream reference. For cheap codegen'd expressions that
    is free; but a higher-order-function text expression (which is
    CodegenFallback — the whole projection runs interpreted) that k
    downstream expressions reference then evaluates k times per row —
    measured 5x wall on the composed crawl→corpus pipeline. A
    one-element ``explode(array(struct(...)))`` is a Generator, and
    projections never collapse across generators, so the packed
    struct evaluates exactly once per row; consumers re-extract cheap
    struct fields. Everything stays JVM-side: zero exchanges, row
    count unchanged, column order preserved."""
    order = list(df.columns)
    others = [c for c in order if c not in cols]
    # Backtick-quoted references + positional struct-field aliases +
    # getField (never bare name strings, which Spark parses as dotted
    # paths) so SAP-style column names containing '.' or spaces
    # ("Plant-sp.matl status") round-trip the barrier.
    q = lambda c: F.col("`" + c.replace("`", "``") + "`")  # noqa: E731
    packed = df.select(
        *[q(c) for c in others],
        F.explode(
            F.array(F.struct(*[q(c).alias(f"__f{i}") for i, c in enumerate(cols)]))
        ).alias("__once"),
    )
    out_cols = {
        c: F.col("__once").getField(f"__f{i}").alias(c) for i, c in enumerate(cols)
    }
    return packed.select(
        *[out_cols[c] if c in out_cols else q(c) for c in order]
    )
