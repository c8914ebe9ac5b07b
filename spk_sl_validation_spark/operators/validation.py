"""Declarative data-validation rules — the engine's namesake surface.

The reference is a validation tool: every pipeline partitions rows
into valid/invalid and stamps a reason (SURVEY.md §2.8). This module
generalizes that into a reusable API: a ``Check`` is a named predicate
over a DataFrame; ``validate`` evaluates all checks in ONE pass
(each check compiles to a conditional-count aggregate — no per-rule
scans, no shuffle beyond the single global aggregate) and
``flag_violations`` annotates rows with their failed checks for
quarantine/repair flows.

At 100 TB a validation suite is one full scan regardless of how many
checks it carries; anything per-rule (N scans) would be N× the cost.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One validation rule: rows where ``predicate`` is FALSE (or
    null) are violations. ``predicate_sql`` is the ANSI twin used for
    oracle generation."""

    name: str
    predicate: Column
    predicate_sql: str | None = None
    severity: str = "error"


def validate(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """One-pass validation report: (check, severity, n_violations,
    n_rows, violation_rate). A row violates a check when the predicate
    is not TRUE — null predicates (null inputs) count as violations,
    matching the quarantine-everything-suspect posture."""
    n_rows = F.count(F.lit(1))
    aggs = [
        F.sum(
            F.when(c.predicate.isNull() | ~c.predicate, F.lit(1)).otherwise(F.lit(0))
        ).alias(c.name)
        for c in checks
    ]
    wide = df.agg(*aggs, n_rows.alias("__n"))
    # One aggregate row → explode into one report row per check.
    pairs = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.severity).alias("severity"),
                F.col(c.name).alias("n_violations"),
            )
            for c in checks
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("r"), F.col("__n"))
        .select(
            "r.check",
            "r.severity",
            "r.n_violations",
            F.col("__n").alias("n_rows"),
            (F.col("r.n_violations").cast("double") / F.col("__n").cast("double")).alias(
                "violation_rate"
            ),
        )
    )


def observe_checks(
    df: DataFrame, checks: Sequence[Check]
) -> tuple[DataFrame, "Observation"]:
    """Attach the check suite as an ``Observation``: violation counts
    are accumulated DURING whatever action the caller already runs on
    the returned DataFrame (a write, a count) — zero extra scans, the
    cost model a 100 TB ingest needs for always-on quality metrics.
    :func:`validate` answers "run a validation report" (its own
    aggregate job); this answers "get the report for free while the
    pipeline writes". Returns ``(observed_df, observation)``;
    ``observation.get`` yields ``{check_name: n_violations, __n:
    n_rows}`` after the first action completes. Violation semantics
    match validate(): predicate not TRUE (null counts as violation).
    """
    from pyspark.sql import Observation

    obs = Observation("validation")
    metrics = [
        F.sum(F.when(c.predicate.isNull() | ~c.predicate, F.lit(1)).otherwise(F.lit(0))).alias(
            c.name
        )
        for c in checks
    ]
    return df.observe(obs, *metrics, F.count(F.lit(1)).alias("__n")), obs


def flag_violations(df: DataFrame, checks: Sequence[Check], out_col: str = "failed_checks") -> DataFrame:
    """Annotate each row with the (possibly empty, sorted) array of
    check names it fails — the quarantine/repair companion to
    :func:`validate`. Pure projection; no shuffle."""
    flags = F.array(
        *[
            F.when(c.predicate.isNull() | ~c.predicate, F.lit(c.name)).otherwise(F.lit(None))
            for c in checks
        ]
    )
    return df.withColumn(out_col, F.sort_array(F.filter(flags, lambda x: x.isNotNull())))
