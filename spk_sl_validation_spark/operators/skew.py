"""Skew mitigation: salting for hot keys, bucketing for co-location.

At 100 TB the reference workload's keys are skew-prone (SURVEY.md §4.2:
vendor '9000340' concentrates a large share of source-list rows; a
handful of plants dominate). AQE's skew-join handling covers joins at
runtime; these helpers cover the cases AQE does not:

- ``salted_group_agg``: two-phase aggregation for *aggregations* with
  hot grouping keys. Phase 1 aggregates on (key, salt) — hot keys
  split across ``N_SALTS`` reducers; phase 2 merges the partials on
  key. Semantics-preserving for any algebraic aggregate (sum/count/
  min/max) — verified against the plain GROUP BY oracle.
- ``salted_shuffle_join``: explicit salting for large-to-large joins
  on paths AQE cannot re-plan (stream-static joins, forced plans).
  A salted *broadcast* join is deliberately absent: a broadcast join
  never shuffles the probe side, so salting it is pointless — the
  correct response to a skewed *dim* join is broadcasting, which the
  operator layer already defaults to (relational.left_join).
- ``write_bucketed`` / co-located joins: pre-shuffling fact tables
  into hash buckets at rest so repeated equi-joins/aggregations on
  the bucket key run with **zero exchanges**. This is the 100 TB
  answer to "the same join key is used every day": pay the shuffle
  once at ingest.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Salt fan-out of :func:`salted_group_agg`.
N_SALTS = 16


def salted_group_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation: exact sums (``sum_<col>``) and
    the row count ``n`` per key even when a few keys dominate the data.

    ``salt_source``: a column/expression whose hash spreads a hot
    key's rows (default: a uniform hash of all non-key columns via
    ``xxhash64``). Phase 1 runs with map-side partial aggregation on
    (keys, salt) — 16-way fan-out caps any single reducer at ~1/16 of
    the hottest key; phase 2 merges ≤ N_SALTS rows per key.
    """
    if salt_source is None:
        others = [c for c in df.columns if c not in keys] or list(keys)
        salt = (F.abs(F.xxhash64(*[F.col(c) for c in others])) % N_SALTS).cast("int")
    else:
        s = F.col(salt_source) if isinstance(salt_source, str) else salt_source
        salt = (F.abs(F.xxhash64(s)) % N_SALTS).cast("int")

    phase1_aggs = [F.sum(c).alias(f"__sum_{c}") for c in sum_cols]
    phase1_aggs.append(F.count(F.lit(1)).alias("__cnt"))
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*phase1_aggs)

    phase2_aggs = [F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    phase2_aggs.append(F.sum("__cnt").alias("n"))
    return partial.groupBy(*keys).agg(*phase2_aggs)


def salted_shuffle_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salted large-to-large equi-join for hot keys on paths AQE's
    runtime skew split cannot reach (stream-static joins, forced
    plans, skew re-emerging mid-multi-join).

    The probe (left) side salts each row by a hash of all its columns;
    the build (right) side is replicated ``n_salts``× via an exploded
    salt sequence. Joining on ``on + [salt]`` spreads a hot key over
    ``n_salts`` reducers; each left row still meets every matching
    right row exactly once, so the result multiset is identical to the
    plain equi-join (verified against the plain-join oracle). Cost:
    build-side shuffle volume × n_salts — size n_salts to the skew
    ratio, not higher.
    """
    on = list(on)
    lsalt = (F.abs(F.xxhash64(*[F.col(c) for c in left.columns])) % n_salts).cast("int")
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return l.join(r, on + ["__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on
    ``bucket_cols``. Subsequent equi-joins/aggregations on those
    columns between bucketed tables with matching bucket counts plan
    with no Exchange (verified in tests/test_scale_plans.py)."""
    spark = df.sparkSession
    if (
        "." not in table
        and spark.catalog.currentDatabase() == "default"
        and not spark.catalog.tableExists(table)
    ):
        # currentDatabase gate: <warehouse>/<table> is the DEFAULT
        # database's location — with another database current,
        # tableExists('t') checks other.t while the path belongs to
        # default.t, and "cleanup" would rmtree a live table's data.
        # An orphaned warehouse location with no catalog entry (left by
        # an interrupted earlier run) makes saveAsTable throw
        # LOCATION_ALREADY_EXISTS; DROP TABLE can't clear it because the
        # catalog has nothing to drop. Remove the dangling directory.
        import shutil
        from urllib.parse import urlparse

        parsed = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
        # Scheme gate: only sweep LOCAL warehouse paths. With a remote
        # warehouse (hdfs://nn/wh, s3a://bucket/wh) whose path component
        # happens to exist on the driver's local filesystem, rmtree
        # would delete an unrelated local directory; remote orphans need
        # the Hadoop FS API and are out of scope for this local helper.
        warehouse = parsed.path if parsed.scheme in ("", "file") else ""
        if warehouse:
            orphan = os.path.join(warehouse, table.lower())
            if os.path.isdir(orphan):
                shutil.rmtree(orphan, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
