"""Report sinks & phase timing (SURVEY.md §2.1 S3/S4).

The reference writes multi-sheet Excel workbooks
(SL_SPK_Cleansing.py:328-338) and logs per-phase wall-clock
(SL_SPK_Cleansing.py:28-33,47-58). Our engine's report = a dict of
named DataFrames:

- ``write_report``: one parquet directory per sheet — the scalable
  path (a 100 TB sheet is just a partitioned parquet dataset).
- ``write_report_xlsx``: optional edge converter for small,
  human-facing output (collects to pandas — guarded by a row cap).
- ``PhaseTimer``: the S4 log sink, driver-side.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger("spk_sl_validation_spark")


def write_report(sheets: dict[str, DataFrame], out_dir: str) -> None:
    """Write each sheet as parquet under ``out_dir/<sheet-name>/``
    (replacing an existing report)."""
    for name, df in sheets.items():
        safe = name.replace("/", "_").replace(" ", "_")
        df.write.mode("overwrite").parquet(f"{out_dir}/{safe}")


def write_clustered(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int = 32,
) -> None:
    """Range-clustered parquet: ``repartitionByRange`` on ``range_cols``
    (one disjoint value range per output file) + ``sortWithinPartitions``
    so pages inside each file are ordered too.

    This is the data-layout half of scan performance at 100 TB: parquet
    footers then carry tight, non-overlapping min/max stats on the
    cluster columns, so a range predicate prunes whole files before any
    I/O (and row groups within the survivors). Clustering by the
    dominant filter column (event time, tenant) turns full-corpus scans
    into touched-range scans. Disjointness is asserted in
    tests/test_scale_plans.py from the written footers.
    """
    out = df.repartitionByRange(n_files, *range_cols)
    out = out.sortWithinPartitions(*range_cols)
    out.write.mode("overwrite").parquet(path)


def dataset_checksum(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order-independent content fingerprint: one row of
    (n_rows, checksum) where checksum = Σ md5_60bit(row) mod 2^61-1.

    Per row, the named columns are cast to string (NULL → a reserved
    marker) and joined with an unprintable separator before hashing;
    the commutative sum makes the checksum independent of row order
    and partitioning — so it is computable with one map-side-combined
    aggregate at any scale and comparable across engines, exports, and
    replicas. This is the data-contract primitive: publisher ships
    (n_rows, checksum) in the manifest, consumer recomputes.

    Caller chooses ``cols`` (and pre-casts floats to DECIMAL) when the
    table has types whose string form is engine-dependent.
    """
    from spk_sl_validation_spark.ext.hashing import MERSENNE_61, md5_long

    use = cols or df.columns
    # Backtick-quote every name: reference-table columns contain dots
    # ("Plant-sp.matl status"), which unquoted resolution parses as
    # struct access.
    row_str = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\x01")) for c in use],
    )
    # Accumulate in DECIMAL(38,0): a raw long sum of 2^61-scale terms
    # overflows after ~4 rows (ANSI mode aborts); decimal partials are
    # still map-side-combinable and one mod at the end restores a long.
    return df.select(md5_long(row_str).alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum((F.col("h") % F.lit(MERSENNE_61)).cast("decimal(38,0)"))
            % F.lit(MERSENNE_61)
        )
        .cast("long")
        .alias("checksum"),
    )


def dataset_checksum_sql(table: str, col_exprs: list[str]) -> str:
    """DuckDB twin of :func:`dataset_checksum` (same bits, same sum)."""
    from spk_sl_validation_spark.ext.hashing import MERSENNE_61, md5_long_sql

    # chr() calls, not literal control bytes — raw \x1f/\x01 inside a
    # SQL string break the parser.
    joined = " || chr(31) || ".join(
        f"coalesce(CAST({e} AS VARCHAR), chr(1))" for e in col_exprs
    )
    h = md5_long_sql(f"({joined})")
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(({h}) % {MERSENNE_61}) % {MERSENNE_61} AS BIGINT) AS checksum
FROM {table}
"""


def write_report_with_manifest(sheets: dict[str, DataFrame], out_dir: str) -> dict:
    """write_report + a ``manifest.json`` of per-sheet (n_rows,
    checksum) — the verifiable-export contract: any consumer (or this
    engine on re-read) recomputes the checksum to prove integrity
    without comparing data. Returns the manifest dict."""
    import json
    import os

    write_report(sheets, out_dir)
    manifest = {}
    for name, df in sheets.items():
        safe = name.replace("/", "_").replace(" ", "_")
        row = dataset_checksum(df).first()
        manifest[safe] = {"n_rows": row.n_rows, "checksum": row.checksum}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key over numeric columns: each column is
    rank-normalized to ``bits`` levels via ``percent_rank`` and the
    level bits are interleaved, so sorting by the key gives every
    column locality simultaneously.

    Rank normalization (rather than min/max scaling) makes the key
    robust to skewed distributions — equal-population levels, which is
    what file skipping wants. Returns (df_with_key, key_col_name).
    """
    from pyspark.sql import Window

    out = df
    level_cols = []
    for c in cols:
        lc = f"__z_{c}"
        pr = F.percent_rank().over(Window.orderBy(F.col(c)))
        out = out.withColumn(
            lc, F.least(F.lit((1 << bits) - 1), (pr * (1 << bits)).cast("long"))
        )
        level_cols.append(lc)
    # Interleave: bit p of column j lands at position p*n_cols + j.
    n = len(level_cols)
    key = F.lit(0).cast("long")
    for p in range(bits):
        for j, lc in enumerate(level_cols):
            key = key + F.expr(
                f"shiftleft(shiftright({lc}, {p}) & 1, {p * n + j})"
            ).cast("long")
    return out.withColumn("__zkey", key).drop(*level_cols), "__zkey"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet: range-partition + sort by the Morton
    key of ``cols``, so parquet footers carry tight min/max on EVERY
    clustered column at once (single-column range clustering gives one
    column perfect locality and the others none).

    This is the multi-dimensional file-skipping layout (Delta/Iceberg
    ``OPTIMIZE ZORDER BY``): queries filtering on any subset of the
    clustered columns prune most files from footers alone. The
    percent_rank in the key is one global sort of a NARROW projection
    (col only), not the data — the wide rows move once, in the final
    range exchange.
    """
    keyed, key = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-files compaction: rewrite a parquet directory with file
    count sized so each output file ≈ ``target_file_bytes``.

    The operational tool every long-lived 100 TB table needs:
    streaming/incremental writers accumulate thousands of KB-scale
    files, and scan cost degrades to per-file open overhead (footer
    read + seek) instead of I/O bandwidth. Sizing uses the Hadoop
    FileSystem API (works identically on HDFS/S3/local); the rewrite
    is one round-robin ``repartition`` — a shuffle, but an even one,
    which is the right trade for a layout job (``coalesce`` would skip
    the shuffle at the cost of skewed output files pinned to input
    locality).

    Returns {files_before, bytes_total, files_after} for the caller's
    audit log.
    """
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(hpath)
    total_bytes = summary.getLength()
    files_before = _count_data_files(fs, hpath)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(out_path)
    return {"files_before": files_before, "bytes_total": total_bytes, "files_after": n_out}


def _count_data_files(fs, hpath) -> int:
    """Count data files (non-hidden) under a path via the Hadoop FS
    remote iterator."""
    it = fs.listFiles(hpath, True)
    n = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


#: Rows per sheet an xlsx report accepts (Excel's sheet limit is 2^20).
_XLSX_MAX_ROWS = 1_000_000


def write_report_xlsx(sheets: dict[str, DataFrame], path: str) -> None:
    """Edge converter: collect each sheet and write one xlsx workbook.

    Mirrors the reference's xlsxwriter sink; only sane for human-scale
    output, hence the 1,000,000-row cap per sheet. Requires an xlsx
    engine (openpyxl or xlsxwriter) — import-guarded since the engine
    core never needs it.
    """
    try:
        import pandas as pd  # noqa: F401

        pd.ExcelWriter  # engine check happens at writer construction below
        import importlib

        if not any(
            importlib.util.find_spec(m) for m in ("openpyxl", "xlsxwriter")
        ):  # pragma: no cover - environment dependent
            raise ImportError("no xlsx engine (openpyxl or xlsxwriter) installed")
    except ImportError as e:
        raise RuntimeError(f"xlsx report unavailable: {e}") from e

    frames = {}
    for name, df in sheets.items():
        n = df.count()
        if n > _XLSX_MAX_ROWS:
            raise ValueError(f"sheet {name!r} has {n} rows > xlsx cap {_XLSX_MAX_ROWS}")
        # Stringify temporal columns: SAP-style sentinel dates (9999-12-31)
        # overflow Arrow's ns timestamps in toPandas, and Excel wants
        # readable dates anyway.
        for f in df.schema.fields:
            if f.dataType.typeName() in ("timestamp", "timestamp_ntz", "date"):
                df = df.withColumn(f.name, F.col(f"`{f.name}`").cast("string"))
        frames[name[:31]] = df.toPandas()  # 31-char Excel sheet-name limit

    import pandas as pd

    with pd.ExcelWriter(path) as writer:
        for name, pdf in frames.items():
            pdf.to_excel(writer, index=False, sheet_name=name)


@contextmanager
def phase(name: str) -> Iterator[None]:
    """Per-phase wall-clock logging — the reference's S4 pattern."""
    t0 = time.time()
    logger.info("phase %s: start", name)
    try:
        yield
    finally:
        logger.info("phase %s: %.3fs", name, time.time() - t0)


def write_zorder(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 32,
) -> None:
    """Z-order-clustered parquet: rows range-partitioned and sorted by
    the Morton interleave of ``col_x`` and ``col_y``, so every output
    file's footer carries tight min/max stats on BOTH columns — a
    range/point predicate on EITHER key prunes most files, where a
    single-column sort bounds only its own column (the Delta/Iceberg
    OPTIMIZE ZORDER layout; both-dims-bounded property asserted from
    written footers in tests/test_scale_plans.py).

    Each column is first NORMALIZED onto the full 16-bit domain
    from its min/max (one cheap agg action — in production these come
    from table stats): naive interleaving of unequal domains
    degenerates to a single-column sort, because only the wider
    column populates the high z-bits.
    """
    from spk_sl_validation_spark.ext.hashing import z_value_expr

    bits = 16
    top = (1 << bits) - 1
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()

    def norm(col: str, lo, hi) -> str:
        if lo is None or hi is None or hi <= lo:
            # empty input or constant column: no spread to encode
            return "0"
        return f"CAST((CAST({col} AS BIGINT) - {lo}) * {top} / {hi - lo} AS BIGINT)"

    z = z_value_expr(norm(col_x, lo_x, hi_x), norm(col_y, lo_y, hi_y), bits)
    out = df.withColumn("__z", F.expr(z)).repartitionByRange(n_files, "__z")
    out = out.sortWithinPartitions("__z").drop("__z")
    out.write.mode("overwrite").parquet(path)
