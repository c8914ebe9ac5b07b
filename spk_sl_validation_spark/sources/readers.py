"""Table readers (SURVEY.md §2.1 S1).

The reference eagerly loads Excel extracts with inferred schemas
(SL_SPK_Cleansing.py:40-55); our engine reads columnar parquet with
declared schemas (schemas.py) — scans get predicate pushdown, column
pruning, and vectorized decoding from Spark for free. CSV/xlsx ingest
is an edge converter, not an engine concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spk_sl_validation_spark import schemas


_TS_NANOS_PATHS: dict[tuple[str, float, int], bool] = {}

#: Floor on rows per manufactured partition — below this, task
#: scheduling overhead exceeds the per-row work even for the heaviest
#: codec (~2 ms/row); keeps sf0.001 (50-row) scans at 1-2 partitions.
_SPREAD_MIN_ROWS_PER_TASK = 32

_PARQUET_META: dict[tuple[str, float, int], tuple[int, int]] = {}


def _parquet_rows_and_row_groups(path: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) from the parquet footer, cached on
    (path, mtime, size) like the ts-unit probe above. One footer read
    per file version — never a data scan."""
    import os

    st = os.stat(path)
    key = (path, st.st_mtime, st.st_size)
    if key not in _PARQUET_META:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        _PARQUET_META[key] = (md.num_rows, md.num_row_groups)
    return _PARQUET_META[key]


def spread_for_compute(
    df: DataFrame,
    spark: SparkSession,
    path: str,
    min_rows_per_task: int = _SPREAD_MIN_ROWS_PER_TASK,
) -> DataFrame:
    """Input-skew fix (spark_optimization_guide §2.5): a corpus table
    that arrives as one small parquet file yields ONE scan split (a
    parquet file parallelizes at row-group granularity), which
    serializes every downstream narrow stage — Arrow codec UDFs, HOF
    shingle/minhash chains — onto a single core no matter how many the
    cluster has. When the footer shows fewer row groups than the
    cluster's default parallelism AND the payload is small enough that
    one extra round-robin exchange is negligible (< 1 advisory shuffle
    partition per core), repartition right after the read so compute
    stages use every core. At production scale (many files / row
    groups, or > ~64 MB x cores of bytes) this is a structural no-op —
    no exchange is added, and the corpus is never shuffled.

    Applied at the HANDFUL of sites whose downstream per-row work
    dominates (codec decode, shingle/minhash, brute-force cosine) —
    NOT centrally in load_table: a blanket spread was measured to slow
    multi-scan and iterative queries (each internal eager job re-pays
    the exchange as an extra serialized AQE stage: text_bigram_logprob
    0.70 -> 2.52 s, text_quality_train 1.65 -> 3.71 s) while the
    single-pass compute-bound family improved 1.4-6.5x.

    Result-safe: round-robin repartition only changes physical row
    placement; every registered query is order-insensitively
    value-hashed against its oracle.
    """
    import math
    import os

    p = spark.sparkContext.defaultParallelism
    try:
        rows, row_groups = _parquet_rows_and_row_groups(path)
        total_bytes = os.stat(path).st_size
    except Exception:
        # ADVICE r11: pyarrow raises ArrowInvalid (not OSError) on
        # footers it cannot parse (newer parquet features, encryption)
        # that Spark itself may read fine — the probe must degrade to
        # a no-op, never fail a query at plan-build time.
        return df
    if row_groups >= p or total_bytes > (64 << 20) * p:
        return df
    # P/2, not P or 2P: the downstream stages are usually JVM->Python
    # chains, where each task runs a JVM Arrow writer thread AND a
    # Python worker — at >= P tasks the two sides fight for the same
    # cores, and per-task Python runner setup is ~30-50 ms per stage.
    # Measured on the JPEG codec chain (5k docs, 32 cores): 1 part
    # 2.9 s, 8 -> 0.95, 16 -> 0.72, 32 -> 1.1, 64 -> 1.6.
    #
    # min_rows_per_task derives the fan-out cap from the DOWNSTREAM
    # stage type (r11 verdict item 9): Python codec chains cost
    # ~1 ms/row, so 32 rows already outweigh per-task overhead; JVM
    # HOF/regexp chains cost ~0.1-0.2 ms/row, so a task needs ~512
    # rows before fan-out beats scheduling — the r11 constant (32 for
    # every site) made 8-core runs beat 32-core on the HOF sites.
    target = (
        min(max(p // 2, 1), math.ceil(rows / min_rows_per_task)) if rows else 0
    )
    if target <= row_groups:
        return df
    return df.repartition(target)


def _events_ts_is_nanos(path: str) -> bool:
    """True iff ``ts`` in the parquet footer is TIMESTAMP(NANOS).

    The driver's testdata generator has shipped events.ts as both
    NANOS and MICROS across rounds; NANOS needs the ``nanosAsLong``
    legacy path (Spark's vectorized reader rejects it), MICROS reads
    natively. One footer read per file version — the cache is keyed on
    (path, mtime, size) so a file regenerated in place with a different
    unit re-probes instead of reusing a stale verdict (a stale NANOS
    verdict on a MICROS file would yield timestamps off by 1000x).
    A missing ``ts`` field means "not nanos"; any other probe failure
    (I/O, pyarrow) propagates — silently assuming MICROS would trade a
    clear error here for a confusing vectorized-reader error later.
    """
    import os

    st = os.stat(path)
    key = (path, st.st_mtime, st.st_size)
    if key not in _TS_NANOS_PATHS:
        import pyarrow.parquet as pq

        try:
            field = pq.ParquetFile(path).schema_arrow.field("ts")
        except KeyError:
            _TS_NANOS_PATHS[key] = False
        else:
            _TS_NANOS_PATHS[key] = getattr(field.type, "unit", None) == "ns"
    return _TS_NANOS_PATHS[key]


def _read_nanos_events(spark: SparkSession, reader, path: str) -> DataFrame:
    """Events with ``ts`` stored as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects: read ``ts`` as raw nanos
    (``nanosAsLong``) and convert to a microsecond timestamp
    (``ts div 1000`` — matches DuckDB's truncation of ns → µs).
    ``reader`` is ``spark.read`` or ``spark.readStream``, so the batch
    and the streaming source share one conversion."""
    # Redundant for sessions from build_session (pinned at session
    # build, so behavior never depends on read order); kept as a
    # safeguard for externally-built sessions.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.LongType(), True)
            for f in schemas.EVENTS.fields
        ]
    )
    raw = reader.schema(physical).parquet(path)
    return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)")).select(
        *[f.name for f in schemas.EVENTS.fields]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata table with its declared schema.

    Passing the explicit schema (rather than letting parquet supply
    it) validates the contract and lets Catalyst prune columns that a
    query never touches.

    When ``events.ts`` is stored as parquet TIMESTAMP(NANOS) it is
    truncated to microseconds (:func:`_read_nanos_events`);
    TIMESTAMP(MICROS) files read natively.
    """
    # Defensive: timestamp parity with the DuckDB oracle requires UTC
    # rendering even if the hosting session was built without our conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events" and _events_ts_is_nanos(f"{sf_dir}/{name}.parquet"):
        return _read_nanos_events(spark, spark.read, f"{sf_dir}/{name}.parquet")
    schema = schemas.TESTDATA_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def load_table_spread(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_rows_per_task: int = _SPREAD_MIN_ROWS_PER_TASK,
) -> DataFrame:
    """:func:`load_table` + :func:`spread_for_compute` — for the
    call sites whose downstream per-row work is the dominant cost.
    ``min_rows_per_task`` scales the fan-out to that work: keep the
    default for Python codec chains (~1 ms/row), pass ~512 for JVM
    HOF/regexp chains (~0.1-0.2 ms/row) so tasks stay large enough to
    outweigh scheduling overhead at high core counts."""
    return spread_for_compute(
        load_table(spark, sf_dir, name),
        spark,
        f"{sf_dir}/{name}.parquet",
        min_rows_per_task=min_rows_per_task,
    )


def load_csv_table(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV source with a declared schema (SURVEY.md §2.1 S1's second
    format). An explicit schema skips the inference pass (one full
    extra scan at 100 TB) and pins types against drift; malformed rows
    surface in ``_corrupt_record`` rather than silently nulling."""
    return spark.read.csv(path, schema=schema, header=header, mode="PERMISSIVE")


def read_xlsx_table(
    spark: SparkSession, path: str, sheet_name: str | int = 0, schema: T.StructType | None = None
) -> DataFrame:
    """Edge converter for the reference's xlsx sources (SURVEY.md §2.1
    S1: ``pd.read_excel`` over SAP extracts). Driver-side pandas read →
    Spark DataFrame; only sane for dim-sized human-maintained inputs —
    engine-scale data arrives as parquet. Import-guarded: requires an
    xlsx engine (openpyxl), which the engine core never needs.
    """
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "read_xlsx_table requires openpyxl; convert the workbook to "
            "parquet/csv out of band, or install an xlsx engine"
        ) from e
    import pandas as pd

    pdf = pd.read_excel(path, sheet_name=sheet_name, engine="openpyxl")
    return spark.createDataFrame(pdf, schema=schema)


def load_orc_table(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC source — the other columnar format large warehouses hand
    off (Hive-lineage lakes). Native vectorized reader with the same
    pushdown/pruning surface as parquet; a declared schema pins types
    and skips footer-merge inference across many files.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def load_jsonl_table(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-Lines source with a declared schema — the de-facto
    interchange format for document/training-data corpora. An explicit
    schema avoids the inference scan (a full extra pass over 100 TB)
    and keeps the reader a single streaming decode per file split;
    malformed lines land in ``_corrupt_record`` when the schema
    declares it (PERMISSIVE) instead of failing the job.
    """
    return spark.read.json(path, schema=schema, mode="PERMISSIVE")


def load_xml_table(
    spark: SparkSession, path: str, row_tag: str, schema: T.StructType
) -> DataFrame:
    """XML source (native in Spark 4 — the merged spark-xml reader)
    with a declared schema: each ``row_tag`` element becomes a row.

    Same policy as :func:`load_jsonl_table`: the explicit schema
    skips the inference pass (a full extra scan at 100 TB) and pins
    types independent of element order; attributes surface as
    ``_attrName`` fields when declared. XML is the interchange edge
    for the reference's SAP-flavored domain (IDoc/ALE exports) —
    parse at the edge, convert to parquet for the hot path, exactly
    like the xlsx edge converter (readers.py:102).
    """
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )
