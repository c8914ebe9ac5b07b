"""SparkSession construction tuned for correctness + scale posture.

Local test runs use ``local[N]``; the same conf block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on,
sane broadcast threshold). Session timezone is pinned to UTC so
timestamp results are comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def build_session(
    app_name: str = "spk_sl_validation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard conf.

    The conf choices and why they hold at scale:
    - AQE + coalescePartitions + skewJoin: runtime re-planning fixes
      both the tiny-local case (over-parallelized shuffles) and the
      100 TB case (skewed join keys, e.g. hot vendor ids).
    - autoBroadcastJoinThreshold 64m: every dimension table in the
      reference workload is dim-sized; broadcast-hash beats
      sort-merge for all of them.
    - Arrow enabled: pandas_udf / toPandas go through Arrow batches.
    - UTC session TZ: oracle comparability and cluster determinism.
    - TIMESTAMP_MICROS parquet output: the INT96 default writes NO
      min/max column statistics, which silently disables file/row-group
      pruning on event-time predicates — the single most important
      pruning axis for a time-partitioned 100 TB corpus.
    - codegen cache 1000 entries: one streaming-ingest micro-batch
      needs about 140 distinct generated classes, so Spark's default
      LRU of 100 evicts and re-compiles ~80 of them (Janino, then JIT)
      on every trigger.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Set at build time (not lazily on first NANOS read) so parquet
        # TIMESTAMP(NANOS) handling doesn't depend on table read order
        # within a session. No-op for non-NANOS columns; readers.load_table
        # owns the LongType->timestamp conversion for NANOS event files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Static conf (fixed at JVM start). Measured working set: ~140
        # generated classes per ingest micro-batch, which thrash the
        # default LRU of 100.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release(spark: SparkSession) -> None:
    """Drop the persisted state a query run leaves behind: cached frames,
    eager/lazy ``localCheckpoint`` RDDs and the SQL cache.

    ``catalog.clearCache()`` alone forgets only the SQL cache; checkpoint
    RDDs stay in ``getPersistentRDDs()`` and pile up across runs. The
    ``gc.collect()`` first lets py4j release dead DataFrame handles so
    their broadcast blocks can go too.
    """
    import gc

    gc.collect()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (``CodegenMetrics``). A count
    that grows when an already-run plan runs again means the generated-
    code cache is thrashing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def app_memo(cache: dict, key: tuple, build: Callable[[], T]) -> T:
    """Memo lookup for caches of py4j-backed objects keyed by
    ``(applicationId, ...)``; ``key[0]`` must be the live application.

    On a miss, every entry of another (stopped) application is dropped
    first: its JVM objects are dead, and keeping them would pin their
    py4j references for the life of the Python process.
    """
    val = cache.get(key)
    if val is None:
        for stale in [k for k in cache if k[0] != key[0]]:
            del cache[stale]
        val = cache[key] = build()
    return val
