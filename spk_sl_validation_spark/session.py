"""SparkSession construction tuned for correctness + scale posture.

Local test runs use ``local[N]``; the same conf block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on,
sane broadcast threshold). Session timezone is pinned to UTC so
timestamp results are comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
