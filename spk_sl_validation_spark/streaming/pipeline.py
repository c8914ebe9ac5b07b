"""Structured Streaming pipelines over the events table.

The reference has no streaming (SURVEY.md §2.10); this module is the
north-star extension: the same event-time operators as the batch
plans (windowed_event_agg, sessionize_events) expressed as streams,
plus a custom stateful operator via ``applyInPandasWithState``.

Design for scale:
- **Event-time, not arrival-time**: watermarks bound state; late data
  within the watermark is merged correctly (Dataflow-model
  semantics). State lives in the state store, partitioned by group
  key — scales with distinct keys, not events.
- **availableNow trigger** for tests/backfills: the identical query
  graph serves both the continuous deployment and a deterministic
  batch replay, which is what makes the DuckDB oracle applicable.
- The file source splits input into batches; all stateful operators
  here are correct across arbitrary batch boundaries (running counts
  carry GroupState; windows/sessions merge in the state store).
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spk_sl_validation_spark import schemas

_SINK_COUNTER = itertools.count()


def _stage_single_file(src, stage_root: str) -> str:
    """Hardlink/copy a single parquet file into a /tmp directory (the
    file stream source requires a directory; the testdata ships single
    read-only files — in production the source is already a directory
    of arriving files). Freshness-guarded: if the source was
    regenerated in place (size or mtime changed), the stale staged
    copy is replaced instead of silently streaming old data.
    """
    import pathlib
    import shutil

    src = pathlib.Path(src)
    stage = pathlib.Path(stage_root) / str(src.parent).strip("/").replace("/", "_")
    staged = stage / src.name
    st = src.stat()
    if staged.exists():
        st2 = staged.stat()
        if (st2.st_size, st2.st_mtime) == (st.st_size, st.st_mtime):
            return str(stage)
        staged.unlink()
    stage.mkdir(parents=True, exist_ok=True)
    try:
        staged.hardlink_to(src)
    except OSError:
        shutil.copy2(src, staged)
    return str(stage)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same NANOS→µs
    normalization as the batch reader (sources/readers.py).
    Single-file staging + freshness guard: :func:`_stage_single_file`.
    """
    import pathlib

    src = pathlib.Path(sf_dir) / "events.parquet"
    stage = pathlib.Path(_stage_single_file(src, "/tmp/spk_sl_stream_src"))
    staged = stage / "events.parquet"

    from spk_sl_validation_spark.sources.readers import (
        _events_ts_is_nanos,
        _read_nanos_events,
    )

    if not _events_ts_is_nanos(str(staged)):
        return spark.readStream.schema(schemas.EVENTS).parquet(str(stage))
    return _read_nanos_events(spark, spark.readStream, str(stage))


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (same staging rule as
    :func:`stream_events`; documents has no timestamp-unit edge)."""
    import pathlib

    src = pathlib.Path(sf_dir) / "documents.parquet"
    stage = _stage_single_file(src, "/tmp/spk_sl_stream_src_docs")
    return spark.readStream.schema(schemas.DOCUMENTS).parquet(stage)


#: Shuffle partitions of a replay's state store: each one instantiates
#: a state-store provider, a fixed per-partition cost that dominates
#: small replays (measured 2× at sf0.1 going 32→8). Size it to state
#: volume in production — the value is pinned into the checkpoint at
#: first run.
_REPLAY_STATE_PARTITIONS = 8


def run_available_now(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion on the available
    data (memory sink) and return the materialized result as a batch
    DataFrame — the deterministic-replay harness for the oracle. The
    state store gets ``_REPLAY_STATE_PARTITIONS`` shuffle partitions.
    """
    spark = stream_df.sparkSession
    name = f"spk_sl_stream_sink_{next(_SINK_COUNTER)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_REPLAY_STATE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # Materialize off the memory sink and DROP it: each sink table
    # otherwise retains its full result for the driver's lifetime,
    # growing without bound across a long session's replays. The
    # checkpointed blocks are released with the returned DataFrame.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


#: Event-time watermark of every stream below: bounds window, session
#: and join state to events at most this far behind the newest ``ts``.
_WATERMARK = "2 hours"


def windowed_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling event-time window aggregation — streaming twin
    of the batch ``windowed_event_agg`` plan. The watermark bounds state
    to (watermark / window) = 2 live windows per event_type."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Session windows (30-minute gap) per user — the built-in streaming
    sessionization; state merges adjacent sessions in the state store."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def interval_joined(
    clicks: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each click matched to purchases by
    the same user within the preceding hour. Watermarks on
    both sides bound the join state (Spark buffers only rows younger
    than watermark + interval); inner time-bounded joins are the one
    stream-stream join shape that needs no output delay.

    ``how="left_outer"``: unmatched clicks additionally emit one
    null-padded row — but only once the watermark passes the click's
    last possible match time (state eviction), so rows younger than
    ``max(ts) - _WATERMARK`` at stream end never surface their null.
    Callers comparing against batch semantics must truncate BOTH sides
    to the emitted region (see streaming_interval_join_outer)."""
    c = clicks.withWatermark("ts", _WATERMARK).select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("click_ts")
    )
    p = purchases.withWatermark("ts", _WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("purchase_ts") <= F.col("click_ts")),
        how,
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts")


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum(value))
    via ``applyInPandasWithState``. Emits the updated total each
    batch; state is a 2-field tuple per user — O(distinct users), not
    O(events). This is the extension point the built-in aggregations
    don't cover (arbitrary Python state transitions per group).
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_activity_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the Spark 4 ``transformWithState``
    API (StatefulProcessor + typed state variables, RocksDB-backed):
    per-user (n_events, first_ts, last_ts).

    Successor surface to ``applyInPandasWithState`` (running_user_totals
    keeps that API pinned): explicit state-variable handles
    (ValueState/ListState/MapState), per-key timers, and state
    schema evolution — the API for long-lived production state at
    scale. Timestamps are held in state as epoch micros (plain longs)
    and rehydrated on emit, keeping the state row Arrow-trivial.

    Environment gate: the transformWithState Python runner needs a
    working ``google.protobuf`` — absent/broken in some containers
    (including this repo's CI image). The driver-contract query
    ``streaming_user_activity`` dispatches through
    :func:`user_activity` — this API when the runner works, else
    :func:`user_activity_stats_fallback` (applyInPandasWithState,
    identical output contract) — so the semantics are oracle-checked
    in every environment; a skip-guarded test pins this API itself.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

    out_schema = _ACTIVITY_SCHEMA

    class ActivityProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("activity", _ACTIVITY_STATE)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, first_us, last_us = (
                self._state.get() if self._state.exists() else (0, None, None)
            )
            for pdf in rows:
                if not len(pdf):  # empty chunks are legal in the protocol
                    continue
                us = pdf["ts"].astype("int64") // 1000  # ns → µs
                n += len(pdf)
                lo, hi = int(us.min()), int(us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            self._state.update((n, first_us, last_us))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "first_us": [first_us], "last_us": [last_us]}
            )

        def close(self) -> None:
            pass

    return events.select("user_id", "ts").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ActivityProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


_ACTIVITY_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)
_ACTIVITY_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def user_activity_stats_fallback(events: DataFrame) -> DataFrame:
    """``applyInPandasWithState`` twin of :func:`user_activity_stats`
    — byte-identical output contract (user_id, n_events, first_us,
    last_us), same O(distinct users) state. Exists so the per-user
    activity semantics stay driver-verifiable in environments where
    the transformWithState Python runner is unavailable (it requires
    google.protobuf)."""

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if not len(pdf):  # empty chunks are legal in the protocol
                continue
            us = pdf["ts"].astype("int64") // 1000  # ns → µs
            n += len(pdf)
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "first_us": [first_us], "last_us": [last_us]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_ACTIVITY_SCHEMA,
        stateStructType=_ACTIVITY_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transform_with_state_available() -> bool:
    """The transformWithState Python runner imports google.protobuf at
    plan time; absent/broken protobuf means the operator cannot run."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def user_activity(events: DataFrame) -> DataFrame:
    """Per-user activity stats on the best available custom-stateful
    API: ``transformWithStateInPandas`` (Spark 4 StatefulProcessor)
    where its runner works, else the ``applyInPandasWithState`` twin
    with identical semantics and schema. The driver-contract query
    ``streaming_user_activity`` goes through this dispatcher so the
    stateful surface is oracle-checked in every environment."""
    if transform_with_state_available():
        return user_activity_stats(events)
    return user_activity_stats_fallback(events)


DEBOUNCE_GAP_US = 6 * 3600 * 1_000_000  # 6 hours in epoch-µs

_DEBOUNCE_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_us", T.LongType()),
    ]
)
_DEBOUNCE_STATE = T.StructType([T.StructField("last_us", T.LongType())])


def debounce_events(events: DataFrame) -> DataFrame:
    """Stateful streaming debounce: an event is emitted iff at least
    ``DEBOUNCE_GAP_US`` elapsed since the previous RAW event of the same
    (user, type) — the streaming twin of the batch lag-window
    ``events_debounce`` with the identical contract (the timer resets
    on every event, kept or not, so state is ONE timestamp per key).

    Within a micro-batch the group's rows are ordered by (ts,
    event_id) in pandas; across batches the previous-event timestamp
    carries in ValueState — O(distinct keys) state, watermark-free
    because the rule only ever looks backward. Cross-batch parity
    with the batch lag window assumes batches arrive in event-time
    order per key (true for append-style file/log sources); an
    out-of-order LATE batch would be compared against the newer
    timestamp already in state — same caveat as any lag-based
    streaming rule without a reorder buffer.
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        (last_us,) = state.get if state.exists else (None,)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        keep = []
        for t in ts_us:
            keep.append(last_us is None or t - last_us >= DEBOUNCE_GAP_US)
            last_us = int(t)
        state.update((last_us,))
        out = pdf.loc[keep, ["event_id", "user_id", "event_type"]].copy()
        out["ts_us"] = ts_us[keep]
        yield out

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=_DEBOUNCE_OUT,
        stateStructType=_DEBOUNCE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Exactly-once ingest stores (the four foreachBatch ingest streams below)
# ---------------------------------------------------------------------------
#
# Every table an ingest stream persists is partitioned by the micro-batch
# that wrote it, and every state read sees only earlier batches:
# - _write_batch dynamically overwrites the batch's OWN partition, so a
#   batch replayed from the checkpoint after a crash replaces its failed
#   attempt's rows instead of duplicating them. Bootstraps write the same
#   layout as batch -1.
# - _read_before reads only ``batch_id < current``, so a replayed batch
#   starts from the state its failed attempt started from and never sees
#   that attempt's own writes (the dedup stream would otherwise flag its
#   kept docs as exact dups of themselves).
# So each ``_*_process_batch`` is idempotent for a fixed (batch contents,
# batch_id) — the idempotent-sink recipe Structured Streaming's
# exactly-once guarantee rests on — without a transactional store. The
# process functions are module-level so tests can drive a replay directly.
# _start_ingest runs one over an availableNow file stream.

# Every ingest_*_stream reads one source file per micro-batch: the replay
# tests and the stream == batch queries count batches as shards.
_FILES_PER_TRIGGER = 1


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as ``batch_id``'s partition of ``path``, replacing only it."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _read_before(spark: SparkSession, path: str, batch_id: int, schema: str) -> DataFrame:
    """The partitions of ``path`` that batches before ``batch_id`` wrote.
    ``schema`` (including ``batch_id int``) is always given: it skips an
    inference job, and an EMPTY bootstrap — a dir with no parquet files
    yet — has nothing to infer from."""
    return spark.read.schema(schema).parquet(path).filter(F.col("batch_id") < batch_id)


def _start_ingest(
    spark: SparkSession,
    schema: T.StructType,
    source_dir: str,
    checkpoint_dir: str,
    process_batch,
    *args,
):
    """Start ``process_batch(spark, batch_df, batch_id, *args)`` on
    each micro-batch of a parquet file stream (availableNow trigger).
    The micro-batch is materialized once, so the process function may
    read it several times without re-reading the source files. Returns
    the started StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(spark, batch_df.localCheckpoint(eager=True), batch_id, *args)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", _FILES_PER_TRIGGER)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming ingest dedup (foreachBatch against a persisted dedup index)
# ---------------------------------------------------------------------------

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

# The three index parts (ext/dedup.py dedup_index_tables) and their
# on-disk schemas.
_INDEX_PARTS = {
    "fp": "doc_id long, fp string, batch_id int",
    "bands": "doc_id long, band int, h0 long, h1 long, batch_id int",
    "hs": "doc_id long, hs array<bigint>, batch_id int",
}


def write_dedup_index(docs: DataFrame, index_dir: str) -> None:
    """Persist the three dedup-index artifacts (ext/dedup.py
    dedup_index_tables) under ``index_dir`` as the bootstrap partition
    ``batch_id=-1`` — the layout :func:`ingest_dedup_stream` appends to."""
    from spk_sl_validation_spark.ext.dedup import dedup_index_tables

    for name, part in zip(_INDEX_PARTS, dedup_index_tables(docs)):
        _write_batch(part, f"{index_dir}/{name}", -1)


def _ingest_process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, index_dir: str, out_dir: str
) -> None:
    """One micro-batch of :func:`ingest_dedup_stream`: dedup against
    the prior index, write the verdicts, fold the kept docs'
    artifacts into the index."""
    from spk_sl_validation_spark.ext.dedup import (
        dedup_incremental_indexed,
        dedup_index_tables,
    )

    index = tuple(
        _read_before(spark, f"{index_dir}/{n}", batch_id, schema)
        for n, schema in _INDEX_PARTS.items()
    )
    # Batch artifacts are computed ONCE (materialized) and shared by
    # the dedup pass and the index-merge writes — without this the
    # tokenize→hash→aggregate pipeline would run twice per trigger.
    arts = tuple(t.localCheckpoint(eager=True) for t in dedup_index_tables(batch_df))
    res = dedup_incremental_indexed(
        batch_df, *index, batch_tables=arts
    ).localCheckpoint(eager=True)
    _write_batch(res, out_dir, batch_id)
    # bounded by the shard size: broadcast instead of shuffling both sides
    kept = F.broadcast(res.filter("keep").select("doc_id"))
    for name, part in zip(_INDEX_PARTS, arts):
        _write_batch(part.join(kept, "doc_id", "left_semi"), f"{index_dir}/{name}", batch_id)


def ingest_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """The production crawl-ingest shape: a file stream of document
    shards, each micro-batch deduped against the PERSISTED index
    (ext/dedup.py dedup_incremental_indexed — index-side cost is a
    scan, not a recompute), results written per batch, and the kept
    documents' artifacts folded back into the index so later batches
    see earlier ones.

    Precondition: ``index_dir`` must hold a bootstrapped index
    (``write_dedup_index`` on the existing corpus — an empty corpus
    is fine) before the stream starts; batch 0 reads the fp/bands/hs
    parts and fails with PATH_NOT_FOUND against a bare directory.

    Returns the started StreamingQuery (availableNow trigger).
    """
    return _start_ingest(
        spark, DOC_STREAM_SCHEMA, source_dir, checkpoint_dir,
        _ingest_process_batch, index_dir, out_dir,
    )


# ---------------------------------------------------------------------------
# Streaming ANN index maintenance (foreachBatch merge into the IVF index)
# ---------------------------------------------------------------------------

VEC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)


def write_ivf_index(
    corpus: DataFrame, centroids: DataFrame, index_dir: str
) -> None:
    """Bootstrap the persisted IVF index: the frozen centroid table
    (written once — the quantizer NEVER changes after this, which is
    what makes streaming merge == rebuild exact) and the inverted-list
    table as the partition ``batch_id=-1`` — the layout
    :func:`ingest_ivf_stream` appends to."""
    from spk_sl_validation_spark.ext.similarity import ivf_index_tables

    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    _write_batch(ivf_index_tables(corpus, centroids), f"{index_dir}/lists", -1)


def _ivf_ingest_process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, index_dir: str
) -> None:
    """One micro-batch of :func:`ingest_ivf_stream`: assign the batch
    against the FROZEN centroid table and append its inverted-list rows
    as this batch's partition — the streaming form of
    ext/similarity.merge_into_ivf_index (same disjoint-id contract,
    same frozen-quantizer assignment; the union lives in the at-rest
    partition layout instead of a lazy unionByName).

    Disjoint ids are ENFORCED like the batch merge (one LIMIT-1
    semi-join probe on the pruned vec_id column of the prior batches'
    lists): an overlapping id would leave two versions of the vector
    in the lists, silently corrupting every subsequent top-k."""
    from spk_sl_validation_spark.ext.similarity import ivf_index_tables

    centroids = spark.read.parquet(f"{index_dir}/centroids")
    prior = _read_before(spark, f"{index_dir}/lists", batch_id, "vec_id long, batch_id int")
    ids = batch_df.select("vec_id").distinct()
    overlap = prior.join(F.broadcast(ids), "vec_id", "left_semi").limit(1).take(1)
    if overlap:
        raise ValueError(
            "ingest_ivf_stream: vec_id already indexed; the stream merge "
            "requires disjoint ids (remove_from_ivf_index the stale version "
            "in a maintenance pass first)"
        )
    _write_batch(ivf_index_tables(batch_df, centroids), f"{index_dir}/lists", batch_id)


def ingest_ivf_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """The production embedding-ingest shape: a file stream of vector
    shards, each micro-batch folded into the PERSISTED IVF index under
    the frozen quantizer (mirror of :func:`ingest_dedup_stream` for the
    ANN index; batch-side cost is one broadcast centroid assignment —
    the existing index is never rewritten, only appended to as a new
    batch partition).

    Precondition: ``index_dir`` holds a bootstrapped index
    (:func:`write_ivf_index`; an empty corpus is fine). Returns the
    started StreamingQuery (availableNow trigger)."""
    return _start_ingest(
        spark, VEC_STREAM_SCHEMA, source_dir, checkpoint_dir,
        _ivf_ingest_process_batch, index_dir,
    )


# One cumulative packing-state row per batch (ext/assembly.pack_state).
_PACK_STATE_SCHEMA = "n_docs long, max_id long, total_tokens long"


def write_pack_state(
    spark: SparkSession,
    pack_dir: str,
    batch_id: int = -1,
    n_docs: int = 0,
    max_id: int | None = None,
    total_tokens: int = 0,
) -> None:
    """Write one cumulative packing-state row as ``batch_id``'s
    partition of ``{pack_dir}/state`` — the persisted form of
    ext/assembly.pack_state. Bootstrap with the defaults (zero state at
    batch_id=-1); :func:`ingest_pack_stream` appends one row per
    micro-batch, so the state for batch N is the row with the greatest
    ``batch_id < N``."""
    df = spark.createDataFrame([(int(n_docs), max_id, int(total_tokens))], _PACK_STATE_SCHEMA)
    _write_batch(df, f"{pack_dir}/state", batch_id)


def _pack_ingest_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    pack_dir: str,
    seq_len: int = 2048,
) -> None:
    """One micro-batch of :func:`ingest_pack_stream`: continue the
    packed token stream from the persisted state (cost ∝ batch — the
    already-packed corpus is never re-read beyond its 1-row-per-batch
    state table), append the batch's packed rows as its partition, and
    write the new cumulative state row.

    Ordering is ENFORCED, not assumed: pack_sequences_continue raises
    if the batch's min id does not exceed the state's max_id, because
    packing is id-ordered and a silent out-of-order append would
    corrupt every downstream offset."""
    from spk_sl_validation_spark.ext.assembly import pack_sequences_continue
    from spk_sl_validation_spark.ext.hashing import ws_tokens

    prior = (
        _read_before(spark, f"{pack_dir}/state", batch_id, f"{_PACK_STATE_SCHEMA}, batch_id int")
        .orderBy(F.col("batch_id").desc())
        .limit(1)
        .drop("batch_id")
        .localCheckpoint(eager=True)
    )
    packed = pack_sequences_continue(batch_df, prior, seq_len=seq_len)
    _write_batch(packed, f"{pack_dir}/packed", batch_id)
    st = prior.first()
    b = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("doc_id").alias("mx"),
        F.coalesce(F.sum(F.size(ws_tokens("text")).cast("long")), F.lit(0).cast("long")).alias(
            "tok"
        ),
    ).first()
    new_max = b["mx"] if b["mx"] is not None else st["max_id"]
    write_pack_state(
        spark,
        pack_dir,
        batch_id,
        n_docs=st["n_docs"] + b["n"],
        max_id=new_max,
        total_tokens=st["total_tokens"] + b["tok"],
    )


def ingest_pack_stream(
    spark: SparkSession,
    source_dir: str,
    pack_dir: str,
    checkpoint_dir: str,
    seq_len: int = 2048,
):
    """The production packing-ingest shape: a file stream of document
    shards, each micro-batch appended to the PERSISTED packed token
    stream via state continuation (mirror of :func:`ingest_ivf_stream`
    for sequence packing; per-batch cost is the batch's own two-phase
    prefix sum plus a 1-row state read — the packed corpus is never
    re-packed).

    Precondition: ``pack_dir`` holds a bootstrap state row
    (:func:`write_pack_state`) and shards arrive in id order —
    out-of-order batches raise. Returns the started StreamingQuery
    (availableNow trigger)."""
    return _start_ingest(
        spark, schemas.DOCUMENTS, source_dir, checkpoint_dir,
        _pack_ingest_process_batch, pack_dir, seq_len,
    )


# ---------------------------------------------------------------------------
# Streaming crawl frontier (foreachBatch delta-merge — the production
# shape; the complete-mode aggregate in plans/streaming_queries.py is
# the bounded driver-check twin)
# ---------------------------------------------------------------------------

URL_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
    ]
)

#: On-disk frontier schema (batch_id is the delta partition column).
FRONTIER_SCHEMA = "norm_url string, doc_id long, batch_id int"


def _min_doc_per_url(df: DataFrame) -> DataFrame:
    """The frontier's merge rule: one ``(norm_url, doc_id)`` winner per
    normalized URL, the lowest doc_id."""
    return df.groupBy("norm_url").agg(F.min("doc_id").alias("doc_id"))


def write_frontier(urls: DataFrame, frontier_dir: str) -> None:
    """Bootstrap the persisted crawl frontier under ``frontier_dir``:
    one winner per normalized URL of the existing crawl (an empty
    ``(doc_id, url)`` frame is fine) as the partition ``batch_id=-1`` —
    the LSM-style delta layout :func:`ingest_frontier_stream` appends to."""
    from spk_sl_validation_spark.ext.webcure import normalize_url

    f = _min_doc_per_url(urls.select(normalize_url("url").alias("norm_url"), "doc_id"))
    _write_batch(f, frontier_dir, -1)


def _frontier_partition_dirs(spark: SparkSession, frontier_dir: str) -> list:
    """Hadoop-FS listing of the frontier's ``batch_id=*`` partition
    directories (a NAME listing — never reads data; works on any
    scheme the session's Hadoop conf can reach, not just local)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(frontier_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return [
        s.getPath()
        for s in fs.listStatus(path)
        if s.isDirectory() and s.getPath().getName().startswith("batch_id=")
    ]


def _frontier_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    frontier_dir: str,
    compact_threshold: int = 16,
) -> None:
    """One micro-batch of :func:`ingest_frontier_stream`: normalize
    the batch, reduce it to per-URL candidates, and append ONLY the
    candidates that improve on the persisted frontier (new URL, or a
    lower doc_id than every earlier delta). No full-state rewrite —
    per-trigger write volume is the batch's novel URLs, not the
    frontier size; correctness does not even depend on the dominance
    filter because :func:`read_frontier` folds deltas with a
    groupBy-min (the filter only bounds write amplification).

    Auto-compaction: when the delta-partition COUNT (a filesystem
    name listing, no data read) exceeds ``compact_threshold``, all
    partitions below the current batch fold (groupBy-min) into the
    ``batch_id=-1`` bootstrap partition and the dominated delta dirs
    are deleted — reads stay O(compacted + recent) instead of growing
    one partition per trigger. Crash-safe at every step because the
    read side is a min-fold and rows never invalidate: the staged
    fold (``_compact_tmp``, underscore-prefixed so readers ignore
    it), the rewritten ``batch_id=-1``, and any not-yet-deleted old
    delta are all dominated-or-equal relations — a replay after a
    crash at ANY point folds to the same frontier."""
    from spk_sl_validation_spark.ext.webcure import normalize_url

    cand = _min_doc_per_url(batch_df.select(normalize_url("url").alias("norm_url"), "doc_id"))
    best_old = _min_doc_per_url(
        _read_before(spark, frontier_dir, batch_id, FRONTIER_SCHEMA)
    ).withColumnRenamed("doc_id", "__old")
    improved = (
        cand.join(best_old, "norm_url", "left")
        .filter(F.col("__old").isNull() | (F.col("doc_id") < F.col("__old")))
        .select("norm_url", "doc_id")
    )
    _write_batch(improved, frontier_dir, batch_id)

    parts = _frontier_partition_dirs(spark, frontier_dir)
    if len(parts) <= compact_threshold:
        return
    # Fold every partition below the current batch (incl. a previous
    # -1 compact) and stage it OUTSIDE the partition namespace — the
    # dynamic-overwrite of batch_id=-1 must not read the directory it
    # rewrites. Deletion preserves -1 and the current batch's delta.
    fs_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = frontier_dir.rstrip("/") + "/_compact_tmp"
    fold = _min_doc_per_url(_read_before(spark, frontier_dir, batch_id, FRONTIER_SCHEMA))
    fold.write.mode("overwrite").parquet(tmp)
    _write_batch(spark.read.parquet(tmp), frontier_dir, -1)
    fs = fs_path(frontier_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    keep = {"batch_id=-1", f"batch_id={batch_id}"}
    for p in parts:
        if p.getName() not in keep:
            fs.delete(p, True)
    fs.delete(fs_path(tmp), True)


def read_frontier(spark: SparkSession, frontier_dir: str) -> DataFrame:
    """The current frontier: groupBy-min over all delta partitions
    (LSM read-side merge — O(compacted + recent) reads: the ingest
    path auto-compacts once the delta count crosses its threshold,
    see :func:`_frontier_process_batch`)."""
    return _min_doc_per_url(spark.read.schema(FRONTIER_SCHEMA).parquet(frontier_dir))


def ingest_frontier_stream(
    spark: SparkSession,
    source_dir: str,
    frontier_dir: str,
    checkpoint_dir: str,
):
    """The production crawl-frontier shape: a file stream of
    ``(doc_id, url)`` shards, each micro-batch canonicalized and
    delta-merged into the persisted frontier — in contrast to the
    complete-mode aggregate twin, nothing ever re-emits the full
    frontier per trigger.

    Precondition: ``frontier_dir`` bootstrapped with
    :func:`write_frontier` (empty is fine). Returns the started
    StreamingQuery (availableNow trigger)."""
    return _start_ingest(
        spark, URL_STREAM_SCHEMA, source_dir, checkpoint_dir,
        _frontier_process_batch, frontier_dir,
    )
