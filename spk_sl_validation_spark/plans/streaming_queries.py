"""Structured Streaming queries, materialized via availableNow replay.

Each query builds the *streaming* plan (readStream → stateful
transform), runs it to completion on the testdata with the memory
sink, and returns the materialized result — so the DuckDB oracle
verifies that the streaming execution path produces exactly the batch
answer (the Dataflow-model batch/stream equivalence claim, checked by
value hash).

``streaming_running_totals`` (applyInPandasWithState) emits one row
per user per micro-batch in update mode; the registered query keeps
only each user's final row, which equals the batch GROUP BY — its
oracle sums are decimal-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.assembly import pack_sequences_sql
from spk_sl_validation_spark.ext.webcure import NORM_URL_ORACLE_LAW
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.streaming import pipeline as P


def _ingest_tmp_base(spark, sf_dir: str, prefix: str):
    """Per-session ingest scratch dir under /tmp.

    applicationId in the path isolates concurrent sessions at the same
    scale factor (a shared path's rmtree-then-ingest would corrupt one
    run). That isolation would leak one dir per application, so: own
    dir is removed at interpreter exit (atexit), and siblings whose
    tree is untouched for >6 h (crashed sessions — a LIVE ingest
    writes checkpoint files continuously) are swept best-effort."""
    import atexit
    import pathlib
    import shutil
    import time as _time

    label = f"{pathlib.Path(sf_dir).name}_{spark.sparkContext.applicationId}"
    base = pathlib.Path(f"/tmp/{prefix}_{label}")
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, str(base), ignore_errors=True)
    cutoff = _time.time() - 6 * 3600
    for sib in pathlib.Path("/tmp").glob(f"{prefix}_*"):
        if sib == base:
            continue
        try:
            newest = max(
                (p.stat().st_mtime for p in sib.rglob("*") if p.is_file()),
                default=sib.stat().st_mtime,
            )
            if newest < cutoff:
                shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            pass
    return base


def _write_shards(df: DataFrame, source_dir: str, preds) -> None:
    """One single-file shard of ``df`` per predicate under
    ``source_dir``, with mtimes pinned in predicate order: the file
    source orders by mtime, so shard i forms micro-batch i."""
    import os
    import pathlib

    for i, pred in enumerate(preds):
        shard = f"{source_dir}/shard{i}"
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(shard)
        t = 1_700_000_000 + i * 60
        for p in pathlib.Path(shard).rglob("*"):
            os.utime(p, (t, t))


@register(
    "streaming_windowed_counts",
    doc="Structured Streaming tumbling-window agg (watermark + availableNow replay) == batch answer",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    return P.run_available_now(P.windowed_counts(stream), output_mode="complete")


@register(
    "streaming_sessionize",
    doc="Structured Streaming session windows (30 min gap) == batch islands sessionization",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    return P.run_available_now(P.sessionized(stream), output_mode="complete")


@register(
    "streaming_dedup",
    doc="streaming exact dedup: watermarked dropDuplicates on event_id == batch DISTINCT",
    oracle="""
SELECT DISTINCT event_id, user_id, event_type FROM events
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return P.run_available_now(deduped, output_mode="append")


@register(
    "streaming_interval_join",
    doc="stream-stream interval join (watermark-bounded state) == batch time-range join",
    oracle="""
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts
WHERE c.event_type = 'click'
""",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    return P.run_available_now(P.interval_joined(clicks, purchases), output_mode="append")


@register(
    "streaming_running_totals",
    doc="custom stateful op (applyInPandasWithState): per-user running totals; final state == batch GROUP BY",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    out = P.run_available_now(P.running_user_totals(stream), output_mode="update")
    # Update mode emits one row per user per micro-batch; keep the last
    # (cumulative) row per user — n_events is monotone within a user.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("decimal(18,2)").cast("double").alias("total_value"),
        )
    )


@register(
    "streaming_static_enrich",
    doc="stream-static broadcast join: each events micro-batch enriched against the static customer dim (no state store, no watermark needed) == batch join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, c.c_nationkey
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.sources.readers import load_table

    stream = P.stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    enriched = (
        stream.join(F.broadcast(cust), stream["user_id"] == cust["c_custkey"], "inner")
        .select("event_id", "user_id", "c_mktsegment", "c_nationkey")
    )
    return P.run_available_now(enriched, output_mode="append")


@register(
    "streaming_interval_join_outer",
    doc=(
        "LEFT-OUTER stream-stream interval join: unmatched clicks emit a "
        "null-padded row once the watermark passes their last possible match "
        "time (state eviction). Both the stream result and the batch oracle are "
        "truncated to the emitted region (click_ts < max_ts - watermark delay), "
        "which is exactly the deterministic contract of watermarked outer joins"
    ),
    oracle="""
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 1 HOUR
 AND p.ts <= c.ts
WHERE c.event_type = 'click'
  AND c.ts < (SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
      )) - INTERVAL 2 HOUR
""",
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.sources.readers import load_table

    stream = P.stream_events(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    out = P.run_available_now(
        P.interval_joined(clicks, purchases, how="left_outer"), output_mode="append"
    )
    # Truncate to the deterministically-emitted region. The global
    # watermark under the multiple-watermark policy is the MIN of the
    # per-input watermarks, i.e. min(max click ts, max purchase ts) - 2h;
    # younger clicks may or may not have surfaced their null row.
    # Matched rows are kept under the same bound so the set equals the
    # truncated batch oracle exactly.
    ev = load_table(spark, sf_dir, "events")
    maxes = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    bound = F.lit(maxes) - F.expr("INTERVAL 2 HOUR")
    return out.filter(F.col("click_ts") < bound)


@register(
    "streaming_user_activity",
    doc=(
        "custom stateful per-user activity stats (n_events, first/last event "
        "time as epoch µs) on the Spark 4 transformWithState StatefulProcessor "
        "API where its Python runner works, else the applyInPandasWithState "
        "twin with the identical output contract; final state == batch GROUP BY"
    ),
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS first_us,
       epoch_us(MAX(ts)) AS last_us
FROM events
GROUP BY user_id
""",
)
def streaming_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    out = P.run_available_now(P.user_activity(stream), output_mode="update")
    # Update mode emits one row per user per micro-batch; keep the last
    # (cumulative) row per user — n_events is monotone within a user.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "first_us", "last_us")
    )


# The reference's signature operator (the guarded rule cascade, §2.8)
# applied to a STREAM: one config drives the Spark streaming plan AND
# the DuckDB oracle, and the cascade uses every guard flavor including
# SENTINEL routing. The cascade itself is a pure narrow projection, so
# it composes with streaming aggregation at zero extra state.
CASCADE_CONFIG = [
    {"id": "extreme", "when": "value > 400", "message": "review: extreme value"},
    {"id": "big_purchase", "when": "event_type = 'purchase' AND value > 250",
     "message": "flag: large purchase", "guard": "always"},
    {"id": "route_clicks", "when": "event_type = 'click'", "message": "routed"},
    {"id": "cheap_click", "when": "value < 10", "message": "ok: low-value click",
     "guard": "sentinel", "sentinel": "routed"},
    {"id": "click", "when": "TRUE", "message": "ok: click",
     "guard": "sentinel", "sentinel": "routed"},
    {"id": "fallback", "when": "TRUE", "message": "ok"},
]


def _streaming_cascade_oracle() -> str:
    from spk_sl_validation_spark.operators.rules import compile_to_sql, rules_from_config

    expr = compile_to_sql(rules_from_config(CASCADE_CONFIG))
    return f"""
SELECT {expr} AS Comment,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


@register(
    "streaming_rule_cascade",
    doc=(
        "the reference's rule cascade (all guards incl. SENTINEL routing) "
        "evaluated on a STREAM: config-driven rules compile to one narrow "
        "CASE projection inside the streaming plan, aggregated per comment; "
        "availableNow replay == the batch cascade oracle"
    ),
    oracle=_streaming_cascade_oracle(),
)
def streaming_rule_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.operators.rules import compile_to_column, rules_from_config

    stream = P.stream_events(spark, sf_dir)
    classified = stream.withColumn(
        "Comment", compile_to_column(rules_from_config(CASCADE_CONFIG))
    )
    agg = classified.groupBy("Comment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return P.run_available_now(agg, output_mode="complete")


@register(
    "streaming_debounce",
    doc=(
        "stateful streaming debounce (applyInPandasWithState): emit an event "
        "iff >= 6 h since the previous raw event of the same (user, type); "
        "state = one timestamp per key. Identical contract to the batch "
        "events_debounce lag window — the oracle is the same SQL"
    ),
    oracle="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM (
  SELECT event_id, user_id, event_type, ts,
         lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
  FROM events
)
WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 6 HOUR
""",
)
def streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = P.stream_events(spark, sf_dir)
    return P.run_available_now(P.debounce_events(stream), output_mode="append")


def _streaming_quality_gate_oracle() -> str:
    from spk_sl_validation_spark.plans.text_queries import _Z

    return rf"""
WITH s AS (
  SELECT source, 1.0 / (1.0 + exp(-({_Z}))) AS p FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE p >= 0.5) AS BIGINT) AS n_kept,
       round(CAST(sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
         AS mean_prob
FROM s GROUP BY source
"""


@register(
    "streaming_quality_gate",
    doc=(
        "model-scored corpus filter ON A STREAM: the logistic quality "
        "classifier runs per micro-batch as the same codegen'd expression, "
        "aggregated per source (complete mode, availableNow replay) == batch "
        "GROUP BY — scores summed by the round-then-exact-decimal rule"
    ),
    oracle=_streaming_quality_gate_oracle(),
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.text import quality_model_prob

    stream = P.stream_documents(spark, sf_dir)
    p = quality_model_prob("text")
    scored = stream.select(
        "source",
        p.alias("p"),
        F.round(p, 12).cast("decimal(28,12)").alias("p12"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("p") >= 0.5, 1)).alias("n_kept"),
        F.sum("p12").alias("__sum_p"),
    )
    out = P.run_available_now(agg, output_mode="complete")
    return out.select(
        "source",
        "n_docs",
        "n_kept",
        F.round(F.col("__sum_p").cast("double") / F.col("n_docs").cast("double"), 6).alias(
            "mean_prob"
        ),
    )


def _streaming_mixture_oracle() -> str:
    from spk_sl_validation_spark.ext.assembly import mixture_predicate_sql
    from spk_sl_validation_spark.plans.assembly_queries import MIX_WEIGHTS

    pred = mixture_predicate_sql(MIX_WEIGHTS)
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_seen,
       CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS n_kept,
       round(CAST(count(*) FILTER (WHERE {pred}) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS kept_frac
FROM documents GROUP BY source
"""


@register(
    "streaming_mixture_sample",
    doc=(
        "deterministic mixture sampling ON A STREAM: the hash-threshold "
        "keep predicate is a property of the ROW, so the micro-batch "
        "pipeline keeps exactly the rows the batch job keeps regardless of "
        "batch boundaries — per-source seen/kept counts (complete mode, "
        "availableNow replay) == batch GROUP BY. The restartable 100 TB "
        "mixing story: ingest keeps sampling while the corpus streams in"
    ),
    oracle=_streaming_mixture_oracle(),
)
def streaming_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.assembly import SAMPLE_MOD
    from spk_sl_validation_spark.ext.hashing import md5_long
    from spk_sl_validation_spark.plans.assembly_queries import MIX_WEIGHTS

    stream = P.stream_documents(spark, sf_dir)
    h = md5_long(F.col("doc_id").cast("string")) % SAMPLE_MOD
    thresh = F.lit(0)
    for src, w in sorted(MIX_WEIGHTS.items()):
        thresh = F.when(F.col("source") == src, F.lit(int(w * SAMPLE_MOD))).otherwise(thresh)
    flagged = stream.select("source", (h < thresh).alias("keep"))
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
    )
    out = P.run_available_now(agg, output_mode="complete")
    return out.select(
        "source",
        "n_seen",
        "n_kept",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_seen").cast("double"), 6
        ).alias("kept_frac"),
    )


def _streaming_boilerplate_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _TOKS, BP_MIN_DOCS, SPAN_W

    return f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
spans AS (
  SELECT doc_id, source,
         array_to_string(list_slice(t, i * {SPAN_W} + 1, i * {SPAN_W} + {SPAN_W}), ' ') AS span
  FROM toks, unnest(range(0, greatest(CAST(ceil(len(t) / {SPAN_W}.0) AS BIGINT), 1))) AS u(i)
),
hashed AS (
  SELECT doc_id, source, CAST(('0x' || substr(md5(span), 1, 15)) AS BIGINT) AS h
  FROM spans
),
bp AS (SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}),
flagged AS (
  SELECT hashed.source, (bp.h IS NULL) AS kept
  FROM hashed LEFT JOIN bp ON hashed.h = bp.h
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
FROM flagged GROUP BY source
"""


@register(
    "streaming_boilerplate_gate",
    doc=(
        "the boilerplate index applied ON THE INGEST STREAM: spans of each "
        "micro-batch stream-static broadcast-join against the precomputed "
        "census index (built batch-side); per-source kept/dropped span "
        "counts (complete mode, availableNow replay) == the batch census "
        "aggregate — governance telemetry for a crawling ingest"
    ),
    oracle=_streaming_boilerplate_oracle(),
)
def streaming_boilerplate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.hashing import md5_long
    from spk_sl_validation_spark.ext.text import _doc_spans, boilerplate_index
    from spk_sl_validation_spark.plans.dedup_shared import BP_MIN_DOCS, SPAN_W
    from spk_sl_validation_spark.sources.readers import load_table

    # static side: the persisted census index (batch read, checkpointed
    # to stand in for the stored artifact)
    idx = boilerplate_index(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", SPAN_W, BP_MIN_DOCS
    ).localCheckpoint(eager=True)
    bp = F.broadcast(idx.select("h", F.lit(True).alias("__bp")))

    stream = P.stream_documents(spark, sf_dir)
    # span rows keyed by source — ownership is irrelevant for the
    # per-source telemetry, so no per-doc reassembly state is needed
    hashed = _doc_spans(stream.select(F.col("source"), F.col("text")), "source", "text", SPAN_W)
    hashed = hashed.withColumn("h", md5_long("span"))
    flagged = hashed.join(bp, "h", "left").withColumn("kept", F.col("__bp").isNull())
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_dropped"),
    )
    return P.run_available_now(agg, output_mode="complete")


# corpus_queries registers here, right after the gate: registration order
# is the driver's sample tiebreak (registry._ordered_registry)
from spk_sl_validation_spark.plans import corpus_queries  # noqa: E402, F401


DECON_N = 8
DECON_MBITS = 8192


def _streaming_decontaminate_oracle() -> str:
    from spk_sl_validation_spark.ext.hashing import word_shingles_sql

    toks = r"string_split_regex(trim(text), '\s+')"
    sh = f"unnest(list_distinct({word_shingles_sql(toks, DECON_N)})) AS s"
    return f"""
WITH sh AS (
  SELECT doc_id, source, {sh} FROM documents WHERE doc_id % 97 <> 0
),
bench AS (
  SELECT DISTINCT {sh.replace(' AS s', '')} AS s FROM documents WHERE doc_id % 97 = 0
),
hits AS (SELECT DISTINCT sh.doc_id, sh.source FROM sh JOIN bench USING (s)),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id % 97 <> 0 GROUP BY source
),
conta AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hits GROUP BY source)
SELECT tot.source, tot.n_docs,
       CAST(coalesce(conta.n, 0) AS BIGINT) AS n_contaminated
FROM tot LEFT JOIN conta ON tot.source = conta.source
"""


@register(
    "streaming_decontaminate_gate",
    doc=(
        "benchmark decontamination ON THE INGEST STREAM: the Bloom bitmask "
        "and the bench shingle set are prebuilt batch-side artifacts; each "
        "micro-batch shingles map-side (array transform, no window), "
        "bit-tests against the 1-row broadcast mask (codegen, no shuffle), "
        "exact-verifies only the Bloom sliver against the bench set, "
        "dropDuplicates collapses to contaminated docs (production adds an "
        "ingest-time watermark to bound the dedup state), and ONE complete-"
        "mode aggregate emits per-source counts — batch twin: "
        "decontaminate_bloom. False positives die in the verify join, so "
        "stream == batch == oracle"
    ),
    oracle=_streaming_decontaminate_oracle(),
)
def streaming_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.decontaminate import bloom_bit_tests, bloom_mask_row
    from spk_sl_validation_spark.ext.hashing import (
        md5_long,
        shingle_rows,
        word_shingles,
        ws_tokens,
    )
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # persisted artifacts (checkpointed stand-ins): the bench shingle
    # set (verify side) and its Bloom bitmask (prefilter side)
    bench_g = (
        shingle_rows(bench, "doc_id", "text", DECON_N)
        .select("s")
        .distinct()
        .localCheckpoint(eager=True)
    )
    mask = bloom_mask_row(bench_g, "s", DECON_MBITS).localCheckpoint(eager=True)

    stream = P.stream_documents(spark, sf_dir).filter(F.col("doc_id") % 97 != 0)
    # array-transform shingling: narrow map (the window-based
    # shingle_rows needs a non-time partition, disallowed on streams)
    g = stream.select("doc_id", "source", ws_tokens("text").alias("__t")).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_shingles("__t", DECON_N))).alias("s"),
    )
    cand = (
        g.withColumn("__h", md5_long(F.col("s").cast("string")))
        .crossJoin(F.broadcast(mask))
        .filter(F.expr(bloom_bit_tests(DECON_MBITS)))
        .drop("__h", "__mask")
    )
    hits = (
        cand.join(bench_g.hint("shuffle_hash"), "s")
        .select("doc_id", "source")
        .dropDuplicates(["doc_id"])
    )
    agg = hits.groupBy("source").agg(F.count(F.lit(1)).alias("n_contaminated"))
    out = P.run_available_now(agg, output_mode="complete")
    tot = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return tot.join(out, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias("n_contaminated"),
    )


@register(
    "streaming_media_decode_gate",
    doc=(
        "REAL media codec ON THE INGEST STREAM: per micro-batch the WAV "
        "binaries decode through the same Arrow-batched RIFF parser the "
        "batch path uses (mapInPandas on a streaming relation), malformed "
        "payloads gated out by ok, integer-exact amplitude mass aggregated "
        "per sample rate (complete mode, availableNow replay) == batch "
        "GROUP BY == the closed-form generation-law oracle"
    ),
    oracle="""
WITH d AS (
  SELECT doc_id,
         8000 * (1 + doc_id % 3) AS sample_rate,
         1 + doc_id % 2 AS channels,
         200 + doc_id % 57 AS n_frames
  FROM documents
),
v AS (
  SELECT doc_id, sample_rate, channels, unnest(range(0, n_frames)) AS i FROM d
),
per_doc AS (
  SELECT doc_id, sample_rate,
         SUM(abs(((doc_id * 7 + i * 13) % 4096) - 2048) * channels) AS sum_abs
  FROM v GROUP BY doc_id, sample_rate
)
SELECT CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(count(*) AS BIGINT) AS n_ok,
       CAST(sum(sum_abs) AS BIGINT) AS total_abs_amp
FROM per_doc GROUP BY sample_rate
""",
)
def streaming_media_decode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest at scale is a stream (crawl batches land
    continuously); the decode gate must run per micro-batch with the
    exact batch-path semantics. Payloads synthesized from the stream's
    doc_ids under the generation law, decoded by the REAL chunk-walk
    parser; n_ok == n_media because every law payload is well-formed —
    the ok column is the gate the malformed-row test exercises."""
    from spk_sl_validation_spark.ext import multimodal as M

    stream = P.stream_documents(spark, sf_dir).select("doc_id")
    decoded = M.decode_wav(M.synthesize_wav_table(stream))
    # n_media counts EVERYTHING in the rate group, n_ok/total only the
    # rows the codec accepted — computing them after a filter(ok)
    # would make n_ok == n_media by construction and the gate could
    # never signal a decode regression
    agg = decoded.groupBy("sample_rate").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
        F.sum(F.when(F.col("ok"), F.col("sum_abs_amp"))).alias("total_abs_amp"),
    )
    return P.run_available_now(agg, output_mode="complete")


# the stream-maintained index must answer EXACTLY like the batch-built
# one — the direct IVF query's oracle, verbatim
from spk_sl_validation_spark.plans.similarity_queries import IVF_TOPK_ORACLE  # noqa: E402


@register(
    "streaming_ivf_ingest",
    doc=(
        "streaming ANN index maintenance: a file stream of embedding shards "
        "folded into the PERSISTED IVF index per micro-batch under the frozen "
        "quantizer (foreachBatch twin of merge_into_ivf_index; batch-"
        "partitioned dynamic-overwrite writes = exactly-once on replay), then "
        "probed — results equal the batch-built index, i.e. the direct IVF "
        "oracle verbatim"
    ),
    oracle=IVF_TOPK_ORACLE,
)
def streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream == batch for the ANN index: bootstrap the IVF index from
    3/4 of the corpus, stream the remaining quarter in as two shards
    (two micro-batches), and probe the on-disk index that results. The
    quantizer is frozen at bootstrap, so the final lists are EXACTLY
    the batch build over the full corpus and the probe matches the
    full-corpus direct-IVF oracle hash-for-hash."""
    from spk_sl_validation_spark.ext import similarity as S
    from spk_sl_validation_spark.plans.similarity_queries import N_CENTROIDS, N_QUERIES
    from spk_sl_validation_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    bootstrap = emb.filter(F.col("vec_id") % 4 != 3)

    base = _ingest_tmp_base(spark, sf_dir, "spk_sl_ivf_ingest")
    index_dir, source_dir, ckpt = str(base / "index"), str(base / "incoming"), str(base / "ckpt")
    P.write_ivf_index(bootstrap, centroids, index_dir)
    # two shard files -> two micro-batches (maxFilesPerTrigger=1)
    _write_shards(emb, source_dir, ((F.col("vec_id") % 8) == 3, (F.col("vec_id") % 8) == 7))
    q = P.ingest_ivf_stream(spark, f"{source_dir}/*", index_dir, ckpt)
    q.awaitTermination()

    lists = spark.read.parquet(f"{index_dir}/lists").select("centroid_id", "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_indexed(queries, centroids, lists, nprobe=1)
    return out.select("q_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


@register(
    "streaming_pack_ingest",
    doc=(
        "streaming sequence-pack maintenance: a file stream of document "
        "shards appended to the PERSISTED packed token stream per micro-"
        "batch via 1-row state continuation (foreachBatch twin of "
        "pack_sequences_continue; batch-partitioned dynamic-overwrite "
        "writes + prior-batches-only state reads = exactly-once on replay; "
        "out-of-order shards raise) — the resulting packed table equals the "
        "batch pack_sequences over the whole corpus, i.e. its oracle "
        "verbatim"
    ),
    oracle=pack_sequences_sql("documents"),
)
def streaming_pack_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream == batch for the packed token stream: bootstrap a zero
    state, split documents into two id-ordered shards (two
    micro-batches; mtimes pinned so the file source processes them in
    id order), continue-pack each against the persisted state, and
    read back the packed table — byte-identical to packing the whole
    corpus at once."""
    from spk_sl_validation_spark.plans.assembly_queries import SEQ_LEN
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    k = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("k")).first()["k"]

    base = _ingest_tmp_base(spark, sf_dir, "spk_sl_pack_ingest")
    pack_dir, source_dir, ckpt = str(base / "pack"), str(base / "incoming"), str(base / "ckpt")
    P.write_pack_state(spark, pack_dir)  # zero bootstrap state
    # the low-id shard must form the earlier micro-batch
    _write_shards(docs, source_dir, (F.col("doc_id") <= k, F.col("doc_id") > k))
    q = P.ingest_pack_stream(spark, f"{source_dir}/*", pack_dir, ckpt, seq_len=SEQ_LEN)
    q.awaitTermination()

    packed = spark.read.parquet(f"{pack_dir}/packed")
    return packed.select(
        "doc_id", "n_tokens", "tok_offset", "seq_id", "offset_in_seq", "end_seq_id"
    )


@register(
    "streaming_url_frontier",
    doc=(
        "streaming crawl-frontier gate: per-micro-batch URL "
        "canonicalization (ext/webcure normalize, pure codegen'd "
        "expressions on the stream) + stateful ownership aggregate — one "
        "winner per NORMALIZED url, min doc_id, so the emitted frontier is "
        "deterministic and equals the batch url_dedup keep set exactly "
        "(stream == batch == oracle). complete-mode is the bounded "
        "driver-check shape (availableNow over a finite fixture) — a "
        "continuous production frontier must NOT re-emit full state per "
        "trigger; that shape is streaming_frontier_ingest (foreachBatch "
        "delta-merge, streaming/pipeline.py ingest_frontier_stream)"
    ),
    # Single-source oracle law: imported from ext/webcure (same
    # constant the batch webcure oracles use), not a drift-prone copy.
    oracle=NORM_URL_ORACLE_LAW
    + "SELECT norm_url, min(doc_id) AS doc_id FROM n GROUP BY norm_url",
)
def streaming_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext import webcure as W

    stream = P.stream_documents(spark, sf_dir).select("doc_id")
    urls = W.synthesize_url_table(stream)
    keyed = urls.select(W.normalize_url("url").alias("norm_url"), "doc_id")
    frontier = keyed.groupBy("norm_url").agg(F.min("doc_id").alias("doc_id"))
    return P.run_available_now(frontier, output_mode="complete")


@register(
    "streaming_frontier_ingest",
    doc=(
        "the PRODUCTION crawl-frontier shape: foreachBatch delta-merge "
        "into a persisted frontier table — each micro-batch is "
        "canonicalized, reduced to per-URL candidates, and ONLY the "
        "improving rows (new URL or lower doc_id) are appended as a "
        "batch_id delta; the read side folds deltas with a groupBy-min "
        "(LSM shape). No full-state re-emission per trigger, unlike the "
        "complete-mode twin. Exactly-once via batch_id-partitioned "
        "dynamic overwrite; stream == batch == oracle"
    ),
    # Same single-source law constant as streaming_url_frontier / the
    # batch webcure queries.
    oracle=NORM_URL_ORACLE_LAW
    + "SELECT norm_url, min(doc_id) AS doc_id FROM n GROUP BY norm_url",
)
def streaming_frontier_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream == batch for the delta-merged frontier: bootstrap an
    EMPTY frontier, split the synthesized crawl into two id-ordered
    shards (two micro-batches; mtimes pinned so the file source
    processes them in id order — though the frontier merge is
    order-insensitive by construction: min is commutative), ingest
    both against the persisted state, read back via the LSM fold."""
    from spk_sl_validation_spark.ext import webcure as W
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = W.synthesize_url_table(docs)
    k = urls.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("k")).first()["k"]

    base = _ingest_tmp_base(spark, sf_dir, "spk_sl_frontier_ingest")
    frontier_dir, source_dir, ckpt = (
        str(base / "frontier"), str(base / "incoming"), str(base / "ckpt")
    )
    empty = spark.createDataFrame([], P.URL_STREAM_SCHEMA)
    P.write_frontier(empty, frontier_dir)  # zero bootstrap state
    _write_shards(urls, source_dir, (F.col("doc_id") <= k, F.col("doc_id") > k))
    q = P.ingest_frontier_stream(spark, f"{source_dir}/*", frontier_dir, ckpt)
    q.awaitTermination()
    return P.read_frontier(spark, frontier_dir)
