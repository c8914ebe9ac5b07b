"""Dataset-assembly queries: sequence packing, mixture sampling,
unigram LM scoring (ext/assembly.py). The last-mile training-data
operators after cleaning/dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import assembly as A
from spk_sl_validation_spark.ext.assembly import SEQ_LEN
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table

# Target mixture: upsample-ish weights by source band (sources are
# src0..src19 in the testdata; unknown sources drop to 0).
MIX_WEIGHTS = {
    **{f"src{i}": 1.0 for i in range(5)},
    **{f"src{i}": 0.5 for i in range(5, 10)},
    **{f"src{i}": 0.25 for i in range(10, 15)},
    **{f"src{i}": 0.1 for i in range(15, 20)},
}


@register(
    "pack_sequences",
    doc=(
        f"concat-and-chunk sequence packing into {SEQ_LEN}-token training rows: "
        "two-phase distributed prefix sum (within-chunk window + broadcast chunk "
        "offsets) == the oracle's naive global window, with no single-task scan"
    ),
    oracle=A.pack_sequences_sql("documents"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return A.pack_sequences(docs, seq_len=SEQ_LEN)


@register(
    "mixture_sample",
    doc=(
        "deterministic per-source mixture sampling (hash-threshold narrow map — "
        "reproducible across partition layouts, unlike df.sample); weights "
        "1.0/0.5/0.25/0.1 by source band"
    ),
    oracle=A.mixture_sample_sql(
        "documents", MIX_WEIGHTS, select="doc_id, source, n_chars"
    ),
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return A.mixture_sample(docs, MIX_WEIGHTS).select("doc_id", "source", "n_chars")


@register(
    "text_unigram_logprob",
    doc=(
        "mean token log-prob under the corpus's own unigram LM (CCNet-style "
        "perplexity-proxy quality score): one explode, vocab-bounded frequency "
        "broadcast, position-ordered fold"
    ),
    oracle=A.unigram_logprob_sql("documents"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return A.unigram_logprob(docs)


@register(
    "pack_incremental",
    doc=(
        "INCREMENTAL sequence packing: a 1-row pack_state artifact "
        "(n_docs, max_id, total_tokens) over the already-packed half of the "
        "corpus, then the new batch packs alone and shifts by the state's "
        "total — continuation == full-rebuild restricted to the batch "
        "(the oracle IS the full rebuild), guarded against out-of-order "
        "appends; cost ∝ batch, the same merge-lifecycle shape as the "
        "BM25/IVF/dedup indexes"
    ),
    oracle=f"""
WITH k AS (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS k FROM documents),
n AS (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
o AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM n
)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {SEQ_LEN} AS seq_id,
       tok_offset % {SEQ_LEN} AS offset_in_seq
FROM o CROSS JOIN k WHERE doc_id > k.k
""",
)
def pack_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    k = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("k")).first()["k"]
    state = A.pack_state(docs.filter(F.col("doc_id") <= k))
    batch = docs.filter(F.col("doc_id") > k)
    packed = A.pack_sequences_continue(batch, state, seq_len=SEQ_LEN)
    return packed.select("doc_id", "n_tokens", "tok_offset", "seq_id", "offset_in_seq")


MIN_TOKENS = 30


def _corpus_pipeline_oracle() -> str:
    from spk_sl_validation_spark.ext.assembly import mixture_predicate_sql
    from spk_sl_validation_spark.plans.dedup_shared import _verified_pairs_ctes

    toks = r"len(string_split_regex(trim(text), '\s+'))"
    return f"""
WITH q AS (
  SELECT * FROM documents WHERE {toks} >= {MIN_TOKENS}
),
{_verified_pairs_ctes("q")},
keep AS (
  SELECT d.doc_id FROM q d
  LEFT JOIN (SELECT DISTINCT id_b FROM verified) v ON d.doc_id = v.id_b
  WHERE v.id_b IS NULL
),
kept AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
sampled AS (SELECT * FROM kept WHERE {mixture_predicate_sql(MIX_WEIGHTS)}),
n AS (SELECT doc_id, {toks} AS n_tokens FROM sampled),
o AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM n
)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {SEQ_LEN} AS seq_id,
       tok_offset % {SEQ_LEN} AS offset_in_seq
FROM o
"""


@register(
    "training_corpus_pipeline",
    doc=(
        "the COMPOSED end-to-end training-data pipeline as one lazy DAG: "
        f"quality gate (≥{MIN_TOKENS} tokens) → MinHash-LSH near-dup dedup "
        "(verify-on-candidates, keep lowest id) → deterministic mixture "
        "sampling → sequence packing — every stage individually oracle-checked, "
        "and the composition value-checked here end-to-end"
    ),
    oracle=_corpus_pipeline_oracle(),
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return compose_training_pipeline(docs)


def compose_training_pipeline(docs: DataFrame) -> DataFrame:
    """The composed pipeline over any (doc_id, source, text) relation
    (``MIN_TOKENS`` gate, ``MIX_WEIGHTS`` mixture, ``SEQ_LEN`` packing).

    "Never shuffle the corpus", composed: text is consumed map-side
    only (token count at the scan; shingles/signatures inside
    dedup_corpus). The keep semi-join carries the METADATA relation
    (doc_id, source, n_tokens — ~tens of bytes/doc), not the documents:
    joining the text-bearing relation instead shuffles the whole corpus
    once the keep-id set outgrows the broadcast threshold (~10 MB of
    ids), which a 100 TB corpus does by 7 orders of magnitude. Packing
    reads the precomputed n_tokens (tokens_col) so text never reaches
    it. Measured at 10M docs in SCALE.md §7, "Round-7 composed-pipeline
    probe" (per-stage shuffle bytes).
    """
    import pyspark.sql.functions as F

    from spk_sl_validation_spark.ext import dedup as D
    from spk_sl_validation_spark.ext.hashing import ws_tokens
    from spk_sl_validation_spark.plans.dedup_shared import JACCARD_TAU

    n_tok = F.size(ws_tokens("text"))
    q = docs.filter(n_tok >= MIN_TOKENS)
    keep = D.dedup_corpus(q, "doc_id", "text", JACCARD_TAU)
    meta = docs.select("doc_id", "source", n_tok.alias("n_tokens")).filter(
        F.col("n_tokens") >= MIN_TOKENS
    )
    kept = meta.join(keep.filter("keep").select("doc_id"), "doc_id", "left_semi")
    sampled = A.mixture_sample(kept, MIX_WEIGHTS)
    packed = A.pack_sequences(sampled, tokens_col="n_tokens", seq_len=SEQ_LEN)
    return packed.select("doc_id", "n_tokens", "tok_offset", "seq_id", "offset_in_seq")


@register(
    "text_bigram_logprob",
    headline=True,
    doc=(
        "mean conditional log-prob ln P(tok|prev) under the corpus's own "
        "bigram LM — catches shuffled-word/stitched text that keeps a normal "
        "unigram profile; map-side arrays_zip bigrams (no lag window), one "
        "model aggregate + window-sum denominator, pinned shuffle-hash "
        "scoring join (AQE broadcast while the model is small)"
    ),
    oracle=A.bigram_logprob_sql("documents"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return A.bigram_logprob(docs)


TOKEN_BUDGET = 100_000
_W_SUM = sum(MIX_WEIGHTS.values())
# Per-source token targets precomputed in Python so both engines see
# identical double literals (no cross-engine arithmetic-order risk).
_TARGETS = {s: TOKEN_BUDGET * w / _W_SUM for s, w in MIX_WEIGHTS.items()}


def _case(mapping: dict[str, float], col: str = "source") -> str:
    # CAST the whole CASE: bare decimal literals type as DECIMAL in
    # DuckDB, which pandas-converts differently from Spark doubles
    # under the driver's hasher.
    arms = " ".join(f"WHEN {col} = '{s}' THEN {v!r}" for s, v in sorted(mapping.items()))
    return f"CAST((CASE {arms} ELSE 0.0 END) AS DOUBLE)"


@register(
    "mixture_token_budget",
    doc=(
        f"mixture planning: allocate a {TOKEN_BUDGET}-token training budget "
        "across sources by configured weight and derive each source's "
        "sampling rate (least(1, target/actual)) plus an oversubscribed flag "
        "where the corpus cannot fill its allocation — the step that PRODUCES "
        "the rates mixture_sample consumes. One hash aggregate of per-doc "
        "token counts; scales as a pure map + 20-group agg"
    ),
    oracle=rf"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       {_case(MIX_WEIGHTS)} AS weight,
       {_case(_TARGETS)} AS target_tokens,
       least(1.0, {_case(_TARGETS)} / CAST(n_tokens AS DOUBLE)) AS sample_rate,
       {_case(_TARGETS)} > CAST(n_tokens AS DOUBLE) AS oversubscribed
FROM s
""",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("n_tokens"),
    )
    weight = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(w)) for s, w in sorted(MIX_WEIGHTS.items())],
        F.lit(0.0),
    )
    target = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(t)) for s, t in sorted(_TARGETS.items())],
        F.lit(0.0),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        weight.alias("weight"),
        target.alias("target_tokens"),
        F.least(F.lit(1.0), target / F.col("n_tokens").cast("double")).alias("sample_rate"),
        (target > F.col("n_tokens").cast("double")).alias("oversubscribed"),
    )


BUCKET_TOKENS = 16  # length-bucket width in tokens


@register(
    "length_bucketing",
    doc=(
        f"length-bucketed batching audit: docs binned into {BUCKET_TOKENS}-token "
        "buckets, per-bucket padding waste vs padding every doc to its bucket "
        "ceiling — one narrow map + one aggregation, the batch-shape planner "
        "for padded training batches"
    ),
    oracle=f"""
WITH lens AS (
  SELECT len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents
),
b AS (
  SELECT CAST((n_tokens - 1) // {BUCKET_TOKENS} AS INTEGER) AS bucket_id,
         n_tokens
  FROM lens
)
SELECT bucket_id,
       CAST((bucket_id + 1) * {BUCKET_TOKENS} AS INTEGER) AS padded_len,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
                 / CAST(count(*) * (bucket_id + 1) * {BUCKET_TOKENS} AS DOUBLE), 6) AS waste_frac
FROM b
GROUP BY bucket_id
""",
)
def length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batch assembly.

    Every document lands in the ``BUCKET_TOKENS``-wide bucket that
    covers its token count (1..16 → bucket 0, 17..32 → bucket 1, …);
    padding each doc to its bucket ceiling instead of a global max
    is the standard padded-batch trick, and ``waste_frac`` is the
    fraction of pad tokens that remains. Token counts and bucket
    sums are exact integers, so the only float op is the final
    division — bit-identical across engines. One narrow projection
    + one hash aggregation on a small key: scan-bound at 100 TB.
    """
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ws_tokens("text"))
    b = docs.select(
        F.floor((n_tokens - 1) / BUCKET_TOKENS).cast("int").alias("bucket_id"),
        n_tokens.alias("n_tokens"),
    )
    padded = (F.col("bucket_id") + 1) * BUCKET_TOKENS
    return (
        b.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .select(
            "bucket_id",
            padded.cast("int").alias("padded_len"),
            "n_docs",
            "sum_tokens",
            F.round(
                1.0
                - F.col("sum_tokens").cast("double")
                / (F.col("n_docs") * padded).cast("double"),
                6,
            ).alias("waste_frac"),
        )
    )


DSIR_TARGET_SOURCES = ("src0", "src1")
_DSIR_PRED_SQL = "source IN ('src0', 'src1')"


@register(
    "dsir_importance",
    doc=(
        "DSIR importance weighting (Xie et al. 2023): hashed-unigram bucket "
        "LMs fit on a target slice (src0/src1 as the curated proxy) vs the "
        "raw remainder; every document scored by the add-one-smoothed "
        "log-likelihood ratio — the published data-selection rule for "
        "matching a pretraining mixture to a target distribution. "
        "Bucket-bounded models, broadcast lambda table, one per-doc fold"
    ),
    oracle=A.dsir_importance_sql("documents", _DSIR_PRED_SQL),
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    return A.dsir_importance(docs, F.col("source").isin(*DSIR_TARGET_SOURCES))


@register(
    "ccnet_ppl_buckets",
    doc=(
        "CCNet head/middle/tail tiering (Wenzek et al. 2020): per-source "
        "exact 1/3 / 2/3 quantile cuts over the corpus-self unigram LM "
        "score; 'head' = best-scoring third. The coarse quality tiering "
        "crawl pipelines apply before mixing; exact percentile is the "
        "oracle-replayable choice (percentile_approx is the 100 TB dial, "
        "same plan shape)"
    ),
    oracle=A.ccnet_buckets_sql("documents"),
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return A.ccnet_buckets(docs)


TEMP_TAU = 2.0  # UniMax/mT5 temperature: p_i ∝ n_i^(1/τ); τ=2 → sqrt
TEMP_BUDGET = 100_000.0  # token budget the temperature mixture allocates


@register(
    "mixture_temperature",
    doc=(
        "temperature-scaled mixture weights (mT5/UniMax style): per-source "
        "sampling probability p ∝ n_tokens^(1/τ) with τ=2, vs the raw "
        "proportional share — the rebalancing step that keeps low-resource "
        "sources from vanishing at 100 TB. sqrt is IEEE-exact and the "
        "normalizer is an exact BIGINT sum of 1e6-scaled weights, so both "
        "engines see bit-identical doubles; one 20-group aggregate + one "
        "1-row broadcast fan-in"
    ),
    oracle=rf"""
WITH s AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
         CAST(round(sqrt(CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS w_scaled
  FROM documents GROUP BY source
),
t AS (SELECT SUM(w_scaled) AS tot_w, SUM(n_tokens) AS tot_tokens FROM s)
SELECT s.source, s.n_docs, s.n_tokens,
       round(CAST(s.w_scaled AS DOUBLE) / CAST(t.tot_w AS DOUBLE), 6) AS p_temp,
       round(CAST(s.n_tokens AS DOUBLE) / CAST(t.tot_tokens AS DOUBLE), 6) AS p_raw,
       round(round(CAST(s.w_scaled AS DOUBLE) / CAST(t.tot_w AS DOUBLE), 6)
             * {TEMP_BUDGET!r}, 2) AS target_tokens,
       round(round(CAST(s.w_scaled AS DOUBLE) / CAST(t.tot_w AS DOUBLE), 6)
             * {TEMP_BUDGET!r} / CAST(s.n_tokens AS DOUBLE), 6) AS epochs,
       round(CAST(s.w_scaled AS DOUBLE) / CAST(t.tot_w AS DOUBLE), 6)
         > round(CAST(s.n_tokens AS DOUBLE) / CAST(t.tot_tokens AS DOUBLE), 6)
         AS upsampled
FROM s CROSS JOIN t
""",
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (p_i ∝ n_i^(1/τ), τ=2).

    Scale shape: one map-side-combined aggregate of per-doc token
    counts to ~n_sources rows, then a single-row broadcast fan-in for
    the normalizers — no corpus-sized shuffle beyond the group-by.
    Determinism: the per-source weight is ``round(sqrt(n_tokens)*1e6)``
    as BIGINT (sqrt is correctly rounded in IEEE 754, round-half-up of
    a positive double agrees across engines), and the normalizer is an
    exact integer sum — so the final doubles are bit-identical between
    Spark and the DuckDB oracle regardless of aggregation order.
    """
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("n_tokens"),
    )
    w_scaled = F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0).cast("long")
    per_source = per_source.withColumn("w_scaled", w_scaled)
    tot = per_source.agg(
        F.sum("w_scaled").alias("tot_w"), F.sum("n_tokens").alias("tot_tokens")
    )
    p_temp = F.round(F.col("w_scaled").cast("double") / F.col("tot_w").cast("double"), 6)
    p_raw = F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"), 6)
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            p_temp.alias("p_temp"),
            p_raw.alias("p_raw"),
            F.round(p_temp * F.lit(TEMP_BUDGET), 2).alias("target_tokens"),
            F.round(p_temp * F.lit(TEMP_BUDGET) / F.col("n_tokens").cast("double"), 6).alias(
                "epochs"
            ),
            (p_temp > p_raw).alias("upsampled"),
        )
    )


@register(
    "fim_transform",
    doc=(
        "fill-in-the-middle span-corruption shaping (Bavarian et al. "
        "2022): each document splits at deterministic integer-ratio "
        "token boundaries (n//3, 2n//3 — integer arithmetic on both "
        "engines, bit-exact twin) into prefix/middle/suffix and "
        "re-serializes in PSM order ([PRE] prefix [SUF] suffix [MID] "
        "middle) for infill training. Pure narrow array expressions, "
        "zero exchanges; short docs degrade to empty middle/suffix"
    ),
    oracle=r"""
WITH s AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
         len(string_split_regex(trim(text), '\s+')) AS n
  FROM documents
),
cuts AS (
  SELECT doc_id, t, n,
         CAST(n // 3 AS INTEGER) AS lo_cut,
         CAST((n * 2) // 3 AS INTEGER) AS hi_cut
  FROM s
)
SELECT doc_id,
       array_to_string(list_slice(t, 1, lo_cut), ' ') AS prefix,
       array_to_string(list_slice(t, lo_cut + 1, hi_cut), ' ') AS middle,
       array_to_string(list_slice(t, hi_cut + 1, n), ' ') AS suffix,
       '<fim_prefix>' || array_to_string(list_slice(t, 1, lo_cut), ' ')
       || '<fim_suffix>' || array_to_string(list_slice(t, hi_cut + 1, n), ' ')
       || '<fim_middle>' || array_to_string(list_slice(t, lo_cut + 1, hi_cut), ' ')
         AS psm_text,
       CAST(n AS BIGINT) AS n_tokens
FROM cuts
""",
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.assembly import fim_split

    docs = load_table(spark, sf_dir, "documents")
    return fim_split(docs)


def _chat_turns_fixture(docs: DataFrame) -> DataFrame:
    """Conversation fixture law: system turn + 1+doc_id%3 user/assistant
    pairs, content keyed on c=doc_id%5 / m=doc_id%2."""
    c = (F.col("doc_id") % 5).cast("string")
    m = (F.col("doc_id") % 2).cast("string")
    np_ = (1 + F.col("doc_id") % 3).cast("int")
    sys_t = F.struct(
        F.lit("system").alias("role"),
        F.concat(F.lit("You are helpful assistant "), m, F.lit(".")).alias("content"),
    )
    pair = lambda i: F.array(  # noqa: E731
        F.struct(
            F.lit("user").alias("role"),
            F.concat(
                F.lit("Question "), c, F.lit(" part "), i.cast("string"), F.lit("?")
            ).alias("content"),
        ),
        F.struct(
            F.lit("assistant").alias("role"),
            F.concat(
                F.lit("Answer "), c, F.lit(" part "), i.cast("string"), F.lit(".")
            ).alias("content"),
        ),
    )
    turns = F.concat(
        F.array(sys_t),
        F.flatten(F.transform(F.sequence(F.lit(0), np_ - 1), pair)),
    )
    return docs.select("doc_id", turns.alias("turns"))


_CHAT_TURNS_SQL = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS np,
         CAST(doc_id % 5 AS VARCHAR) AS c, CAST(doc_id % 2 AS VARCHAR) AS m
  FROM documents
),
turns AS (
  SELECT doc_id, 0 AS turn_idx, 'system' AS role,
         'You are helpful assistant ' || m || '.' AS content
  FROM p
  UNION ALL
  SELECT p.doc_id, 1 + 2 * g.i, 'user',
         'Question ' || c || ' part ' || CAST(g.i AS VARCHAR) || '?'
  FROM p JOIN range(0, 3) g(i) ON g.i < np
  UNION ALL
  SELECT p.doc_id, 2 + 2 * g.i, 'assistant',
         'Answer ' || c || ' part ' || CAST(g.i AS VARCHAR) || '.'
  FROM p JOIN range(0, 3) g(i) ON g.i < np
),
r AS (
  SELECT doc_id, turn_idx, role,
         '<|' || role || '|>' || chr(10) || content || '<|end|>' || chr(10)
           AS rt
  FROM turns
)
"""


@register(
    "chat_template_render",
    doc=(
        "instruction-data shaping: render a conversation column "
        "(array<struct<role,content>>) to ONE training string under "
        "the fixed turn template <|role|>\\ncontent<|end|>\\n — pure "
        "narrow array expressions, zero exchanges; the oracle rebuilds "
        "the rendered string generatively from the conversation law"
    ),
    oracle=_CHAT_TURNS_SQL
    + """
SELECT doc_id, text, n_turns, CAST(length(text) AS INTEGER) AS n_chars
FROM (
  SELECT doc_id, string_agg(rt, '' ORDER BY turn_idx) AS text,
         CAST(count(*) AS INTEGER) AS n_turns
  FROM r GROUP BY doc_id
)
""",
)
def chat_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.assembly import render_chat_template

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return render_chat_template(_chat_turns_fixture(docs))


@register(
    "chat_turn_offsets",
    doc=(
        "loss-mask spans for instruction tuning: 0-based character "
        "offsets of every rendered turn inside the chat-template "
        "output (assistant-only loss masking filters role = "
        "'assistant') — posexplode + a per-document running-sum "
        "window (bounded by turns-per-doc, never corpus-wide); the "
        "oracle replays lengths and the cumulative sum in SQL"
    ),
    oracle=_CHAT_TURNS_SQL
    + """
SELECT doc_id, CAST(turn_idx AS INTEGER) AS turn_idx, role,
       CAST(coalesce(sum(length(rt)) OVER (
              PARTITION BY doc_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS INTEGER) AS start_char,
       CAST(coalesce(sum(length(rt)) OVER (
              PARTITION BY doc_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + length(rt) AS INTEGER) AS end_char
FROM r
""",
)
def chat_turn_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.assembly import chat_turn_offsets as _off

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return _off(_chat_turns_fixture(docs))
