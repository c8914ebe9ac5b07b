"""Dataset-assembly operators: sequence packing, mixture sampling,
unigram LM scoring.

North-star extension — the last mile of a training-data pipeline,
after cleaning/dedup: pack documents into fixed-length training
sequences, sample sources to a target mixture, and score documents
against a corpus-level unigram language model (the cheap stand-in for
CCNet-style perplexity filtering).

Scale design notes:
- Packing needs a GLOBAL running sum of token counts. A single
  unpartitioned window is a one-task bottleneck at 100 TB, so
  :func:`pack_sequences` uses the classic two-phase prefix sum:
  within-chunk cumsum (parallel window partitioned by chunk) plus a
  broadcast cumsum over per-chunk totals (one tiny window over
  ~n/chunk_size rows). Identical result to the naive global window,
  verified by the oracle which IS the naive global window.
- Mixture sampling is a pure narrow map (hash < threshold) — no
  shuffle, deterministic, stable under re-runs and repartitioning,
  unlike ``df.sample`` whose output depends on partition layout.
- Unigram scoring joins tokens against a broadcast frequency table
  and folds per-document log-probs in position order (the usual
  engine-identical float discipline); the mean is rounded to absorb
  libm ``ln`` last-ulp drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import md5_long, md5_long_sql, ws_tokens

# Decimal places of every mean log-probability / log-ratio output:
# absorbs libm ``ln`` last-ulp drift between the engines.
_ROUND_DIGITS = 6


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

#: Training-sequence length of the packed corpus; the oracle twin
#: :func:`pack_sequences_sql` replays exactly this length.
SEQ_LEN = 2048


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = SEQ_LEN,
    chunk_size: int = 1024,
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document its position in the packed token stream:
    documents are concatenated in ``id_col`` order and cut into
    ``seq_len``-token training sequences.

    Output: (id, n_tokens, tok_offset, seq_id, offset_in_seq, end_seq_id)
    where ``tok_offset`` is the exclusive prefix sum of token counts,
    ``seq_id = tok_offset // seq_len``, and ``end_seq_id`` is the sequence
    holding the document's last token (> seq_id ⇒ the doc straddles a
    boundary).

    Two-phase prefix sum: docs are grouped into chunks of
    ``chunk_size`` ids; phase 1 computes within-chunk cumsums under a
    ``partitionBy(chunk)`` window (parallel), phase 2 cumsums the
    per-chunk totals (rows = n/chunk_size, one tiny window task) and
    broadcasts them back. No single-task scan of the corpus ever
    happens — this is the distributed scan-primitive shape.

    ``tokens_col``: use a precomputed token-count column instead of
    tokenizing ``text_col``. In a composed pipeline this lets the
    caller compute counts map-side at the scan and drop the text
    column before any shuffle — the packed output never needed text,
    only its length.
    """
    n_tok = F.col(tokens_col) if tokens_col else F.size(ws_tokens(text_col))
    # base feeds the within-chunk window AND the chunk-totals aggregate;
    # materialize the 3-long-per-doc relation once instead of
    # re-tokenizing the corpus per consumer.
    base = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (F.col(id_col) / chunk_size).cast("long").alias("__chunk"),
    ).localCheckpoint(eager=True)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = base.withColumn("__local_off", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
    totals = base.groupBy("__chunk").agg(F.sum("n_tokens").alias("__chunk_tot"))
    w_ch = (
        Window.orderBy("__chunk").rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk_off = totals.select(
        "__chunk", F.coalesce(F.sum("__chunk_tot").over(w_ch), F.lit(0)).alias("__chunk_off")
    )
    packed = (
        within.join(F.broadcast(chunk_off), "__chunk")
        .withColumn("tok_offset", F.col("__chunk_off") + F.col("__local_off"))
    )
    return packed.select(
        id_col,
        "n_tokens",
        "tok_offset",
        (F.col("tok_offset") / seq_len).cast("long").alias("seq_id"),
        (F.col("tok_offset") % seq_len).alias("offset_in_seq"),
        (
            F.when(F.col("n_tokens") > 0, (F.col("tok_offset") + F.col("n_tokens") - 1))
            .otherwise(F.col("tok_offset"))
            / seq_len
        ).cast("long").alias("end_seq_id"),
    )


def pack_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """1-row packing state over an already-packed corpus:
    (n_docs, max_id, total_tokens) — the persistable artifact
    :func:`pack_sequences_continue` resumes from. At 100 TB this is
    what turns packing into an INCREMENTAL operator: the state is one
    row, so continuing a daily ingest batch costs ∝ batch, never a
    re-scan of the packed corpus (same lifecycle shape as the BM25 /
    IVF / dedup index merges)."""
    n_tok = F.col(tokens_col) if tokens_col else F.size(ws_tokens(text_col))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(id_col).alias("max_id"),
        F.coalesce(F.sum(n_tok.cast("long")), F.lit(0).cast("long")).alias("total_tokens"),
    )


def pack_sequences_continue(
    batch: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = SEQ_LEN,
    tokens_col: str | None = None,
) -> DataFrame:
    """Continue sequence packing from a :func:`pack_state` artifact:
    pack the batch alone (two-phase prefix sum, cost ∝ batch), then
    shift every offset by the state's ``total_tokens``. Provably equal
    to re-packing the full corpus restricted to the batch, BECAUSE the
    packed stream is id-ordered — so every batch id must exceed the
    state's ``max_id``; raises ``ValueError`` otherwise (a silent
    out-of-order append would corrupt every downstream offset). The
    guard is one tiny aggregate on relations this function scans
    anyway."""
    st = state.first()
    lo_row = batch.agg(F.min(id_col).alias("lo")).first()
    lo = lo_row["lo"]
    if lo is not None and st["max_id"] is not None and lo <= st["max_id"]:
        raise ValueError(
            f"pack_sequences_continue: batch min {id_col}={lo} <= state max_id="
            f"{st['max_id']} — packing is id-ordered; re-pack from scratch or "
            "re-key the batch"
        )
    base = int(st["total_tokens"] or 0)
    packed = pack_sequences(batch, id_col, text_col, seq_len, tokens_col=tokens_col)
    off = F.col("tok_offset") + F.lit(base)
    return packed.select(
        id_col,
        "n_tokens",
        off.alias("tok_offset"),
        (off / seq_len).cast("long").alias("seq_id"),
        (off % seq_len).alias("offset_in_seq"),
        (
            F.when(F.col("n_tokens") > 0, off + F.col("n_tokens") - 1)
            .otherwise(off)
            / seq_len
        ).cast("long").alias("end_seq_id"),
    )


def pack_sequences_sql(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin: the NAIVE single global window — the semantic spec
    the two-phase plan must reproduce exactly."""
    toks = rf"len(string_split_regex(trim({text_col}), '\s+'))"
    return f"""
WITH n AS (SELECT {id_col}, {toks} AS n_tokens FROM {table}),
o AS (
  SELECT {id_col}, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY {id_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM n
)
SELECT {id_col}, n_tokens, tok_offset,
       tok_offset // {SEQ_LEN} AS seq_id,
       tok_offset % {SEQ_LEN} AS offset_in_seq,
       (CASE WHEN n_tokens > 0 THEN tok_offset + n_tokens - 1 ELSE tok_offset END) // {SEQ_LEN} AS end_seq_id
FROM o
"""


# ---------------------------------------------------------------------------
# Mixture sampling
# ---------------------------------------------------------------------------

SAMPLE_MOD = 1_000_000


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source subsampling to a target mixture:
    keep a row iff ``md5(id) % 1e6 < weight[source] * 1e6``.

    Unknown sources get weight 0 (dropped). Pure narrow map — the
    sample is a property of the ROW, not of partition layout or run
    order, so it is reproducible across cluster sizes and re-runs
    (``df.sample`` is neither). This is how a 100 TB mixing job stays
    restartable.
    """
    h = md5_long(F.col(id_col).cast("string")) % SAMPLE_MOD
    thresh = F.lit(0)
    for src, w in sorted(weights.items()):
        # round, don't truncate: int(0.29 * 1e6) is 289999 (the product
        # is 289999.99999999994), silently sampling 1/SAMPLE_MOD short
        # of the requested weight. Exact-dyadic weights are unaffected.
        thresh = F.when(F.col(source_col) == src, F.lit(round(w * SAMPLE_MOD))).otherwise(thresh)
    return df.filter(h < thresh)


def mixture_predicate_sql(
    weights: dict[str, float], source_col: str = "source", id_col: str = "doc_id"
) -> str:
    """The WHERE-clause predicate of :func:`mixture_sample` (for
    embedding in composed oracles)."""
    h = md5_long_sql(f"CAST({id_col} AS VARCHAR)")
    cases = " ".join(
        # quote-escape source names; round like mixture_sample does
        f"WHEN {source_col} = '{src.replace(chr(39), chr(39) * 2)}' THEN {round(w * SAMPLE_MOD)}"
        for src, w in sorted(weights.items())
    )
    return f"({h}) % {SAMPLE_MOD} < (CASE {cases} ELSE 0 END)"


def mixture_sample_sql(
    table: str,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    select: str = "*",
) -> str:
    """DuckDB twin of :func:`mixture_sample`."""
    return (
        f"SELECT {select} FROM {table} "
        f"WHERE {mixture_predicate_sql(weights, source_col, id_col)}"
    )


# ---------------------------------------------------------------------------
# Unigram LM document scoring
# ---------------------------------------------------------------------------

def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score each document by mean token log-probability under the
    corpus's own unigram distribution — the cheap proxy for LM-
    perplexity quality filtering (CCNet-style): gibberish and
    boilerplate score far from the corpus mean.

    Output: (id, n_tokens, avg_logprob). Shape: one token explode →
    corpus frequency aggregate (vocab-bounded, broadcast back) →
    per-document EXACT sum of ``round(ln(cnt/total), 12)`` as
    DECIMAL(28,12): rounding absorbs libm ``ln`` ulp drift, and a
    decimal sum is order-independent, so both engines land on the
    identical total with a plain codegen'd hash aggregate — no
    position-ordered fold (the previous collect_list + interpreted
    array fold cost ~40% of the query).

    ``carry_cols``: per-document attributes (functionally dependent on
    the id, e.g. ``source``) grouped THROUGH the per-doc aggregate and
    returned alongside — the same dl-through-tf move as BM25, saving
    the caller an id-keyed join back onto the corpus.
    """
    carried = [F.col(c) for c in carry_cols]
    toks = df.select(F.col(id_col), *carried, F.explode(ws_tokens(text_col)).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    freq_p = freq.crossJoin(F.broadcast(total))
    joined = toks.join(F.broadcast(freq_p), "tok").select(
        id_col,
        *carry_cols,
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 12
        )
        .cast("decimal(28,12)")
        .alias("logp"),
    )
    per_doc = joined.groupBy(id_col, *carry_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("logp").alias("__sum_logp"),
    )
    return per_doc.select(
        id_col,
        *carry_cols,
        "n_tokens",
        F.round(
            F.col("__sum_logp").cast("double") / F.col("n_tokens").cast("double"),
            _ROUND_DIGITS,
        ).alias("avg_logprob"),
    )


def unigram_logprob_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`unigram_logprob` (same round-then-exact-
    decimal-sum rule, so summation order cannot matter)."""
    toks = rf"string_split_regex(trim({text_col}), '\s+')"
    return f"""
WITH t AS (
  SELECT {id_col}, unnest(tk) AS tok
  FROM (SELECT {id_col}, {toks} AS tk FROM {table})
),
freq AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM freq),
j AS (
  SELECT t.{id_col},
         CAST(round(ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS logp
  FROM t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(logp) AS DOUBLE) / count(*), {_ROUND_DIGITS}) AS avg_logprob
FROM j GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# Bigram LM document scoring
# ---------------------------------------------------------------------------

def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score each document by mean CONDITIONAL log-probability
    ``ln P(tok | prev)`` under the corpus's own bigram LM (MLE; every
    scored bigram exists in the model because the model is trained on
    the same corpus, so no smoothing term is needed).

    Sharper than :func:`unigram_logprob` at catching shuffled-word and
    stitched-boilerplate text, which keeps a normal unigram profile
    but improbable transitions.

    Output: (id, n_bigrams, avg_logprob); single-token documents have
    no bigrams and are absent, by contract. Shape: (prev, tok) pairs
    are derived MAP-SIDE by zipping the token array against itself
    shifted by one (``arrays_zip(slice, slice)``, plain codegen — no
    posexplode, no per-doc lag window, no exchange; this is also
    exactly how the oracle derives them); the bigram count is one hash
    aggregate of those skinny rows and the context denominator is a
    window-sum OVER the vocab-bounded model relation (one exchange on
    ``prev`` replacing the previous groupBy + join pair); scoring joins
    pair rows to the model on the bigram key. Round-4 rewrite cut the
    plan from 10 exchanges to 5 (same value hash; same-session A/B in
    BENCH_HISTORY.md). Mean uses the same round-then-exact-decimal-sum
    rule as the unigram scorer (rounding absorbs libm ``ln`` ulp
    drift; the decimal sum is order-independent, so no ordered fold).
    """
    from pyspark.sql import Window

    tk = ws_tokens(text_col)
    n1 = F.greatest(F.size(tk) - F.lit(1), F.lit(0))
    pairs = F.arrays_zip(
        F.slice(tk, F.lit(1), n1).alias("prev"),
        F.slice(tk, F.lit(2), n1).alias("tok"),
    )
    bi = df.select(F.col(id_col), F.explode(pairs).alias("__b")).select(
        id_col, F.col("__b.prev").alias("prev"), F.col("__b.tok").alias("tok")
    )
    bfreq = bi.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    # Context denominator Σ_tok cnt as a window-sum over the model
    # itself: bfreq is vocab²-bounded, so the single exchange on
    # ``prev`` is cheap, and it replaces the former groupBy("prev") +
    # equi-join pair (two exchanges).
    wprev = Window.partitionBy("prev")
    model = bfreq.select(
        "prev",
        "tok",
        F.round(
            F.log(
                F.col("cnt").cast("double")
                / F.sum("cnt").over(wprev).cast("double")
            ),
            12,
        )
        .cast("decimal(28,12)")
        .alias("logp"),
    )
    # Build side pinned with a shuffle_hash hint on the MODEL side:
    # planner size estimates for a synthesized/checkpointed corpus can
    # be tiny, and an estimate-driven BuildLeft would broadcast the
    # full pair stream (measured: 2M-doc probe died on
    # driver.maxResultSize collecting an 88M-row "broadcast"). The
    # model is the vocab²-bounded side; hashing it per partition is
    # safe at any corpus size, and AQE still upgrades the join to
    # broadcast at runtime when the model proves small.
    joined = bi.join(model.hint("shuffle_hash"), ["prev", "tok"]).select(id_col, "logp")
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp").alias("__sum_logp"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(
            F.col("__sum_logp").cast("double") / F.col("n_bigrams").cast("double"),
            _ROUND_DIGITS,
        ).alias("avg_logprob"),
    )


def bigram_logprob_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`bigram_logprob` (same round-then-exact-
    decimal-sum rule, so summation order cannot matter)."""
    toks = rf"string_split_regex(trim({text_col}), '\s+')"
    return f"""
WITH t AS (
  SELECT {id_col}, u.prev, u.tok FROM (
    SELECT {id_col},
           unnest(list_transform(range(2, len(tk) + 1),
                  i -> struct_pack(prev := tk[i - 1], tok := tk[i]))) AS u
    FROM (SELECT {id_col}, {toks} AS tk FROM {table})
  )
),
bf AS (SELECT prev, tok, count(*) AS cnt FROM t GROUP BY prev, tok),
cf AS (SELECT prev, sum(cnt) AS ctx FROM bf GROUP BY prev),
j AS (
  SELECT t.{id_col},
         CAST(round(ln(CAST(bf.cnt AS DOUBLE) / CAST(cf.ctx AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS logp
  FROM t JOIN bf ON t.prev = bf.prev AND t.tok = bf.tok
         JOIN cf ON t.prev = cf.prev
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(logp) AS DOUBLE) / count(*), {_ROUND_DIGITS}) AS avg_logprob
FROM j GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (data selection via importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024


def dsir_importance(
    df: DataFrame,
    is_target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document importance weight for target-distribution matching,
    the DSIR construction (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash every token into
    ``n_buckets`` buckets, fit add-one-smoothed bucket unigram LMs on
    the TARGET slice (rows where ``is_target``) and the RAW remainder,
    and score every document by the log-likelihood ratio

        w(d) = Σ_{t ∈ d} [ ln p̂_target(b(t)) − ln p̂_raw(b(t)) ]

    High-weight raw documents look like the target corpus; resampling
    by ``w`` (e.g. :func:`~...sampling` / priority sampling with
    exp(w) weights) is the published selection rule.

    Output: (id, n_tokens, logratio), one row per input document
    (target rows are scored too — useful as the sanity band).

    Scale shape: one token explode; both LMs are ``n_buckets``-bounded
    aggregates (map-side combined); the λ(bucket) table (the model
    DIFFERENCE) is a broadcast of ``n_buckets`` rows; scoring is one
    per-doc hash aggregate. Per-bucket λ and the per-doc sum follow
    the house round-then-exact-decimal rule, so the DuckDB twin lands
    on identical doubles.
    """
    toks = df.select(
        F.col(id_col), is_target.alias("__t"), F.explode(ws_tokens(text_col)).alias("tok")
    )
    bt = toks.select(id_col, "__t", (md5_long("tok") % n_buckets).alias("bucket"))
    cnt_t = bt.filter(F.col("__t")).groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    cnt_r = bt.filter(~F.col("__t")).groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tot = bt.agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("nr"),
    )
    grid = df.sparkSession.range(n_buckets).select(F.col("id").alias("bucket"))
    lam = (
        grid.join(F.broadcast(cnt_t), "bucket", "left")
        .join(F.broadcast(cnt_r), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + n_buckets).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                    / (F.col("nr") + n_buckets).cast("double")
                ),
                12,
            ).alias("lam"),
        )
    )
    scored = bt.join(F.broadcast(lam), "bucket").select(
        id_col, F.col("lam").cast("decimal(28,12)").alias("lam")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lam").alias("__s"))
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("__s").cast("double"), _ROUND_DIGITS).alias("logratio"),
        )
    )


def dsir_importance_sql(
    table: str,
    target_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_importance` at ``DSIR_BUCKETS``
    buckets (``target_pred`` is the SQL predicate marking the target
    slice)."""
    toks = rf"string_split_regex(trim({text_col}), '\s+')"
    return f"""
WITH t AS (
  SELECT {id_col}, ({target_pred}) AS tgt, unnest({toks}) AS tok FROM {table}
),
bt AS (SELECT {id_col}, tgt, {md5_long_sql('tok')} % {DSIR_BUCKETS} AS bucket FROM t),
ct AS (SELECT bucket, count(*) AS ct FROM bt WHERE tgt GROUP BY bucket),
cr AS (SELECT bucket, count(*) AS cr FROM bt WHERE NOT tgt GROUP BY bucket),
tot AS (
  SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS nr
  FROM bt
),
grid AS (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket),
lam AS (
  SELECT g.bucket,
         round(
           ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / CAST(tot.nt + {DSIR_BUCKETS} AS DOUBLE))
           - ln(CAST(coalesce(cr.cr, 0) + 1 AS DOUBLE) / CAST(tot.nr + {DSIR_BUCKETS} AS DOUBLE)),
           12) AS lam
  FROM grid g LEFT JOIN ct ON ct.bucket = g.bucket
              LEFT JOIN cr ON cr.bucket = g.bucket
              CROSS JOIN tot
)
SELECT bt.{id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(lam.lam AS DECIMAL(28,12))) AS DOUBLE), {_ROUND_DIGITS}) AS logratio
FROM bt JOIN lam ON lam.bucket = bt.bucket
GROUP BY bt.{id_col}
"""


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(id, source, ppl_bucket): CCNet's head/middle/tail split
    (Wenzek et al. 2020) — per SOURCE, rank documents by LM score and
    cut at the 1/3 and 2/3 quantiles; "head" is the best-scoring
    (lowest-perplexity ≡ highest mean log-prob) third. The standard
    coarse quality tiering crawl pipelines apply before mixing.

    The LM score is :func:`unigram_logprob`'s corpus-self unigram mean
    (the same proxy the quality gate uses). Cut points are EXACT
    interpolated quantiles (``F.percentile`` / DuckDB ``quantile_cont``
    agree bit-for-bit on identical inputs), rounded to 6 before
    comparison so the bucket edges are engine-stable. The exact
    per-source percentile buffers one source's scores in an aggregate
    state — the oracle-replayable choice; at 100 TB swap in
    ``percentile_approx`` (same plan shape, documented drift).
    """
    scored = unigram_logprob(df, id_col, text_col, carry_cols=(source_col,))
    cuts = scored.groupBy(source_col).agg(
        F.round(F.percentile("avg_logprob", F.lit(1.0 / 3)), 6).alias("c1"),
        F.round(F.percentile("avg_logprob", F.lit(2.0 / 3)), 6).alias("c2"),
    )
    bucket = (
        F.when(F.col("avg_logprob") > F.col("c2"), "head")
        .when(F.col("avg_logprob") > F.col("c1"), "middle")
        .otherwise("tail")
    )
    return scored.join(F.broadcast(cuts), source_col).select(
        id_col, source_col, bucket.alias("ppl_bucket")
    )


def ccnet_buckets_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """DuckDB twin of :func:`ccnet_buckets`."""
    uni = unigram_logprob_sql(table, id_col, text_col)
    return f"""
WITH scored_base AS ({uni}),
scored AS (
  SELECT s.{id_col}, s.avg_logprob, d.{source_col}
  FROM scored_base s JOIN {table} d ON d.{id_col} = s.{id_col}
),
cuts AS (
  SELECT {source_col},
         round(quantile_cont(avg_logprob, 1.0/3), 6) AS c1,
         round(quantile_cont(avg_logprob, 2.0/3), 6) AS c2
  FROM scored GROUP BY {source_col}
)
SELECT s.{id_col}, s.{source_col},
       CASE WHEN s.avg_logprob > c.c2 THEN 'head'
            WHEN s.avg_logprob > c.c1 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored s JOIN cuts c ON c.{source_col} = s.{source_col}
"""


# ---------------------------------------------------------------------------
# Fill-in-the-middle (FIM) span-corruption shaping (round 10):
# Bavarian et al. 2022, "Efficient Training of Language Models to
# Fill in the Middle" — the batch transformation code-model pipelines
# apply to a fraction of documents: split each document into
# (prefix, middle, suffix) and re-serialize in PSM order
# ([PRE] prefix [SUF] suffix [MID] middle) so the model learns to
# infill. Deterministic splits (integer-ratio boundaries on the token
# array) — a reproducible corpus build wants the split to be a pure
# function of the document, not a runtime RNG; vary `lo`/`hi` ratios
# per epoch for fresh splits. Pure narrow array expressions, zero
# exchanges at any corpus size.
# ---------------------------------------------------------------------------

FIM_PRE = "<fim_prefix>"
FIM_SUF = "<fim_suffix>"
FIM_MID = "<fim_middle>"


def fim_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lo: tuple[int, int] = (1, 3),
    hi: tuple[int, int] = (2, 3),
) -> DataFrame:
    """(id, prefix, middle, suffix, psm_text, n_tokens): whitespace-
    token split at integer-ratio boundaries — token index boundaries
    ``lo_cut = n*lo_num // lo_den`` and ``hi_cut = n*hi_num //
    hi_den`` (integer arithmetic on BOTH engines, so the oracle twin
    is bit-exact; float fractions would round differently). Documents
    shorter than 3 tokens degrade to empty middle/suffix, never an
    error."""
    (ln, ld), (hn, hd) = lo, hi
    if not (0 < ln / ld <= hn / hd <= 1):
        raise ValueError(f"bad split ratios lo={lo} hi={hi}")
    t = ws_tokens(text_col)
    n = F.size(t)
    lo_cut = F.floor(n * ln / ld).cast("int")
    hi_cut = F.floor(n * hn / hd).cast("int")
    prefix = F.concat_ws(" ", F.slice(t, 1, lo_cut))
    middle = F.concat_ws(" ", F.slice(t, lo_cut + 1, hi_cut - lo_cut))
    suffix = F.concat_ws(" ", F.slice(t, hi_cut + 1, n - hi_cut))
    psm = F.concat(
        F.lit(FIM_PRE), prefix, F.lit(FIM_SUF), suffix, F.lit(FIM_MID), middle
    )
    return docs.select(
        F.col(id_col),
        prefix.alias("prefix"),
        middle.alias("middle"),
        suffix.alias("suffix"),
        psm.alias("psm_text"),
        n.cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Chat-template rendering (round 10): the instruction-tuning batch
# shape — a conversation (array of (role, content) turns) renders to
# one training string, and the per-turn CHARACTER OFFSETS come out as
# a relation so assistant-only loss masking can be applied downstream
# without re-parsing the rendered text. Template (fixed, part of the
# operator contract): "<|role|>\n" + content + "<|end|>\n" per turn,
# concatenated in order.
# ---------------------------------------------------------------------------

CHAT_TURN_TEMPLATE = ("<|", "|>\n", "<|end|>\n")  # open+role, after-role, close


def _render_turn(role: Column, content: Column) -> Column:
    o, a, c = CHAT_TURN_TEMPLATE
    return F.concat(F.lit(o), role, F.lit(a), content, F.lit(c))


def render_chat_template(
    df: DataFrame, id_col: str = "doc_id", turns_col: str = "turns"
) -> DataFrame:
    """(id, text, n_turns, n_chars): render a conversation column
    (``array<struct<role string, content string>>``) to one training
    string. Pure narrow array expressions, zero exchanges."""
    t = F.col(turns_col)
    text = F.array_join(
        F.transform(t, lambda x: _render_turn(x["role"], x["content"])), ""
    )
    return df.select(
        F.col(id_col),
        text.alias("text"),
        F.size(t).cast("int").alias("n_turns"),
        F.length(text).cast("int").alias("n_chars"),
    )


def chat_turn_offsets(
    df: DataFrame, id_col: str = "doc_id", turns_col: str = "turns"
) -> DataFrame:
    """(id, turn_idx, role, start_char, end_char): 0-based character
    spans of each rendered turn inside :func:`render_chat_template`'s
    output — the relation assistant-only loss masking consumes
    (mask = spans where role = 'assistant'). One posexplode + a
    per-document running-sum window (bounded by turns-per-doc, never
    corpus-wide)."""
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(turns_col)).alias("turn_idx", "t")
    ).select(
        id_col,
        "turn_idx",
        F.col("t.role").alias("role"),
        F.length(_render_turn(F.col("t.role"), F.col("t.content"))).alias("__len"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("__len").over(w), F.lit(0)).cast("int")
    return ex.select(
        id_col,
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        start.alias("start_char"),
        (start + F.col("__len")).cast("int").alias("end_char"),
    )
