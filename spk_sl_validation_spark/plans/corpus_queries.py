r"""Corpus-level text/vector analytics: top terms, TF-IDF, embedding
centroids — the aggregate statistics a training-data pipeline reports
per corpus snapshot. All value-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import ws_tokens
from spk_sl_validation_spark.ext.textrank import textrank_keywords_sql
from spk_sl_validation_spark.plans.dedup_shared import BP_MIN_DOCS, SPAN_W
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table, load_table_spread

_TOKS = r"string_split_regex(trim(text), '\s+')"


@register(
    "corpus_top_terms",
    doc="corpus word count → top-20 terms (the canonical distributed aggregation, deterministic tiebreak)",
    oracle=f"""
SELECT term, n FROM (
  SELECT term, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rnk
  FROM (SELECT unnest({_TOKS}) AS term FROM documents)
  GROUP BY term
) WHERE rnk <= 20
""",
)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(ws_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return counts.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 20).select("term", "n")


@register(
    "text_tfidf",
    doc="TF-IDF: top-3 weighted terms per document (two aggregations + broadcast idf join)",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * (ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM ranked WHERE rnk <= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ws_tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df").cast("double") + 1.0)) + 1.0
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term", (F.col("tf").cast("double") * idf).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "text_chunking",
    doc=f"document chunking for training windows: {CHUNK_SIZE}-token chunks, stride {CHUNK_STRIDE} (JVM array ops, 1→N)",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(range(0, greatest((len(t) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}, 0) + 1)) AS chunk_idx,
         t
  FROM tok
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1, chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ') AS chunk_text,
       CAST(least({CHUNK_SIZE}, len(t) - chunk_idx * {CHUNK_STRIDE}) AS INTEGER) AS n_tokens
FROM chunks
""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document becomes ⌈(n_tokens - size)/stride⌉ + 1 overlapping
    chunks (always ≥1: short docs yield one short chunk). Pure JVM
    array expressions + posexplode — a narrow 1→N map, no Python, no
    shuffle; at 100 TB chunking is scan-speed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - CHUNK_SIZE + CHUNK_STRIDE) / CHUNK_STRIDE).cast("int") - 1,
        F.lit(0),
    )
    with_chunks = docs.select(
        "doc_id", toks.alias("t"), F.posexplode(F.sequence(F.lit(0), n_chunks)).alias("pos", "chunk_idx")
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return with_chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(F.slice("t", start + 1, CHUNK_SIZE), " ").alias("chunk_text"),
        F.least(F.lit(CHUNK_SIZE), F.size("t") - start).cast("int").alias("n_tokens"),
    )


@register(
    "embedding_centroids",
    doc="per-label centroid vectors via posexplode + decimal-exact per-dimension mean",
    oracle="""
WITH flat AS (
  SELECT label, i AS dim, embedding[i] AS v
  FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_v,
       COUNT(*) AS n
FROM flat
GROUP BY label, dim
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select("label", F.posexplode("embedding").alias("pos", "v")).select(
        "label", (F.col("pos") + 1).cast("int").alias("dim"), "v"
    )
    return flat.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast("double").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("mean_v"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "corpus_cooccurrence",
    doc=(
        "word co-occurrence lift: for word pairs sharing a document, "
        "lift = co_docs * N / (df_1 * df_2) — top 50 by lift. Per-doc DISTINCT "
        "then a doc_id-keyed self-join (pair space bounded by per-doc distinct "
        "vocabulary, not corpus vocab^2); doc frequencies broadcast back onto "
        "the pair aggregate. All counts exact, one final double division"
    ),
    oracle=rf"""
WITH dw AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS w FROM documents),
dfreq AS (SELECT w, count(*) AS df FROM dw GROUP BY w),
pairs AS (SELECT a.w AS w1, b.w AS w2, count(*) AS co_docs
          FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY a.w, b.w),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT p.w1, p.w2, p.co_docs,
       CAST(p.co_docs * n.n_docs AS DOUBLE) / (d1.df * d2.df) AS lift
FROM pairs p
JOIN dfreq d1 ON d1.w = p.w1
JOIN dfreq d2 ON d2.w = p.w2
CROSS JOIN n
ORDER BY lift DESC, p.w1, p.w2
LIMIT 50
""",
)
def corpus_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    dw = docs.select("doc_id", F.explode(ws_tokens("text")).alias("w")).distinct()
    dfreq = dw.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    a = dw.alias("a")
    b = dw.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.w") < F.col("b.w")))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("co_docs"))
    )
    out = (
        pairs.join(F.broadcast(dfreq.withColumnRenamed("w", "w1").withColumnRenamed("df", "df1")), "w1")
        .join(F.broadcast(dfreq.withColumnRenamed("w", "w2").withColumnRenamed("df", "df2")), "w2")
        .select(
            "w1",
            "w2",
            "co_docs",
            ((F.col("co_docs") * F.lit(n_docs)).cast("double") / (F.col("df1") * F.col("df2"))).alias("lift"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "w1", "w2").limit(50)


@register(
    "text_textrank_keywords",
    doc=(
        "TextRank keyword extraction: damped PageRank (3 synchronous iterations) "
        "over the token-adjacency graph; neighbor contributions fold in sorted "
        "order so iterated double arithmetic is bit-exact vs the oracle's "
        "unrolled-CTE replay — an iterative graph algorithm under a value hash"
    ),
    oracle=textrank_keywords_sql("documents"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.textrank import textrank_keywords

    docs = load_table(spark, sf_dir, "documents")
    return textrank_keywords(docs)


@register(
    "corpus_span_dedup",
    headline=True,
    doc=(
        f"C4-style cross-document span dedup: {SPAN_W}-word non-overlapping "
        "spans, a span occurring in >1 document survives only in its "
        "lowest-doc_id owner; documents are reassembled in span order with "
        "kept/dropped counts. Skinny (id, span_idx, hash) fingerprint arm, "
        "ownership via groupBy(h) + count>1-gated join-back (AQE-skew-"
        "splittable), span text re-derived in a pure-map arm for reassembly "
        "— span text never rides the fingerprint shuffle"
    ),
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
spans AS (
  SELECT doc_id, CAST(i AS INTEGER) AS span_idx,
         array_to_string(list_slice(t, i * {SPAN_W} + 1, i * {SPAN_W} + {SPAN_W}), ' ') AS span
  FROM toks, unnest(range(0, greatest(CAST(ceil(len(t) / {SPAN_W}.0) AS BIGINT), 1))) AS u(i)
),
hashed AS (
  SELECT doc_id, span_idx, span,
         CAST(('0x' || substr(md5(span), 1, 15)) AS BIGINT) AS h
  FROM spans
),
flagged AS (
  SELECT doc_id, span_idx, span,
         (doc_id = min(doc_id) OVER (PARTITION BY h)) AS kept
  FROM hashed
)
SELECT doc_id,
       coalesce(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE kept), '') AS clean_text,
       count(*) FILTER (WHERE kept) AS n_spans_kept,
       count(*) FILTER (WHERE NOT kept) AS n_spans_dropped
FROM flagged GROUP BY doc_id
""",
)
def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span removal (C4/RefinedWeb move).

    The reference has no corpus operators; this extends its dedup scope
    (SURVEY.md SS2.6) to sub-document granularity: any 8-word span that
    appears in more than one document is kept only in its first
    (lowest doc_id) owner and stripped everywhere else, then each
    document is stitched back together in span order.

    Scale shape (round-9 rewrite, mirroring corpus_substring_dedup):
    the span build is a narrow per-row map (one ``transform`` over
    token slices, ~n_words/8 spans per doc) hashed to 8-byte longs
    immediately, so only skinny ``(doc_id, span_idx, h)`` rows ride
    the fingerprint exchanges — span TEXT never shuffles on the
    fingerprint key. Ownership is ``groupBy(h).agg(min, count)``
    (map-side partials absorb a boilerplate span in 10^8 docs, where
    the previous ``min over Window.partitionBy(h)`` pinned every
    occurrence to one AQE-unsplittable task) + a ``count>1``-gated,
    localCheckpointed join-back AQE skew-splits; dropped positions
    fold to one small drop-set row per affected doc and a second
    pure-map scan re-derives the span arrays for reassembly. Four
    exchanges, no collect, no broadcast of corpus-sized state.

    Duplicate spans *within* a single owner document are kept (the rule
    is per-document ownership, not global uniqueness) — deterministic
    and replayed identically by the oracle.
    """
    from spk_sl_validation_spark.ext.text import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup(docs, "doc_id", "text", SPAN_W)


SUBSTR_W = 8  # sliding-window width (tokens)
SUBSTR_MIN_LEN = 12  # Lee et al. length threshold (tokens)


@register(
    "corpus_substring_dedup",
    headline=True,
    doc=(
        "ExactSubstr maximal-span dedup (Lee et al. 2022): sliding "
        f"{SUBSTR_W}-token windows fingerprinted, non-owner duplicated "
        "positions merged islands-and-gaps into MAXIMAL token spans "
        "(overlapping or touching spans collapse into one), spans >= "
        f"{SUBSTR_MIN_LEN} tokens removed, lowest-doc_id owner keeps its "
        "copy. Text never shuffles on the fingerprint key — only "
        "(id,pos,hash) rows do; islands/merge/gate share one doc_id "
        "partitioning; interval arrays rejoin shuffle_hash"
    ),
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(t, i + 1, i + {SUBSTR_W}), ' ')), 1, 15)) AS BIGINT) AS h
  FROM toks, unnest(range(0, greatest(len(t) - {SUBSTR_W} + 1, 0))) AS u(i)
),
dup AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, min(doc_id) OVER (PARTITION BY h) AS owner FROM sh)
  WHERE doc_id <> owner
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
),
iv AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SUBSTR_W} - 1 AS e
  FROM isl GROUP BY doc_id, grp
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
merged AS (
  SELECT doc_id, min(s) AS s, max(e) AS e
  FROM (SELECT doc_id, s, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS mgrp
        FROM flagged)
  GROUP BY doc_id, mgrp
),
big AS (SELECT * FROM merged WHERE e - s + 1 >= {SUBSTR_MIN_LEN}),
tok AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS tp, t[i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT k.doc_id, k.tp, k.tok
  FROM tok k
  WHERE NOT EXISTS (
    SELECT 1 FROM big b WHERE b.doc_id = k.doc_id AND k.tp BETWEEN b.s AND b.e
  )
),
reassembled AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text
  FROM kept GROUP BY doc_id
),
stats AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans_removed,
         CAST(sum(e - s + 1) AS BIGINT) AS n_tokens_removed
  FROM big GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(st.n_tokens_removed, 0) AS n_tokens_removed,
       coalesce(st.n_spans_removed, 0) AS n_spans_removed
FROM toks
LEFT JOIN reassembled r ON toks.doc_id = r.doc_id
LEFT JOIN stats st ON toks.doc_id = st.doc_id
""",
)
def corpus_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring removal over the documents table.

    ExactSubstr (Lee et al. 2022) re-expressed without suffix arrays:
    sliding-window fingerprints + islands-and-gaps windows recover the
    maximal duplicated spans; see
    :func:`spk_sl_validation_spark.ext.text.substring_dedup` for the
    full semantics and the three-exchange scale shape. The reference
    has no corpus operators (SURVEY.md §2.6 scope extension).
    """
    from spk_sl_validation_spark.ext.text import substring_dedup

    # spread: window-fingerprint explode dominates; 3.28 -> 2.36 s (r11)
    docs = load_table_spread(spark, sf_dir, "documents")
    return substring_dedup(docs, "doc_id", "text", SUBSTR_W, SUBSTR_MIN_LEN)


_BOILERPLATE_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
spans AS (
  SELECT doc_id, CAST(i AS INTEGER) AS span_idx,
         array_to_string(list_slice(t, i * {SPAN_W} + 1, i * {SPAN_W} + {SPAN_W}), ' ') AS span
  FROM toks, unnest(range(0, greatest(CAST(ceil(len(t) / {SPAN_W}.0) AS BIGINT), 1))) AS u(i)
),
hashed AS (
  SELECT doc_id, span_idx, span,
         CAST(('0x' || substr(md5(span), 1, 15)) AS BIGINT) AS h
  FROM spans
),
bp AS (SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}),
flagged AS (
  SELECT hashed.doc_id, hashed.span_idx, hashed.span, (bp.h IS NULL) AS kept
  FROM hashed LEFT JOIN bp ON hashed.h = bp.h
)
SELECT doc_id,
       coalesce(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE kept), '') AS clean_text,
       count(*) FILTER (WHERE kept) AS n_spans_kept,
       count(*) FILTER (WHERE NOT kept) AS n_spans_dropped
FROM flagged GROUP BY doc_id
"""


@register(
    "corpus_boilerplate_removal",
    doc=(
        f"CCNet-style boilerplate removal: an {SPAN_W}-word span occurring in "
        f">= {BP_MIN_DOCS} distinct documents is template noise and removed "
        "from EVERY document (vs span dedup, which keeps one owner copy). "
        "Census groupBy on the span hash -> tiny hash-only boilerplate set -> "
        "broadcast anti-join back; the corpus is never shuffled for the join"
    ),
    oracle=_BOILERPLATE_ORACLE,
)
def corpus_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span removal (the CCNet hashed-paragraph move at span
    granularity). See ext/text.py boilerplate_removal for semantics and
    the scale argument; the reference has no corpus operators (SURVEY.md
    SS2.6 extension)."""
    from spk_sl_validation_spark.ext.text import boilerplate_removal

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_removal(docs, "doc_id", "text", SPAN_W, BP_MIN_DOCS)


@register(
    "boilerplate_apply_indexed",
    doc=(
        "the production boilerplate lifecycle: census once into a persisted "
        "hash-only index artifact (here checkpointed to simulate the stored "
        "relation), then strip the batch against it — no per-batch corpus "
        "census. Oracle = corpus_boilerplate_removal's SQL verbatim: "
        "identical output is the claim"
    ),
    oracle=_BOILERPLATE_ORACLE,
)
def boilerplate_apply_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-apply split of corpus_boilerplate_removal (same artifact
    lifecycle as dedup_index_tables / bm25_index_tables). The eager
    localCheckpoint stands in for reading the persisted census."""
    from spk_sl_validation_spark.ext.text import apply_boilerplate_index, boilerplate_index

    docs = load_table(spark, sf_dir, "documents")
    index = boilerplate_index(docs, "doc_id", "text", SPAN_W, BP_MIN_DOCS).localCheckpoint(
        eager=True
    )
    return apply_boilerplate_index(docs, index, "doc_id", "text", SPAN_W)


OVERLAP_N = 8  # shingle width for cross-source containment


@register(
    "corpus_source_overlap",
    doc=(
        f"corpus governance: cross-source content overlap matrix — distinct "
        f"shared {OVERLAP_N}-gram count and Jaccard per source pair (which "
        "sources copy from each other / share boilerplate). Distinct (source, "
        "gram-hash) rows, hash-keyed self-join, per-pair aggregate"
    ),
    oracle=f"""
WITH g AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(t) - {OVERLAP_N - 1}, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + {OVERLAP_N - 1}), ' '))) AS s
    FROM (SELECT source, {_TOKS} AS t FROM documents)
  )
),
tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(ta.n + tb.n - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN tot ta ON ta.source = s.source_a
JOIN tot tb ON tb.source = s.source_b
""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share content — the corpus-governance view that
    decides per-source dedup priority and mixture down-weighting
    (mirror sites, syndicated feeds, license boilerplate).

    Scale shape: the gram build is a narrow per-row map; distinct
    (source, gram-hash) collapses each source's shingle multiset
    before anything wide happens (one shuffle on the pair); the
    self-join is keyed on the 60-bit hash — uniformly distributed —
    and the per-source totals are a tiny broadcast. The matrix itself
    is at most |sources|² rows.
    """
    from spk_sl_validation_spark.ext.hashing import md5_long, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # word_shingles consumes a token-array column — pre-tokenize first
    grams = (
        docs.select("source", ws_tokens("text").alias("t"))
        .select("source", F.explode(word_shingles("t", OVERLAP_N)).alias("s"))
        .select("source", md5_long("s").alias("h"))
        .distinct()
    )
    tot = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("source").alias("source_a"), "h")
    b = grams.select(F.col("source").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n").alias("__na")))
    tb = F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n").alias("__nb")))
    return (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


def _datasheet_oracle() -> str:
    from spk_sl_validation_spark.plans.text_queries import _TOKS, _Z

    return rf"""
WITH per_doc AS (
  SELECT doc_id, lang,
         len({_TOKS}) AS n_tokens,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         CAST(round(1.0 / (1.0 + exp(-({_Z}))), 12) AS DECIMAL(28,12)) AS q12
  FROM documents
),
agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(n_tokens) AS DOUBLE) AS total_tokens,
         CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
         1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*) AS exact_dup_rate,
         round(CAST(sum(q12) AS DOUBLE) / count(*), 6) AS mean_quality_prob,
         round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS mean_doc_tokens
  FROM per_doc
)
SELECT m.metric, m.value FROM agg,
LATERAL (VALUES ('n_docs', n_docs), ('total_tokens', total_tokens),
                ('n_langs', n_langs), ('exact_dup_rate', exact_dup_rate),
                ('mean_quality_prob', mean_quality_prob),
                ('mean_doc_tokens', mean_doc_tokens)) AS m(metric, value)
"""


@register(
    "corpus_datasheet",
    doc=(
        "one-scan dataset datasheet (the summary a published corpus ships): "
        "doc/token counts, language count, exact-duplicate rate (distinct "
        "fingerprints), mean quality-model score, mean doc length — one "
        "aggregate over one corpus scan, emitted long-format"
    ),
    oracle=_datasheet_oracle(),
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.text import md5_fingerprint, quality_model_prob, ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(ws_tokens("text")).alias("n_tokens"),
        md5_fingerprint("text").alias("fp"),
        F.round(quality_model_prob("text"), 12).cast("decimal(28,12)").alias("q12"),
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.count_distinct("lang").cast("double").alias("n_langs"),
        (
            F.lit(1.0)
            - F.count_distinct("fp").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("exact_dup_rate"),
        F.round(
            F.sum("q12").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_quality_prob"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_doc_tokens"),
    )
    metrics = (
        "n_docs", "total_tokens", "n_langs",
        "exact_dup_rate", "mean_quality_prob", "mean_doc_tokens",
    )
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    return agg.selectExpr(f"stack({len(metrics)}, {stack}) AS (metric, value)")


NOVELTY_N = 3  # shingle width for marginal-novelty attribution


@register(
    "ngram_novelty",
    doc=(
        f"marginal-novelty attribution: sources in lexicographic ingest order; "
        f"a distinct {NOVELTY_N}-gram is credited to the first (min-source) "
        "owner, giving each source's novel-gram count, novelty rate, and the "
        "cumulative corpus coverage curve — the diminishing-returns report "
        "that decides whether ingesting the next crawl snapshot is worth it. "
        "Two hash aggregates (gram-hash, then source); the curve relation is "
        "|sources| rows"
    ),
    oracle=f"""
WITH g AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(t) - {NOVELTY_N - 1}, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + {NOVELTY_N - 1}), ' '))) AS s
    FROM (SELECT source, {_TOKS} AS t FROM documents)
  )
),
d AS (SELECT source, count(*) AS n_distinct_grams FROM g GROUP BY source),
own AS (SELECT h, min(source) AS source FROM g GROUP BY h),
nov AS (SELECT source, count(*) AS n_novel_grams FROM own GROUP BY source)
SELECT d.source,
       d.n_distinct_grams,
       CAST(coalesce(nov.n_novel_grams, 0) AS BIGINT) AS n_novel_grams,
       round(CAST(coalesce(nov.n_novel_grams, 0) AS DOUBLE)
           / CAST(d.n_distinct_grams AS DOUBLE), 6) AS novelty_rate,
       CAST(SUM(coalesce(nov.n_novel_grams, 0))
            OVER (ORDER BY d.source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_novel_grams,
       round(CAST(SUM(coalesce(nov.n_novel_grams, 0))
                  OVER (ORDER BY d.source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
           / CAST(SUM(coalesce(nov.n_novel_grams, 0)) OVER () AS DOUBLE), 6) AS corpus_coverage
FROM d LEFT JOIN nov ON nov.source = d.source
""",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source marginal novel-gram contribution + coverage curve.

    Scale shape: the gram build is a narrow map; distinct
    (source, gram-hash) collapses per-source multisets on one shuffle;
    first-ownership is a single ``min(source)`` hash aggregate keyed on
    the 60-bit gram hash (uniform — no skew); everything after runs on
    an |sources|-row relation, so the ordered windows are free. No
    self-join, no corpus-sized broadcast, no driver state.
    """
    from spk_sl_validation_spark.ext.hashing import md5_long, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("source", ws_tokens("text").alias("t"))
        .select("source", F.explode(word_shingles("t", NOVELTY_N)).alias("s"))
        .select("source", md5_long("s").alias("h"))
        .distinct()
    )
    d = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct_grams"))
    nov = (
        grams.groupBy("h")
        .agg(F.min("source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_novel_grams"))
    )
    joined = d.join(F.broadcast(nov), "source", "left").select(
        "source",
        "n_distinct_grams",
        F.coalesce("n_novel_grams", F.lit(0)).cast("long").alias("n_novel_grams"),
    )
    w_cum = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return joined.select(
        "source",
        "n_distinct_grams",
        "n_novel_grams",
        F.round(
            F.col("n_novel_grams").cast("double") / F.col("n_distinct_grams").cast("double"), 6
        ).alias("novelty_rate"),
        F.sum("n_novel_grams").over(w_cum).cast("long").alias("cum_novel_grams"),
        F.round(
            F.sum("n_novel_grams").over(w_cum).cast("double")
            / F.sum("n_novel_grams").over(w_all).cast("double"),
            6,
        ).alias("corpus_coverage"),
    )


@register(
    "ingest_novelty_batch",
    doc=(
        "ingest decision report: every 5th doc plays a fresh crawl batch; "
        "per batch doc, distinct-trigram count, count NOT present anywhere "
        "in the existing corpus, and novelty rate — the is-this-snapshot-"
        "worth-ingesting measure that pairs with dedup_incremental. One "
        "distinct-gram shuffle + one left join on the 60-bit gram hash "
        "(corpus side pre-collapsed to distinct hashes)"
    ),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
  )
),
corpus AS (SELECT DISTINCT h FROM g WHERE doc_id % 5 <> 0),
batch AS (SELECT doc_id, h FROM g WHERE doc_id % 5 = 0)
SELECT b.doc_id,
       count(*) AS n_grams,
       count(*) FILTER (WHERE c.h IS NULL) AS n_novel,
       round(CAST(count(*) FILTER (WHERE c.h IS NULL) AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
FROM batch b LEFT JOIN corpus c ON b.h = c.h
GROUP BY b.doc_id
""",
)
def ingest_novelty_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novel-gram fraction of a fresh batch vs the corpus.

    Scale shape: distinct (doc, gram-hash) rows once for everyone; the
    corpus side collapses to distinct hashes (uniform 60-bit key)
    before the membership join, which is a shuffle-hash equi-join on
    that key — at 100 TB the corpus set is the persisted dedup index's
    shingle table, so the batch pays one probe join proportional to
    batch size (same asymmetry as dedup_incremental_indexed).
    """
    from spk_sl_validation_spark.ext.hashing import md5_long, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", ws_tokens("text").alias("t"))
        .select("doc_id", F.explode(word_shingles("t", 3)).alias("s"))
        .select("doc_id", md5_long("s").alias("h"))
        .distinct()
    )
    corpus = g.filter(F.col("doc_id") % 5 != 0).select("h").distinct()
    batch = g.filter(F.col("doc_id") % 5 == 0)
    joined = batch.join(
        corpus.withColumn("__in_corpus", F.lit(True)).hint("shuffle_hash"), "h", "left"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("__in_corpus").isNull(), 1)).alias("n_novel"),
        F.round(
            F.count(F.when(F.col("__in_corpus").isNull(), 1)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def _dedup_impact_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _verified_pairs_ctes

    return f"""
WITH {_verified_pairs_ctes()},
keepflag AS (
  SELECT d.doc_id, d.source, len({_TOKS}) AS n_tok, (v.id_b IS NULL) AS keep
  FROM documents d
  LEFT JOIN (SELECT DISTINCT id_b FROM verified) v ON d.doc_id = v.id_b
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       count(*) FILTER (WHERE keep) AS n_docs_kept,
       CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
       round(1.0 - CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n_tok) AS DOUBLE), 6) AS dropped_token_frac
FROM keepflag GROUP BY source
"""


@register(
    "dedup_impact_report",
    doc=(
        "corpus-governance impact accounting: per-source docs/tokens before "
        "and after near-dup dedup (the LSH->verify keep set), dropped-token "
        "share — the report that justifies the dedup budget and feeds the "
        "mixture re-weighting. Composed from the dedup keep relation + one "
        "token aggregate; oracle reuses the shared verified-pairs CTEs "
        "verbatim"
    ),
    oracle=_dedup_impact_oracle(),
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import dedup_corpus
    from spk_sl_validation_spark.plans.dedup_shared import JACCARD_TAU

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_corpus(docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU)
    joined = docs.join(keep.hint("shuffle_hash"), "doc_id").select(
        "source", "keep", F.size(ws_tokens("text")).alias("n_tok")
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count(F.when(F.col("keep"), 1)).alias("n_docs_kept"),
        F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).cast("long").alias(
            "n_tokens_kept"
        ),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).cast("double")
            / F.sum("n_tok").cast("double"),
            6,
        ).alias("dropped_token_frac"),
    )


def _quality_by_dup_oracle() -> str:
    from spk_sl_validation_spark.plans.dedup_shared import _verified_pairs_ctes
    from spk_sl_validation_spark.plans.text_queries import _Z

    return f"""
WITH {_verified_pairs_ctes()},
scored AS (
  SELECT d.doc_id, (v.id_b IS NULL) AS keep,
         CAST(round(1.0 / (1.0 + exp(-({_Z}))), 12) AS DECIMAL(28,12)) AS p12
  FROM documents d
  LEFT JOIN (SELECT DISTINCT id_b FROM verified) v ON d.doc_id = v.id_b
)
SELECT keep,
       count(*) AS n_docs,
       round(CAST(SUM(p12) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
       round(CAST(MIN(p12) AS DOUBLE), 6) AS min_quality,
       round(CAST(MAX(p12) AS DOUBLE), 6) AS max_quality
FROM scored GROUP BY keep
"""


@register(
    "quality_by_dup_status",
    doc=(
        "governance crosstab: quality-score statistics split by near-dup "
        "keep/drop status — answers whether dedup is removing low-value or "
        "high-value content (decides keep-best-quality vs keep-first "
        "survivorship). Exact decimal score sums per group; composes the "
        "shared verified-pairs CTEs with the logistic quality model"
    ),
    oracle=_quality_by_dup_oracle(),
)
def quality_by_dup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.ext.dedup import dedup_corpus
    from spk_sl_validation_spark.ext.text import quality_model_prob
    from spk_sl_validation_spark.plans.dedup_shared import JACCARD_TAU

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_corpus(docs, "doc_id", "text", jaccard_threshold=JACCARD_TAU)
    p = F.round(quality_model_prob("text"), 12).cast("decimal(28,12)")
    joined = docs.join(keep.hint("shuffle_hash"), "doc_id").select(
        "keep", p.alias("p12")
    )
    return joined.groupBy("keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("p12").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_quality"),
        F.round(F.min("p12").cast("double"), 6).alias("min_quality"),
        F.round(F.max("p12").cast("double"), 6).alias("max_quality"),
    )
