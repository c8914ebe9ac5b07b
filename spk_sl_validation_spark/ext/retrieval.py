r"""Sparse (lexical) retrieval primitives: Okapi BM25 ranking, direct
or against a prebuilt inverted index.

The retrieval shape a training-data pipeline needs for eval-set
curation and targeted decontamination: given a handful of queries,
rank the corpus by BM25 and keep the top-k per query. Design:

- the exploded token stream is filtered to the query-term set BEFORE
  the tf shuffle — the wide exchange carries only (doc, query-term)
  rows, the inverted-index-build shape, never the full token stream;
- document frequencies, the query set, and the 1-row corpus stats
  all ride broadcast joins;
- document length is grouped through the tf aggregation (it is
  functionally dependent on the doc id), so the corpus is never
  joined back.

For repeated query batches the tokenization cost amortizes into a
persisted index (:func:`bm25_index_tables`): postings
(doc, dl, term, tf), the per-term df materialized aggregate, and a
1-row (n_docs, sum_dl) stats table. Query time then touches no text
at all — postings filtered by query term (written bucketed/sorted by
``term``, that filter prunes at the scan) feed the same scoring tail.
:func:`merge_into_bm25_index` folds a new document batch in with
pure unions/sums (no index rebuild), the same artifact lifecycle as
``ext/dedup.py dedup_index_tables / merge_into_dedup_index``.

Float discipline (house pattern): per-term partials are rounded to
12 decimals and accumulated as DECIMAL(28,12), making the
cross-engine/cross-plan sum order-independent; the final score is
rounded to 6. The index path stores exact-integer ``sum_dl`` (not
avgdl), so its ``avgdl`` double is bit-identical to the direct
path's and both paths return exactly equal rows (pinned by
``tests/test_retrieval.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.hashing import ws_tokens

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60  # standard reciprocal-rank-fusion constant (Cormack et al. 2009)


def _query_terms_df(docs_or_any: DataFrame, queries: Sequence[tuple[int, str]]) -> DataFrame:
    # Deduped (qid, term) pairs: a repeated term in one query must join
    # the tf stream once, not double-count its BM25 partial.
    return docs_or_any.sparkSession.createDataFrame(
        sorted({(qid, term) for qid, text in queries for term in text.split(" ")}),
        "query_id int, term string",
    )


def _score_and_rank(
    tf: DataFrame,
    qterm: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    id_col: str,
    top_k: int,
) -> DataFrame:
    """Shared BM25 scoring tail: ``tf`` is (id, dl, term, tf) already
    restricted to query terms; ``dfreq`` is (term, df); ``stats`` is
    one row (n_docs, avgdl)."""
    k1, b = BM25_K1, BM25_B
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    partial = (
        idf
        * (tf_d * (k1 + 1.0))
        / (tf_d + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(qterm), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            id_col,
            F.round(partial, 12).cast("decimal(28,12)").alias("s"),
        )
    )
    total = scored.groupBy("query_id", id_col).agg(F.sum("s").alias("sc"))
    w = Window.partitionBy("query_id").orderBy(F.col("sc").desc(), F.col(id_col).asc())
    return (
        total.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            "query_id",
            id_col,
            F.round(F.col("sc").cast("double"), 6).alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def bm25_rank(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Top-``top_k`` documents per query under Okapi BM25 (``k1 =
    BM25_K1``, ``b = BM25_B``) with the standard +1-smoothed idf:

        idf(t)     = ln(1 + (N − df + 0.5) / (df + 0.5))
        score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    ``queries`` is a small in-memory list of (query_id, whitespace
    query text); terms should be unique within a query. Returns
    (query_id, doc_id, score, rnk) with a deterministic
    (score DESC, id ASC) tiebreak.
    """
    qterm = _query_terms_df(docs, queries)
    query_terms = sorted({t for _, text in queries for t in text.split(" ")})

    toks = ws_tokens(text_col)
    tok = docs.select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term")
    ).filter(F.col("term").isin(query_terms))
    tf = tok.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(toks)).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return _score_and_rank(tf, qterm, dfreq, stats, id_col, top_k)


def bm25_index_tables(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persistable BM25 index artifacts from a corpus:

    - ``postings``: (id, dl, term, tf) — the inverted index. Write it
      bucketed/sorted by ``term`` so query-time term filters prune at
      the scan (`sources/sinks.py write_bucketed`).
    - ``df_tbl``: (term, df) — vocab-bounded materialized aggregate,
      derivable from postings but kept so query time skips the
      full-postings df pass.
    - ``stats``: one row (n_docs, sum_dl) — exact integers, so the
      avgdl derived at query time is bit-identical to the direct
      path's.
    """
    toks = ws_tokens(text_col)
    postings = (
        docs.select(F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("sum_dl"),
    )
    return postings, df_tbl, stats


def bm25_rank_indexed(
    queries: Sequence[tuple[int, str]],
    postings: DataFrame,
    df_tbl: DataFrame,
    stats: DataFrame,
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """BM25 against prebuilt :func:`bm25_index_tables` artifacts —
    query time reads no document text. Returns exactly the rows
    :func:`bm25_rank` returns on the indexed corpus (equal floats:
    both paths round identically and avgdl derives from the same
    exact integers)."""
    qterm = _query_terms_df(postings, queries)
    query_terms = sorted({t for _, text in queries for t in text.split(" ")})
    tf = postings.filter(F.col("term").isin(query_terms))
    dfreq = df_tbl.filter(F.col("term").isin(query_terms))
    st = stats.select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    return _score_and_rank(tf, qterm, dfreq, st, id_col, top_k)


def bm25_doc_term_counts(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document distinct-term count (doc_id, nd) — the binary-
    term-vector norm² the hybrid-RRF cosine arm needs. Postings carry
    one row per distinct (doc, term), so this is a pure count.

    Materialize it ONCE at index-build time: computing nd at query
    time forces a full-vocabulary postings scan per query batch (the
    one corpus-wide pass `hybrid_rrf_retrieval`'s docstring documents
    as its floor). As a persisted artifact it is doc-count-sized,
    mergeable under `merge_into_bm25_index` semantics (new disjoint
    docs append), and query time then touches only term-pruned
    postings + broadcast-sized side tables.
    """
    return postings.groupBy(id_col).agg(F.count(F.lit(1)).alias("nd"))


def rrf_query_terms_df(docs_or_any: DataFrame, queries: Sequence[tuple[int, str]]) -> DataFrame:
    """Deduped (query_id, term, nq) rows for the RRF cosine arm.

    Set semantics throughout: a term repeated inside one query joins
    the doc-term relation ONCE (a per-token row would double-count the
    overlap) and ``nq`` is the DISTINCT term count, so the score is a
    true binary cosine |D∩Q| / sqrt(|D|·|Q|). Oracles must build the
    same deduped literal.
    """
    return docs_or_any.sparkSession.createDataFrame(
        sorted(
            {
                (qid, t, len(set(text.split(" "))))
                for qid, text in queries
                for t in text.split(" ")
            }
        ),
        "query_id int, term string, nq int",
    )


def rrf_fuse(
    bm25_pool: DataFrame,
    cos_pool: DataFrame,
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (``1 / (RRF_K + rnk)`` per pool) of two
    (query_id, id, rnk) pools —
    the SINGLE fusion tail shared by the direct and indexed hybrid
    queries (they borrow each other's oracle verbatim, so the
    equality must be structural, not copy-paste).

    unionAll + one hash aggregate keyed (query_id, id) — no full-outer
    join, so no sort-merge fallback. Determinism: ranks are integers,
    each contribution is one double division, and a (query, doc) pair
    has at most two contributions — IEEE addition of two doubles is
    commutative, so the groupBy sum is order-independent.
    """

    def _c(r: str):
        return F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(r).cast("double"))

    contrib = bm25_pool.select(
        "query_id",
        id_col,
        _c("rnk").alias("c"),
        F.col("rnk").cast("long").alias("bm25_rnk"),
        F.lit(None).cast("long").alias("cos_rnk"),
    ).unionAll(
        cos_pool.select(
            "query_id",
            id_col,
            _c("rnk").alias("c"),
            F.lit(None).cast("long").alias("bm25_rnk"),
            F.col("rnk").cast("long").alias("cos_rnk"),
        )
    )
    fused = contrib.groupBy("query_id", id_col).agg(
        F.round(F.sum("c"), 6).alias("rrf_score"),
        F.max("bm25_rnk").cast("int").alias("bm25_rnk"),
        F.max("cos_rnk").cast("int").alias("cos_rnk"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w_f).cast("int"))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", id_col, "rrf_score", "bm25_rnk", "cos_rnk", "rnk")
    )


def hybrid_rrf_rank_indexed(
    queries: Sequence[tuple[int, str]],
    postings: DataFrame,
    df_tbl: DataFrame,
    stats: DataFrame,
    nd_tbl: DataFrame,
    id_col: str = "doc_id",
    pool: int = 20,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 pool and the binary-cosine
    coordinate-match pool, entirely from prebuilt index artifacts
    (:func:`bm25_index_tables` + :func:`bm25_doc_term_counts`) —
    query time reads no document text and runs no corpus-wide pass:
    every postings access is term-filtered (prunes at the scan when
    postings are written bucketed/sorted by term), nd comes from the
    materialized per-doc artifact, and both pools are skinny
    per-query top-``pool`` relations.

    Result-identical to the direct ``hybrid_rrf_retrieval`` shape:
    ranks are integers, each contribution is one double division
    rounded identically, and a (query, doc) pair has at most two
    contributions, so the fusion sum is order-independent.
    """
    bm25_pool = bm25_rank_indexed(
        queries, postings, df_tbl, stats, id_col, top_k=pool
    ).select("query_id", id_col, "rnk")

    qterm_n = rrf_query_terms_df(postings, queries)
    query_terms = sorted({t for _, text in queries for t in text.split(" ")})
    ov = (
        postings.filter(F.col("term").isin(query_terms))
        .select(id_col, "term")
        .join(F.broadcast(qterm_n), "term")
        .groupBy("query_id", id_col)
        .agg(F.max("nq").alias("nq"), F.count(F.lit(1)).alias("ov"))
    )
    cos_score = F.round(
        F.col("ov").cast("double") / F.sqrt((F.col("nd") * F.col("nq")).cast("double")),
        6,
    )
    w_cos = Window.partitionBy("query_id").orderBy(cos_score.desc(), F.col(id_col).asc())
    # df(term)-bounded relation (see plans/retrieval_queries.py): never
    # broadcast — shuffle_hash, with AQE upgrading small cases.
    cos_pool = (
        nd_tbl.join(ov.hint("shuffle_hash"), id_col)
        .withColumn("rnk", F.row_number().over(w_cos))
        .filter(F.col("rnk") <= pool)
        .select("query_id", id_col, "rnk")
    )
    return rrf_fuse(bm25_pool, cos_pool, id_col, top_k)


def merge_into_bm25_index(
    postings: DataFrame,
    df_tbl: DataFrame,
    stats: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nd_tbl: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Fold a batch of NEW documents (ids disjoint from the indexed
    corpus) into existing index artifacts without a rebuild: postings
    append, per-term df adds, stats adds — all exact-integer unions/
    sums, so the merged index is row-identical to indexing the
    concatenated corpus from scratch (pinned by test).

    The disjoint-ids precondition is ENFORCED: an overlapping id would
    silently produce duplicate postings and double-counted df/n_docs/
    sum_dl, corrupting every subsequent indexed score — so the merge
    runs one cheap eager probe (existing postings semi-joined against
    the broadcast new-id set, LIMIT 1) and raises ``ValueError`` on
    overlap rather than skewing scores. Merging is an infrequent batch
    op; one probe job is the right trade.

    When the hybrid-RRF artifact set is maintained, pass ``nd_tbl``
    (:func:`bm25_doc_term_counts`) and a merged fourth artifact is
    returned: ids are disjoint, so the per-doc term counts simply
    append (merge == rebuild, pinned by test).
    """
    new_p, new_df, new_st = bm25_index_tables(new_docs, id_col, text_col)
    overlap = (
        postings.select(id_col)
        .join(F.broadcast(new_docs.select(id_col).distinct()), id_col, "left_semi")
        .limit(1)
        .take(1)
    )
    if overlap:
        raise ValueError(
            f"merge_into_bm25_index: new_docs {id_col}={overlap[0][0]!r} already "
            "exists in the indexed corpus; merge requires disjoint ids "
            "(reindex or drop the overlapping documents first)"
        )
    postings2 = postings.unionByName(new_p)
    df2 = (
        df_tbl.unionByName(new_df)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats2 = (
        stats.unionByName(new_st)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
    )
    if nd_tbl is None:
        return postings2, df2, stats2
    nd2 = nd_tbl.unionByName(bm25_doc_term_counts(new_p, id_col))
    return postings2, df2, stats2, nd2


def remove_from_bm25_index(
    postings: DataFrame,
    df_tbl: DataFrame,
    stats: DataFrame,
    remove_ids: DataFrame,
    id_col: str = "doc_id",
    nd_tbl: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Delete documents from existing index artifacts without a
    rebuild — the re-crawl/churn half of the index lifecycle
    :func:`merge_into_bm25_index` opened. All three artifacts are
    sum-shaped, so deletion is a negated merge over the removed
    postings slice: postings anti-join, per-term df subtraction
    (zero-df terms dropped, matching a rebuild's vocabulary), stats
    minus the removed docs' exact (count, Σdl). Remove-then-merge of
    the same docs therefore reproduces the original index
    row-identically (pinned by test alongside merge == rebuild).

    Preconditions, ENFORCED the same way merge enforces disjointness
    (one cheap eager probe, LIMIT 1):

    - every remove id must exist in ``postings`` — subtracting an
      absent id would silently corrupt ``stats`` (n_docs/sum_dl drop
      for a doc that never contributed);
    - zero-token documents have no posting rows, so they cannot be
      removed through this path (they affect only n_docs; reindex to
      purge them) — the existence probe rejects them for the same
      reason.

    Join strategy: the ids side is shuffle_hash-hinted, not forced
    broadcast — a remove batch is usually small (AQE upgrades to
    broadcast when runtime stats confirm it) but nothing bounds it;
    a half-the-corpus purge must not OOM the driver (the same
    rationale as the stats-blinded joins in ext/dedup.py). df/stats
    deltas aggregate from the removed slice map-side. When
    maintaining the hybrid-RRF artifact set, pass ``nd_tbl`` for a
    fourth, anti-joined return.
    """
    ids = remove_ids.select(id_col).distinct().localCheckpoint(eager=False)
    removed = postings.join(ids.hint("shuffle_hash"), id_col, "left_semi").localCheckpoint(
        eager=True
    )
    # Existence probe WITHOUT a corpus-wide distinct: the removed slice
    # (already needed for the df/stats deltas, checkpointed so the semi
    # join runs once) covers an id iff it has postings — compare its
    # distinct-id count against the batch size and name a culprit only
    # on the failure path.
    present = removed.select(id_col).distinct()
    if present.count() != ids.count():
        missing = ids.join(present, id_col, "left_anti").limit(1).take(1)
        raise ValueError(
            f"remove_from_bm25_index: {id_col}={missing[0][0]!r} has no postings "
            "(not indexed, or a zero-token document); removal requires every id "
            "to exist in the index — reindex to purge empty documents"
        )
    postings2 = postings.join(ids.hint("shuffle_hash"), id_col, "left_anti")
    df_delta = removed.groupBy("term").agg(F.count(F.lit(1)).alias("df_rm"))
    df2 = (
        df_tbl.join(df_delta.hint("shuffle_hash"), "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("df_rm"), F.lit(0))).cast("long").alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    # dl repeats on every posting row of a doc; collapse to one row per
    # removed doc before summing
    # COALESCE the sum: an EMPTY remove batch (a churn filter that
    # matched nothing) yields SUM over zero rows = NULL, and
    # sum_dl - NULL would silently NULL the stats artifact
    st_delta = removed.select(id_col, "dl").distinct().agg(
        F.count(F.lit(1)).alias("n_rm"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dl_rm"),
    )
    stats2 = stats.crossJoin(F.broadcast(st_delta)).select(
        (F.col("n_docs") - F.col("n_rm")).cast("long").alias("n_docs"),
        (F.col("sum_dl") - F.col("dl_rm")).cast("long").alias("sum_dl"),
    )
    if nd_tbl is None:
        return postings2, df2, stats2
    nd2 = nd_tbl.join(ids.hint("shuffle_hash"), id_col, "left_anti")
    return postings2, df2, stats2, nd2


# ---------------------------------------------------------------------------
# Exact phrase search (round 10): the grep-shaped retrieval primitive
# a corpus team runs for targeted inspection and phrase-level
# decontamination ("find every document containing this exact quote").
# Two plan shapes for the same law:
#   - phrase_search: ONE narrow scan — per row, match positions via an
#     array HOF over the token array (O(n_tokens · phrase_len) per
#     doc, embarrassingly parallel, zero exchanges besides the final
#     nothing). Right for one-off sweeps: no index to build or store.
#   - phrase_search_indexed: positional postings (term, doc, pos) +
#     one adjacency join per extra phrase term, each keyed on
#     (doc, anchor_pos) AFTER filtering postings to the phrase's own
#     vocabulary — the repeated-query shape; a stopword anchor term
#     concentrates on a join key (AQE-splittable), never a window.
# ---------------------------------------------------------------------------


def _phrase_positions(tokens, terms: Sequence[str]):
    """1-based positions where ``terms`` matches ``tokens`` exactly
    (overlapping matches all count). Empty array when the doc is
    shorter than the phrase — sequence() would otherwise DESCEND."""
    k = len(terms)
    upper = F.size(tokens) - (k - 1)
    seq = F.when(upper >= 1, F.sequence(F.lit(1), upper)).otherwise(
        F.array().cast("array<int>")
    )

    def is_match(p):
        cond = F.element_at(tokens, p) == terms[0]
        for i, w in enumerate(terms[1:], 1):
            cond = cond & (F.element_at(tokens, p + i) == w)
        return cond

    return F.filter(seq, is_match)


def phrase_search(
    docs: DataFrame,
    phrases: Sequence[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(phrase_id, doc_id, n_matches, first_pos) for every document
    containing each whitespace-tokenized phrase at least once. ONE
    corpus scan for all phrases: per row an array of per-phrase match
    structs is built and exploded (the explode doubles as the
    evaluate-once barrier — each phrase's position array computes
    once, not once per consuming expression)."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    toks = ws_tokens(text_col)
    arr = F.array(
        *[
            F.struct(
                F.lit(int(pid)).alias("phrase_id"),
                _phrase_positions(toks, phrase.split()).alias("pos"),
            )
            for pid, phrase in phrases
        ]
    )
    m = (
        docs.select(F.col(id_col), F.explode(arr).alias("__m"))
        .select(id_col, "__m.phrase_id", "__m.pos")
        .filter(F.size("pos") > 0)
    )
    return m.select(
        "phrase_id",
        F.col(id_col),
        F.size("pos").cast("bigint").alias("n_matches"),
        F.element_at("pos", 1).cast("int").alias("first_pos"),
    )


def phrase_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings (term, doc, pos 1-based) — the persistable
    index relation :func:`phrase_search_indexed` queries. Same
    explode shape as the BM25 postings build."""
    return docs.select(
        F.col(id_col), F.posexplode(ws_tokens(text_col)).alias("__p", "term")
    ).select("term", id_col, (F.col("__p") + 1).cast("int").alias("pos"))


def phrase_search_indexed(
    postings: DataFrame,
    phrases: Sequence[tuple[int, str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """The indexed twin of :func:`phrase_search` — same output law
    (the registered query carries the direct path's oracle verbatim).
    Per phrase: filter postings to each term, then one join per extra
    term on (doc, anchor_pos + offset); matches groupBy-count per
    doc. Joins are hinted shuffle_hash — posting lists for stopword
    terms are too big to broadcast at corpus scale."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    outs = []
    for pid, phrase in phrases:
        terms = phrase.split()
        cur = (
            postings.filter(F.col("term") == terms[0])
            .select(id_col, "pos")
        )
        for i, w in enumerate(terms[1:], 1):
            nxt = (
                postings.filter(F.col("term") == w)
                .select(id_col, (F.col("pos") - i).alias("pos"))
            )
            cur = cur.join(nxt.hint("shuffle_hash"), [id_col, "pos"], "left_semi")
        outs.append(
            cur.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_matches"),
                F.min("pos").cast("int").alias("first_pos"),
            ).select(
                F.lit(int(pid)).alias("phrase_id"), id_col, "n_matches", "first_pos"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
