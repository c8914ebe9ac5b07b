"""Semantic checks for the second-half round-4 curation additions:
temperature mixture weights, tokenizer fertility, n-gram novelty.

The DuckDB value-hash parity is covered by the driver contract /
self-check; these tests pin the *semantics* (invariants that must hold
on any corpus) so a refactor cannot silently keep hash-parity with a
wrong oracle.
"""

from __future__ import annotations

import math

from spk_sl_validation_spark.plans.assembly_queries import mixture_temperature
from spk_sl_validation_spark.plans.corpus_queries import ngram_novelty
from spk_sl_validation_spark.plans.text_queries import tokenizer_fertility


def test_mixture_temperature_invariants(spark, sf_dir):
    rows = {r["source"]: r for r in mixture_temperature(spark, sf_dir).collect()}
    assert rows, "no sources"
    # probabilities normalize (up to the 1e-6 rounding of each term)
    assert math.isclose(sum(r["p_temp"] for r in rows.values()), 1.0, abs_tol=1e-4)
    assert math.isclose(sum(r["p_raw"] for r in rows.values()), 1.0, abs_tol=1e-4)
    # temperature flattens: smallest source gains share, largest loses
    smallest = min(rows.values(), key=lambda r: r["n_tokens"])
    largest = max(rows.values(), key=lambda r: r["n_tokens"])
    assert smallest["p_temp"] > smallest["p_raw"]
    assert largest["p_temp"] < largest["p_raw"]
    assert smallest["upsampled"] and not largest["upsampled"]
    # epochs = target / n_tokens (to rounding)
    for r in rows.values():
        assert math.isclose(
            r["epochs"], r["target_tokens"] / r["n_tokens"], rel_tol=1e-3, abs_tol=1e-5
        )
    # flattening is monotone: ordering by p_temp == ordering by n_tokens
    by_tokens = sorted(rows, key=lambda s: (rows[s]["n_tokens"], s))
    by_ptemp = sorted(rows, key=lambda s: (rows[s]["p_temp"], rows[s]["n_tokens"], s))
    assert by_tokens == by_ptemp


def test_tokenizer_fertility_invariants(spark, sf_dir):
    rows = tokenizer_fertility(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a BPE-ish segmentation never merges across whitespace, so it
        # produces at least one token per whitespace word on any corpus
        assert r["sum_bpe_tokens"] >= r["sum_words"]
        assert r["fertility"] >= 1.0
        # chars/word includes the separating spaces' absence: every word
        # has >= 1 char, so the ratio is >= 1
        assert r["chars_per_word"] >= 1.0
        assert r["chars_per_bpe_token"] > 0.0
        assert math.isclose(
            r["fertility"], r["sum_bpe_tokens"] / r["sum_words"], rel_tol=1e-5, abs_tol=1e-6
        )


def test_ngram_novelty_invariants(spark, sf_dir):
    rows = sorted(ngram_novelty(spark, sf_dir).collect(), key=lambda r: r["source"])
    assert rows
    # every distinct gram is credited exactly once: the novel counts sum
    # to the final cumulative value, and coverage ends at 1.0
    assert rows[-1]["cum_novel_grams"] == sum(r["n_novel_grams"] for r in rows)
    assert math.isclose(rows[-1]["corpus_coverage"], 1.0, abs_tol=1e-6)
    # the lexicographically-first source owns everything it contains
    assert rows[0]["n_novel_grams"] == rows[0]["n_distinct_grams"]
    assert math.isclose(rows[0]["novelty_rate"], 1.0, abs_tol=1e-6)
    # cumulative is monotone non-decreasing and novel <= distinct per row
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_novel_grams"] >= prev["cum_novel_grams"]
    for r in rows:
        assert 0 <= r["n_novel_grams"] <= r["n_distinct_grams"]


def test_hybrid_rrf_invariants(spark, sf_dir):
    from spk_sl_validation_spark.plans.retrieval_queries import (
        RRF_K,
        RRF_POOL,
        RRF_TOP_K,
        hybrid_rrf_retrieval,
    )

    rows = hybrid_rrf_retrieval(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert len(rs) <= RRF_TOP_K
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        # fused scores are non-increasing in rank and bounded by the
        # two-ranker maximum 2/(K+1)
        scores = [r["rrf_score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(0.0 < s <= 2.0 / (RRF_K + 1) + 1e-9 for s in scores)
        for r in rs:
            # every fused doc came from at least one pool, with a valid rank
            assert (r["bm25_rnk"] is not None) or (r["cos_rnk"] is not None)
            for c in ("bm25_rnk", "cos_rnk"):
                if r[c] is not None:
                    assert 1 <= r[c] <= RRF_POOL
        # a doc at rank 1 in BOTH pools must be the fused winner
        both_first = [
            r for r in rs if r["bm25_rnk"] == 1 and r["cos_rnk"] == 1
        ]
        if both_first:
            assert both_first[0]["rnk"] == 1


def test_prefix_join_equals_exact_allpairs(spark, sf_dir):
    """Prefix filtering is lossless: identical pair set + jaccard values
    as the naive exact shingle self-join, on real testdata."""
    from spk_sl_validation_spark.ext.dedup import jaccard_join_prefix, ngram_jaccard_pairs
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, "doc_id").collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_join_prefix(docs, "doc_id").collect()
    }
    assert pref == exact
    assert exact, "testdata should produce at least one qualifying pair"


def test_prefix_join_lossless_on_boundary_sets(spark):
    """Hand-built boundary cases: identical sets (J=1), J exactly at the
    0.5 threshold, just-below-threshold, and disjoint sets."""
    from spk_sl_validation_spark.ext.dedup import jaccard_join_prefix, ngram_jaccard_pairs

    rows = [
        # docs 1/2 identical -> J = 1.0
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        # docs 3/4: engineered 8-gram overlap of the 3-gram sets
        (3, "p q r s t u v w x y"),
        (4, "p q r s t u v w x z"),
        # doc 5 disjoint
        (5, "m n o mm nn oo mmm nnn ooo mo"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, "doc_id").collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_join_prefix(df, "doc_id").collect()
    }
    assert pref == exact
    assert (1, 2, 1.0) in pref
    assert all(a != 5 and b != 5 for a, b, _ in pref)


def test_threshold_sweep_monotone(spark, sf_dir):
    from spk_sl_validation_spark.plans.dedup_queries import (
        SWEEP_THRESHOLDS,
        dedup_threshold_sweep,
    )

    rows = {r["threshold"]: r for r in dedup_threshold_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(SWEEP_THRESHOLDS)
    ts = sorted(rows)
    # raising the threshold can only shrink the pair set and the
    # affected-doc set
    for lo, hi in zip(ts, ts[1:]):
        assert rows[hi]["n_pairs"] <= rows[lo]["n_pairs"]
        assert rows[hi]["n_docs_affected"] <= rows[lo]["n_docs_affected"]
    for r in rows.values():
        # each qualifying pair touches 2 docs; distinct docs <= 2*pairs
        assert r["n_docs_affected"] <= 2 * r["n_pairs"]


def test_threshold_sweep_matches_exact_pairs(spark, sf_dir):
    from spk_sl_validation_spark.ext.dedup import ngram_jaccard_pairs
    from spk_sl_validation_spark.plans.dedup_queries import dedup_threshold_sweep
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact_05 = ngram_jaccard_pairs(docs, "doc_id", "text", 0.5).count()
    rows = {r["threshold"]: r for r in dedup_threshold_sweep(spark, sf_dir).collect()}
    assert rows[0.5]["n_pairs"] == exact_05


def test_vocab_oov_invariants(spark, sf_dir):
    from spk_sl_validation_spark.plans.text_queries import vocab_oov_rate

    rows = vocab_oov_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0
        # OOV tokens imply OOV terms and vice versa
        assert (r["n_oov"] > 0) == (r["n_oov_terms"] > 0)


def test_mmr_matches_python_reference(spark, sf_dir):
    """Full selection order must match an independent in-Python greedy
    MMR over the same pool (exact ordered-fold cosine arithmetic)."""
    from spk_sl_validation_spark.ext.similarity import MMR_LAM
    from spk_sl_validation_spark.plans.similarity_queries import (
        MMR_K,
        MMR_POOL,
        embedding_mmr_select,
    )
    from spk_sl_validation_spark.sources.readers import load_table

    emb = {r["vec_id"]: r["embedding"] for r in load_table(spark, sf_dir, "embeddings").collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def cos(a, b):
        import math

        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    probe = emb[0]
    rel = {i: cos(probe, v) for i, v in emb.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_POOL]
    picked: list[int] = []
    for _ in range(MMR_K):
        best = max(
            (i for i in pool if i not in picked),
            key=lambda i: (
                MMR_LAM * rel[i]
                - (1.0 - MMR_LAM)
                * max((cos(emb[i], emb[j]) for j in picked), default=0.0),
                -i,
            ),
        )
        picked.append(best)

    got = sorted(embedding_mmr_select(spark, sf_dir).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in got] == picked
    for r in got:
        assert abs(r["rel"] - rel[r["vec_id"]]) < 1e-12


def test_incremental_prefix_lossless(spark, sf_dir):
    """One-sided prefix filtering finds exactly the naive exact
    batch-vs-corpus pair set (computed here without any pruning)."""
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.dedup import jaccard_incremental_prefix
    from spk_sl_validation_spark.ext.hashing import shingle_rows
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    got = {
        (r["id_batch"], r["id_corpus"], round(r["jaccard"], 9))
        for r in jaccard_incremental_prefix(batch, corpus, "doc_id").collect()
    }

    sh_b = shingle_rows(batch, "doc_id", "text", 3).distinct()
    sh_c = shingle_rows(corpus, "doc_id", "text", 3).distinct()
    nb = {r["doc_id"]: r["n"] for r in sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    nc = {r["doc_id"]: r["n"] for r in sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    inter = (
        sh_b.withColumnRenamed("doc_id", "id_batch")
        .join(sh_c.withColumnRenamed("doc_id", "id_corpus"), "s")
        .groupBy("id_batch", "id_corpus")
        .agg(F.count(F.lit(1)).alias("i"))
        .collect()
    )
    want = set()
    for r in inter:
        j = r["i"] / (nb[r["id_batch"]] + nc[r["id_corpus"]] - r["i"])
        if j >= 0.5:
            want.add((r["id_batch"], r["id_corpus"], round(j, 9)))
    assert got == want
    assert want, "testdata should produce at least one qualifying pair"


def test_rate_limit_semantics(spark, sf_dir):
    from pyspark.sql import functions as F

    from spk_sl_validation_spark.ext.events import rate_limit_accept
    from spk_sl_validation_spark.sources.readers import load_table

    CAP, RATE = 3.0, 0.01
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = rate_limit_accept(ev, CAP, RATE).collect()
    assert out
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        # bucket stays within [0, cap]
        for r in rows:
            assert -1e-9 <= r["tokens_after"] <= CAP + 1e-9
        # first event always admitted from a full bucket (cap >= 1)
        assert rows[0]["accepted"] is True
        assert abs(rows[0]["tokens_after"] - (CAP - 1.0)) < 1e-9
        # a rejection means the bucket was below 1 token; the NEXT
        # event can only be admitted after enough refill time
        for prev, cur in zip(rows, rows[1:]):
            if not prev["accepted"] and cur["accepted"]:
                dt = (cur["ts"] - prev["ts"]).total_seconds()
                assert prev["tokens_after"] + dt * RATE >= 1.0 - 1e-9


def test_rate_limit_burst_then_starve(spark):
    """Hand-built timeline: a 5-event burst against cap=2 admits the
    first two and rejects the rest; after a long refill gap the bucket
    readmits (clamped at cap)."""
    import datetime as dt

    from spk_sl_validation_spark.ext.events import rate_limit_accept

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(i, 1, t0 + dt.timedelta(seconds=i)) for i in range(5)]
    rows.append((99, 1, t0 + dt.timedelta(hours=2)))  # long gap: full refill
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r for r in rate_limit_accept(df, 2.0, 0.01).collect()}
    assert [got[i]["accepted"] for i in range(5)] == [True, True, False, False, False]
    assert got[99]["accepted"] is True
    # 2h * 0.01/s >> cap: bucket was clamped to cap before spending
    assert abs(got[99]["tokens_after"] - 1.0) < 1e-9
