"""TextRank (ext/textrank.py): PageRank invariants on the real corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.textrank import textrank_keywords, textrank_scores
from spk_sl_validation_spark.sources.readers import load_table


def test_textrank_conserves_total_mass(spark, sf_dir):
    """With a symmetric graph (no dangling nodes) every node
    redistributes exactly its own score, so sum(scores) stays n after
    ANY number of iterations: sum' = 0.15*n + 0.85*sum."""
    docs = load_table(spark, sf_dir, "documents")
    scores, _ = textrank_scores(docs, n_iter=2)
    n = scores.count()
    total = scores.agg(F.sum("score")).first()[0]
    assert abs(total - n) < 1e-6 * n


def test_textrank_keywords_ranked_and_positive(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = textrank_keywords(docs, n_iter=2, top_k=10).orderBy("rank").collect()
    assert len(rows) == 10
    assert all(r.score > 0 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
