"""Empty-relation robustness: at 100 TB a legitimate filter (a fresh
batch with nothing new, a source with no documents, a graph with no
edges) produces an EMPTY input — every corpus operator must return an
empty, correctly-schemaed result instead of raising.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T


@pytest.fixture()
def empty_docs(spark):
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return spark.createDataFrame([], schema)


def test_span_and_boilerplate_empty(spark, empty_docs):
    from spk_sl_validation_spark.ext.text import boilerplate_removal, span_dedup

    out = span_dedup(empty_docs, "doc_id", "text")
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "clean_text", "n_spans_kept", "n_spans_dropped"}
    out = boilerplate_removal(empty_docs, "doc_id", "text")
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "clean_text", "n_spans_kept", "n_spans_dropped"}


def test_dedup_family_empty(spark, empty_docs):
    from spk_sl_validation_spark.ext.dedup import (
        dedup_clusters,
        dedup_corpus,
        duplicate_soft_weights,
    )

    assert dedup_corpus(empty_docs, "doc_id", "text").count() == 0
    assert dedup_clusters(empty_docs, "doc_id", "text").count() == 0
    out = duplicate_soft_weights(empty_docs, "doc_id", "text")
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id",
        "cluster_id",
        "cluster_size",
        "weight",
        "n_tokens",
        "eff_tokens",
    }


def test_triangles_empty(spark):
    from spk_sl_validation_spark.ext.graph import triangle_counts

    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.LongType())])
    out = triangle_counts(spark.createDataFrame([], schema))
    assert out.count() == 0
    assert set(out.columns) == {"node", "degree", "n_triangles", "clustering_coeff"}


@pytest.mark.parametrize("eps", [None, 1e-9])
def test_pagerank_empty(spark, eps):
    """No edges: an empty rank table, in both modes. The eps probe's
    max over no rows is NULL, which ends the loop after one iteration."""
    from spk_sl_validation_spark.ext.graph import ITERATIONS, pagerank

    edges = spark.createDataFrame([], "src string, dst string, w double")
    ranks, n_run = pagerank(edges, eps=eps)
    assert ranks.count() == 0
    assert ranks.columns == ["node", "rank"]
    assert n_run == (ITERATIONS if eps is None else 1)


@pytest.mark.parametrize("eps", [None, 1e-9])
def test_textrank_scores_empty(spark, empty_docs, eps):
    from spk_sl_validation_spark.ext.textrank import N_ITER, textrank_scores

    scores, n_run = textrank_scores(empty_docs, "doc_id", "text", eps=eps)
    assert scores.count() == 0
    assert scores.columns == ["tok", "score"]
    assert n_run == (N_ITER if eps is None else 1)
