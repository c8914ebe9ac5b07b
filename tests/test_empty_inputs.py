"""Empty-relation robustness: at 100 TB a legitimate filter (a fresh
batch with nothing new, a source with no documents, a graph with no
edges) produces an EMPTY input — every corpus operator must return an
empty, correctly-schemaed result instead of raising.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from spk_sl_validation_spark.ext import sketches as SK


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



def _side(t, e):
    return t.filter(t.event_type == e)


_A, _B = "(SELECT * FROM t WHERE event_type = 'a')", "(SELECT * FROM t WHERE event_type = 'b')"

#: name -> (sketch operator over frame t, its DuckDB twin over table t)
SKETCHES = {
    "hll_estimate": (lambda t: SK.hll_estimate(t, "user_id"), SK.hll_estimate_sql("t", "user_id")),
    "hll_estimate_by": (
        lambda t: SK.hll_estimate_by(t, "event_type", "user_id"),
        SK.hll_estimate_by_sql("t", "event_type", "user_id"),
    ),
    "hll_profile": (lambda t: SK.hll_profile(t, ["user_id"]), SK.hll_profile_sql("t", ["user_id"])),
    "cms_estimate_counts": (
        lambda t: SK.cms_estimate_counts(t, "user_id"),
        SK.cms_estimate_counts_sql("t", "user_id"),
    ),
    "kmv_jaccard": (
        lambda t: SK.kmv_jaccard(_side(t, "a"), "user_id", _side(t, "b"), "user_id"),
        SK.kmv_jaccard_sql(_A, "user_id", _B, "user_id"),
    ),
    "bloom_membership": (
        lambda t: SK.bloom_membership(_side(t, "a"), "user_id", t, "user_id"),
        SK.bloom_membership_sql(_A, "user_id", "t", "user_id"),
    ),
    "bottomk_sample_quantiles": (
        lambda t: SK.bottomk_sample_quantiles(t, "value", "user_id"),
        SK.bottomk_sample_quantiles_sql("t", "value", "user_id"),
    ),
}


@pytest.mark.parametrize("n_rows", [0, 6], ids=["empty", "all_null"])
@pytest.mark.parametrize("name", sorted(SKETCHES))
def test_sketch_empty_matches_twin(spark, assert_twin, name, n_rows):
    """No value to sketch — an empty frame, or one whose key column is
    all NULL: every sketch returns its twin's rows (an empty sketch,
    count 0 and NULL ratios) instead of raising."""
    pdf = pd.DataFrame(
        {
            "event_type": ["a", "b"] * (n_rows // 2),
            "user_id": pd.array([None] * n_rows, dtype="Int64"),
            "value": [float(i) for i in range(n_rows)],
        }
    )
    t = spark.createDataFrame(pdf, "event_type string, user_id long, value double")
    op, sql = SKETCHES[name]
    assert_twin(op(t), sql, t=pdf)
