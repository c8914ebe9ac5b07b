"""Directional containment (ext/dedup.containment_for_pairs) and the
fixed-weight logistic quality model (ext/text.quality_model_prob)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import dedup as D
from spk_sl_validation_spark.ext import text as X


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_containment_detects_doc_in_doc(spark):
    # B = 30 unique words; A = a verbatim 6-word run inside B.
    words = [f"w{i:02d}" for i in range(30)]
    big = " ".join(words)
    small = " ".join(words[10:16])
    docs = _docs(spark, [(1, small), (2, big)])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    [row] = D.containment_for_pairs(docs, pairs, "doc_id", "text").collect()
    # every 3-shingle of A appears in B; A has 4 shingles, B has 28
    assert row["cont_a_in_b"] == pytest.approx(1.0)
    assert row["cont_b_in_a"] == pytest.approx(4 / 28)
    # Jaccard under-scores the same pair by the size ratio
    [j] = D.ngram_jaccard_for_pairs(docs, pairs, "doc_id", "text").collect()
    assert j["jaccard"] == pytest.approx(4 / 28)
    assert j["jaccard"] < row["cont_a_in_b"]


def test_containment_symmetric_for_identical_docs(spark):
    text = "alpha beta gamma delta epsilon zeta"
    docs = _docs(spark, [(1, text), (2, text)])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    [row] = D.containment_for_pairs(docs, pairs, "doc_id", "text").collect()
    assert row["cont_a_in_b"] == pytest.approx(1.0)
    assert row["cont_b_in_a"] == pytest.approx(1.0)


def _py_model_prob(text: str) -> float:
    toks = text.strip().split()
    n_chars = float(len(text))
    n_tokens = float(len(toks))
    stop = sum(1 for t in toks if t in X.STOPWORDS) / n_tokens
    punct = sum(1 for ch in text.lower() if not ch.isalnum() and not ch.isspace()) / n_chars
    distinct = len(set(toks)) / n_tokens
    w = X.QUALITY_MODEL_WEIGHTS
    z = (
        w["bias"]
        + w["length"] * min(n_chars / 500.0, 1.0)
        + w["stopword"] * stop
        + w["punct"] * punct
        + w["distinct"] * distinct
    )
    return 1.0 / (1.0 + math.exp(-z))


def test_quality_model_matches_python(spark):
    good = "the quick brown fox and the lazy dog of a farm in the morning " * 8
    bad = "$$$ ### !!! @@@ %% ^^ && ** (( )) $$$ ### !!! " * 4
    docs = _docs(spark, [(1, good.strip()), (2, bad.strip())])
    got = {
        r["doc_id"]: r["p"]
        for r in docs.select("doc_id", X.quality_model_prob("text").alias("p")).collect()
    }
    assert got[1] == pytest.approx(_py_model_prob(good.strip()), abs=1e-9)
    assert got[2] == pytest.approx(_py_model_prob(bad.strip()), abs=1e-9)
    assert got[1] > 0.5 > got[2]
