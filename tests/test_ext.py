"""Unit tests for the north-star extension operators (ext/)."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext import dedup as D
from spk_sl_validation_spark.ext import text as X
from spk_sl_validation_spark.ext.hashing import md5_long, word_shingles


def _py_md5_long(s: str, seed: int | None = None) -> int:
    if seed is not None:
        s = f"{s}#{seed}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_md5_long_matches_python(spark):
    rows = spark.range(1).select(
        md5_long(F.lit("abc")).alias("h"), md5_long(F.lit("abc"), seed=7).alias("hs")
    ).collect()[0]
    assert rows.h == _py_md5_long("abc")
    assert rows.hs == _py_md5_long("abc", 7)


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([Row(text="a b"), Row(text="a b c d")])
    sh = df.select(word_shingles("split(trim(text), '\\\\s+')", 3).alias("s")).collect()
    assert sh[0].s == ["a b"]
    assert sh[1].s == ["a b c", "b c d"]


def _py_perm(h: int, i: int) -> int:
    from spk_sl_validation_spark.ext.hashing import MERSENNE_61, perm_constants

    a, b, c = perm_constants(i)
    return (a * (h >> 30) + b * (h & ((1 << 30) - 1)) + c) % MERSENNE_61


def test_minhash_signature_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="w1 w2 w3 w4 w5")])
    sig = D.minhash_signatures(df, "doc_id", num_hashes=4).collect()[0].sig
    shingles = ["w1 w2 w3", "w2 w3 w4", "w3 w4 w5"]
    expected = [min(_py_perm(_py_md5_long(s), i) for s in shingles) for i in range(4)]
    assert sig == expected


def test_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words about spark catalyst optimizer plans"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=other)]
    )
    pairs = D.lsh_candidate_pairs(df, "doc_id").collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)


def test_lsh_hot_bucket_capped(spark):
    """A mass-boilerplate corpus (10k byte-identical docs → ONE band
    bucket per band) must complete with bounded per-bucket work: the
    cap keeps each bucket's ``max_bucket_size`` smallest ids, so the
    pair count is C(cap, 2) instead of C(10k, 2) ≈ 50M."""
    n, cap = 10_000, 64
    boiler = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("standard header boilerplate license text all rights reserved").alias("text"),
    )
    pairs = D.lsh_candidate_pairs(boiler, "doc_id", max_bucket_size=cap)
    rows = pairs.collect()
    assert len(rows) == cap * (cap - 1) // 2
    ids = {r.id_a for r in rows} | {r.id_b for r in rows}
    assert ids == set(range(cap))  # deterministic: smallest ids kept
    assert all(r.est_jaccard == 1.0 for r in rows)


def test_lsh_cap_no_extra_shuffle(spark):
    """The hot-bucket window shares the band-key exchange with the
    bucket aggregate — capping must not add an Exchange."""
    df = spark.createDataFrame([Row(doc_id=i, text=f"doc {i} words here and there") for i in range(5)])
    capped = D.lsh_candidate_pairs(df, "doc_id")
    uncapped = D.lsh_candidate_pairs(df, "doc_id", max_bucket_size=10**9)
    plan_c = capped._jdf.queryExecution().executedPlan().toString()
    plan_u = uncapped._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Exchange") == plan_u.count("Exchange")


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon"),
            Row(doc_id=3, text="zeta eta theta iota kappa lambda mu nu xi"),
        ]
    )
    pairs = D.simhash_near_dup_pairs(df, "doc_id").collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0
    assert (1, 3) not in found and (2, 3) not in found


def test_ngram_jaccard_exact_value(spark):
    # 5 tokens → 3 shingles each; texts share 2 of 4 distinct shingles.
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="x b c d e")]
    )
    pairs = D.ngram_jaccard_pairs(df, "doc_id", threshold=0.0).collect()
    assert len(pairs) == 1
    # shingles A: {abc,bcd,cde}; B: {xbc,bcd,cde} → |∩|=2, |∪|=4
    assert abs(pairs[0].jaccard - 0.5) < 1e-12


def test_exact_dup_groups_normalization(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello   World"),
            Row(doc_id=2, text="  hello world "),
            Row(doc_id=3, text="goodbye world"),
        ]
    )
    out = {r.doc_id: r for r in D.exact_dup_groups(df, "doc_id", "text").collect()}
    assert out[1].rep_id == 1 and out[2].rep_id == 1
    assert out[1].is_dup and out[2].is_dup and not out[3].is_dup


def test_quality_and_lang_id_bounds(spark):
    df = spark.createDataFrame(
        [Row(text="the cat and the dog in a house of cards is it for real")]
    )
    row = df.select(
        X.quality_score("text").alias("q"), X.lang_id("text").alias("lang")
    ).collect()[0]
    assert 0.0 <= row.q <= 1.0
    assert row.lang == "en"


def test_token_counts(spark):
    df = spark.createDataFrame([Row(text="ab cd, ef! 12")])
    row = df.select(
        X.token_count("text").alias("ws"), X.bpe_ish_token_count("text").alias("bpe")
    ).collect()[0]
    assert row.ws == 4
    # BPE-ish: ab / cd / , / ef / ! / 12
    assert row.bpe == 6


def test_nfc_normalize_text_semantics(spark):
    from spk_sl_validation_spark.ext.text import nfc_normalize_text

    rows = [
        (0, "café"),        # decomposed -> composed, 1 fewer char
        (1, "café"),          # already NFC -> unchanged
        (2, "plain"),
        (3, None),                 # NULL stays NULL, changed=false
        (4, ""),                   # empty unchanged
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in nfc_normalize_text(df).collect()}
    assert got[0].nfc_text == "café" and got[0].changed
    assert got[0].n_chars_before == 5 and got[0].n_chars_after == 4
    assert got[1].nfc_text == "café" and not got[1].changed
    assert not got[2].changed
    assert got[3].nfc_text is None and not got[3].changed
    assert not got[4].changed and got[4].n_chars_after == 0
    # idempotence: normalizing the output changes nothing
    out = nfc_normalize_text(
        spark.createDataFrame(
            [(0, got[0].nfc_text)], "doc_id long, text string"
        )
    ).first()
    assert not out.changed


def test_winnowing_guarantee_and_short_docs(spark):
    from spk_sl_validation_spark.ext.text import winnowing_fingerprints

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1
    rows = [
        (0, "one two " + shared + " three four five six seven"),
        (1, shared + " eight nine ten eleven twelve"),
        (2, "unrelated words only here nothing shared at all today"),
        (3, "tiny"),  # < k tokens: whole-doc shingle, one window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    # winnowing guarantee: a shared run of >= w+k-1 words shares >= 1 fp
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[2] & by_doc[0])
    assert len(by_doc[3]) == 1  # short doc: exactly one fingerprint
