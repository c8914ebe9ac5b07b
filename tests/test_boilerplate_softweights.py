"""Semantic golden tests for ext.text.boilerplate_removal
(corpus_boilerplate_removal) and ext.dedup.duplicate_soft_weights
(dedup_soft_weights).

The registry-wide differential test (test_queries.py) value-hashes both
registered queries against DuckDB at sf0.001; these tests pin the
*semantics* on hand-built corpora: boilerplate is removed EVERYWHERE
(vs span dedup's owner-keeps rule), the distinct-document threshold is
per-document not per-occurrence, and soft weights conserve cluster mass.
"""

from __future__ import annotations

from spk_sl_validation_spark.ext.dedup import duplicate_soft_weights
from spk_sl_validation_spark.ext.text import boilerplate_removal

W = 2  # two-word spans keep the fixtures readable


def _run(spark, rows, min_docs=3):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_removal(df, "doc_id", "text", span_w=W, min_docs=min_docs)
    return {r["doc_id"]: r for r in out.collect()}


def test_boilerplate_removed_everywhere_including_first_doc(spark):
    rows = [
        (1, "nav bar alpha beta"),
        (2, "nav bar gamma delta"),
        (3, "nav bar epsilon zeta"),
    ]
    got = _run(spark, rows, min_docs=3)
    # "nav bar" hits 3 distinct docs -> gone from ALL of them (span
    # dedup would have kept doc 1's copy).
    assert got[1]["clean_text"] == "alpha beta"
    assert got[2]["clean_text"] == "gamma delta"
    assert got[3]["clean_text"] == "epsilon zeta"
    for r in got.values():
        assert r["n_spans_kept"] == 1 and r["n_spans_dropped"] == 1


def test_below_threshold_spans_survive_everywhere(spark):
    # "nav bar" in only 2 docs < min_docs=3 -> not boilerplate.
    rows = [(1, "nav bar alpha beta"), (2, "nav bar gamma delta"), (3, "x y")]
    got = _run(spark, rows, min_docs=3)
    assert got[1]["clean_text"] == "nav bar alpha beta"
    assert got[2]["clean_text"] == "nav bar gamma delta"
    assert got[3]["clean_text"] == "x y"


def test_threshold_counts_distinct_docs_not_occurrences(spark):
    # "p q" occurs 3x but inside ONE document -> 1 distinct doc, kept.
    rows = [(1, "p q p q p q"), (2, "r s t u")]
    got = _run(spark, rows, min_docs=3)
    assert got[1]["clean_text"] == "p q p q p q"
    assert got[1]["n_spans_dropped"] == 0


def test_fully_boilerplate_doc_empties(spark):
    rows = [(1, "nav bar"), (2, "nav bar"), (3, "nav bar"), (4, "nav bar tail word")]
    got = _run(spark, rows, min_docs=3)
    for i in (1, 2, 3):
        assert got[i]["clean_text"] == "" and got[i]["n_spans_kept"] == 0
    assert got[4]["clean_text"] == "tail word"


def test_boilerplate_plan_shape(spark, sf_dir):
    """Census (two-phase distinct aggregate: 2 exchanges) + reassembly
    (1 exchange); the boilerplate set joins back as a BROADCAST — the
    corpus is never shuffled for the join. Two parquet scans is the
    honest minimum: materializing the corpus-scale span stream to save
    a scan would cost more than the scan at 100 TB."""
    import re

    from tools.dump_plans import plan_stats

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["corpus_boilerplate_removal"].builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    assert st["shuffle_exchanges"] <= 3, st
    assert st["sort_merge_joins"] == 0, st
    assert st["broadcast_hash_joins"] == 1, st
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", formatted))
    assert n_scans <= 2, f"corpus scanned {n_scans}x"


# ---------------------------------------------------------------------------
# duplicate_soft_weights
# ---------------------------------------------------------------------------

# Exact-duplicate pair (every MinHash band collides by construction —
# deterministic for a golden test) + a unique doc.
_NEAR_A = "the quick brown fox jumps over the lazy dog today again"
_NEAR_B = _NEAR_A
_UNIQUE = "completely different words that no other document carries here"


def _weights(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicate_soft_weights(df, "doc_id", "text")
    return {r["doc_id"]: r for r in out.collect()}


def test_soft_weights_cluster_mass_conserved(spark):
    got = _weights(spark, [(1, _NEAR_A), (2, _NEAR_B), (3, _UNIQUE)])
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == 1
    assert got[1]["cluster_size"] == got[2]["cluster_size"] == 2
    assert got[1]["weight"] == 0.5 and got[2]["weight"] == 0.5
    assert got[3]["cluster_size"] == 1 and got[3]["weight"] == 1.0
    # mass conservation: weights inside a cluster sum to exactly 1
    assert got[1]["weight"] + got[2]["weight"] == 1.0


def test_soft_weights_eff_tokens(spark):
    got = _weights(spark, [(1, _NEAR_A), (2, _NEAR_B), (3, _UNIQUE)])
    for r in got.values():
        assert r["n_tokens"] == len((_NEAR_A if r["doc_id"] == 1 else _NEAR_B if r["doc_id"] == 2 else _UNIQUE).split())
        assert r["eff_tokens"] == r["n_tokens"] / r["cluster_size"]


def test_soft_weights_all_unique_corpus_is_identity(spark):
    rows = [(i, f"unique{i} words{i} only{i} here{i} now{i}") for i in range(1, 6)]
    got = _weights(spark, rows)
    assert len(got) == 5
    for i, text in rows:
        assert got[i]["cluster_id"] == i
        assert got[i]["weight"] == 1.0
        assert got[i]["eff_tokens"] == float(len(text.split()))


# ---------------------------------------------------------------------------
# dataset_split_leakage_safe
# ---------------------------------------------------------------------------


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Exact duplicates (same cluster by construction) must land in the
    same split; unique docs must get exactly dataset_split's per-doc
    assignment (cluster_id == doc_id for singletons)."""
    from spk_sl_validation_spark.ext.dedup import dedup_clusters
    from spk_sl_validation_spark.ext.hashing import md5_long
    from pyspark.sql import functions as F

    dup = "the quick brown fox jumps over the lazy dog today again"
    rows = [(1, dup), (2, dup), (3, "completely different words that no other doc carries")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    clusters = dedup_clusters(df, "doc_id", "text")
    bucket = md5_long(F.col("cluster_id").cast("string")) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    got = {r["doc_id"]: r for r in clusters.select("doc_id", "cluster_id", split.alias("split")).collect()}
    assert got[1]["split"] == got[2]["split"]  # same cluster -> same split
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == 1
    # singleton: assignment equals the per-doc hash split
    per_doc = {
        r["doc_id"]: r["split"]
        for r in df.select(
            "doc_id",
            F.when(md5_long(F.col("doc_id").cast("string")) % 100 < 80, "train")
            .when(md5_long(F.col("doc_id").cast("string")) % 100 < 90, "val")
            .otherwise("test")
            .alias("split"),
        ).collect()
    }
    assert got[3]["split"] == per_doc[3]


def test_leakage_safe_split_no_cross_split_pairs_on_testdata(spark, sf_dir):
    """The semantic claim on real testdata: zero verified near-dup
    pairs straddle splits (every cluster maps to one split)."""
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded
    from pyspark.sql import functions as F

    _ensure_loaded()
    out = REGISTRY["dataset_split_leakage_safe"].builder(spark, sf_dir)
    bad = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert bad == 0


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_word = st.sampled_from(["a", "b", "c", "dd", "ee"])
_doc = st.lists(_word, min_size=1, max_size=10).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=7)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_corpus)
def test_boilerplate_invariants(spark, texts):
    """For ANY corpus, with K=2: (1) kept+dropped == span total; (2) a
    span is dropped iff it occurs in >= K distinct docs — in EVERY doc
    that carries it; (3) clean_text is the in-order concatenation of
    kept spans; (4) the kept set is a subset of span_dedup's kept set
    (dedup keeps the owner copy, boilerplate removal does not)."""
    from spk_sl_validation_spark.ext.text import span_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in boilerplate_removal(df, "doc_id", "text", span_w=W, min_docs=2).collect()}
    sd = {r["doc_id"]: r for r in span_dedup(df, "doc_id", "text", span_w=W).collect()}

    def spans_of(t):
        toks = t.split(" ")
        return [" ".join(toks[j : j + W]) for j in range(0, len(toks), W)]

    owners: dict[str, set[int]] = {}
    for i, t in rows:
        for s in set(spans_of(t)):
            owners.setdefault(s, set()).add(i)

    for i, t in rows:
        spans = spans_of(t)
        r = got[i]
        assert r["n_spans_kept"] + r["n_spans_dropped"] == len(spans)  # (1)
        expect = [s for s in spans if len(owners[s]) < 2]  # (2)
        assert r["clean_text"] == " ".join(expect)  # (3)
        # (4): multiset inclusion — every boilerplate-kept span survives
        # dedup. Reassembled text is spans joined by single spaces (a
        # short tail span can only be last), so re-spanifying recovers
        # the kept span multiset.
        kept_sd = spans_of(sd[i]["clean_text"]) if sd[i]["clean_text"] else []
        from collections import Counter

        cb, cs = Counter(expect), Counter(kept_sd)
        assert all(cb[s] <= cs[s] for s in cb), (i, expect, kept_sd)


# ---------------------------------------------------------------------------
# boilerplate index lifecycle
# ---------------------------------------------------------------------------


def test_boilerplate_index_roundtrip_and_apply(spark, tmp_path):
    """Index persisted to parquet and read back must strip a FRESH batch
    (docs not in the census) exactly like the census corpus: a batch
    span is boilerplate iff the CORPUS marked it, regardless of its
    batch frequency."""
    from spk_sl_validation_spark.ext.text import apply_boilerplate_index, boilerplate_index

    corpus = spark.createDataFrame(
        [(1, "nav bar alpha beta"), (2, "nav bar gamma delta"), (3, "nav bar epsilon zeta")],
        ["doc_id", "text"],
    )
    idx = boilerplate_index(corpus, "doc_id", "text", span_w=W, min_docs=3)
    path = str(tmp_path / "bp_index")
    idx.write.mode("overwrite").parquet(path)
    idx2 = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(100, "nav bar fresh words"), (101, "clean doc only")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in apply_boilerplate_index(batch, idx2, "doc_id", "text", W).collect()}
    assert got[100]["clean_text"] == "fresh words"  # corpus boilerplate stripped from the batch
    assert got[101]["clean_text"] == "clean doc only"


def test_boilerplate_indexed_equals_direct(spark, sf_dir):
    """Identical output is the registered claim (oracle verbatim)."""
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    a = REGISTRY["corpus_boilerplate_removal"].builder(spark, sf_dir)
    b = REGISTRY["boilerplate_apply_indexed"].builder(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_boilerplate_census_merge_law(spark):
    """merge(census(A), census(B)) == census(A ∪ B) for disjoint doc-id
    sets — the invariant that makes incremental censusing sound."""
    from spk_sl_validation_spark.ext.text import boilerplate_census, merge_boilerplate_census

    corpus = spark.createDataFrame(
        [(1, "nav bar alpha beta"), (2, "nav bar gamma delta")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(100, "nav bar fresh words"), (101, "alpha beta alpha beta")], ["doc_id", "text"]
    )
    merged = merge_boilerplate_census(
        boilerplate_census(corpus, span_w=W), boilerplate_census(batch, span_w=W)
    )
    direct = boilerplate_census(corpus.unionByName(batch), span_w=W)
    got = {r["h"]: r["n_docs"] for r in merged.collect()}
    want = {r["h"]: r["n_docs"] for r in direct.collect()}
    assert got == want
    # sanity on the content: "nav bar" now counts 3 distinct docs,
    # "alpha beta" 2 (doc 101's repeat collapses to one distinct doc)
    assert sorted(got.values(), reverse=True)[:2] == [3, 2]


def test_soft_weights_accepts_precomputed_clusters(spark, tmp_path):
    """Cluster once, derive many: a PERSISTED cluster table fed back in
    must produce the identical result with no LSH/verify work."""
    from spk_sl_validation_spark.ext.dedup import dedup_clusters

    rows = [(1, _NEAR_A), (2, _NEAR_B), (3, _UNIQUE)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "clusters")
    dedup_clusters(df, "doc_id", "text").write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    direct = duplicate_soft_weights(df, "doc_id", "text")
    via_stored = duplicate_soft_weights(df, "doc_id", "text", clusters=stored)
    assert direct.exceptAll(via_stored).count() == 0
    assert via_stored.exceptAll(direct).count() == 0
