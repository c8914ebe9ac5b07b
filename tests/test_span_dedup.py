"""Semantic golden tests for ext.text.span_dedup (corpus_span_dedup).

The registry-wide differential test (test_queries.py) already value-
hashes the registered query against DuckDB at sf0.001; these tests pin
the *semantics* on a hand-built corpus where the expected output is
knowable by eye: ownership goes to the lowest doc id, unique content
is untouched, reassembly preserves span order, and within-owner
repeats survive.
"""

from __future__ import annotations

from spk_sl_validation_spark.ext.text import span_dedup

W = 2  # two-word spans keep the fixtures readable


def _run(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = span_dedup(df, "doc_id", "text", span_w=W)
    return {r["doc_id"]: r for r in out.collect()}


def test_shared_span_kept_only_in_lowest_doc(spark):
    rows = [
        (1, "alpha beta gamma delta"),  # spans: "alpha beta", "gamma delta"
        (2, "alpha beta epsilon zeta"),  # shares "alpha beta" with doc 1
    ]
    got = _run(spark, rows)
    assert got[1]["clean_text"] == "alpha beta gamma delta"
    assert got[1]["n_spans_kept"] == 2 and got[1]["n_spans_dropped"] == 0
    assert got[2]["clean_text"] == "epsilon zeta"
    assert got[2]["n_spans_kept"] == 1 and got[2]["n_spans_dropped"] == 1


def test_unique_corpus_roundtrips(spark):
    rows = [(1, "a b c d"), (2, "e f g h"), (3, "i j")]
    got = _run(spark, rows)
    for doc_id, text in rows:
        assert got[doc_id]["clean_text"] == text
        assert got[doc_id]["n_spans_dropped"] == 0


def test_reassembly_preserves_span_order(spark):
    rows = [
        (1, "one two three four five six"),
        (2, "three four x y"),  # steals nothing; loses its copy of "three four"
    ]
    got = _run(spark, rows)
    assert got[1]["clean_text"] == "one two three four five six"
    assert got[2]["clean_text"] == "x y"


def test_within_owner_repeat_survives(spark):
    # "p q" appears twice in doc 1 (the owner) and once in doc 2: both
    # owner copies stay, the foreign copy goes.
    rows = [(1, "p q p q"), (2, "p q r s")]
    got = _run(spark, rows)
    assert got[1]["clean_text"] == "p q p q"
    assert got[1]["n_spans_dropped"] == 0
    assert got[2]["clean_text"] == "r s"


def test_fully_duplicated_doc_empties(spark):
    rows = [(1, "m n o p"), (2, "m n o p")]
    got = _run(spark, rows)
    assert got[1]["clean_text"] == "m n o p"
    assert got[2]["clean_text"] == ""
    assert got[2]["n_spans_kept"] == 0 and got[2]["n_spans_dropped"] == 2


def test_short_doc_single_span(spark):
    # Shorter than one span width: the whole doc is one span.
    rows = [(1, "solo"), (2, "solo")]
    got = _run(spark, rows)
    assert got[1]["clean_text"] == "solo"
    assert got[2]["clean_text"] == ""


def test_span_dedup_plan_shape(spark, sf_dir):
    """Four shuffle exchanges (skinny fingerprint groupBy + the
    AQE-skew-splittable ownership join-back — replacing the old
    min-over-Window.partitionBy(h) hot spot — drop-set fold on doc_id,
    reassembly join), zero sort-merge joins, zero broadcast-forced
    joins (the drop side is unbounded on a fully-duplicated corpus —
    shuffle_hash by contract), and the corpus scanned at most twice
    (skinny fingerprint arm + the pure-map span-array arm; the extra
    scan is the price of keeping span TEXT off the fingerprint
    shuffle entirely)."""
    from tools.dump_plans import plan_stats

    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["corpus_span_dedup"].builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    assert st["shuffle_exchanges"] <= 4, st
    assert st["sort_merge_joins"] == 0 and st["broadcast_hash_joins"] == 0, st
    assert "CartesianProduct" not in formatted, "cartesian product in plan"
    import re

    n_scans = len(re.findall(r"\(\d+\) Scan parquet", formatted))
    assert n_scans <= 2, f"corpus scanned {n_scans}x"


def test_span_dedup_boilerplate_bounded(spark):
    """A mega-hot span (the same license header in 20k documents) must
    complete with bounded task state: the window min streams within the
    sorted bucket instead of collecting members. Also pins the
    semantics at volume — exactly one owner keeps the span."""
    n = 20_000
    df = spark.range(n).selectExpr(
        "id AS doc_id",
        # shared 2-word boilerplate + a unique tail word per doc
        "concat('shared header unique', id, ' tail', id) AS text",
    )
    from spk_sl_validation_spark.ext.text import span_dedup

    out = span_dedup(df, "doc_id", "text", span_w=2)
    agg = out.selectExpr(
        "sum(n_spans_dropped) AS dropped",
        "sum(n_spans_kept) AS kept",
    ).collect()[0]
    # every doc has 2 spans ("shared header", "uniqueN tailN"); the
    # boilerplate span survives only in doc 0.
    assert agg["dropped"] == n - 1
    assert agg["kept"] == n + 1


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_word = st.sampled_from(["a", "b", "c", "dd", "ee", "ff"])
_doc = st.lists(_word, min_size=1, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=8)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_corpus)
def test_span_dedup_invariants(spark, texts):
    """For ANY corpus: (1) span counts add up to the doc's span total;
    (2) clean_text is the in-order concatenation of a subset of the
    doc's spans; (3) the lowest-id doc containing a given span never
    drops it; (4) every doc is present in the output exactly once."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in span_dedup(df, "doc_id", "text", span_w=W).collect()}

    assert sorted(out) == list(range(len(texts)))  # (4)
    for i, t in rows:
        toks = t.split(" ")
        spans = [" ".join(toks[j : j + W]) for j in range(0, len(toks), W)]
        r = out[i]
        assert r["n_spans_kept"] + r["n_spans_dropped"] == len(spans)  # (1)
        owner = {}
        for j, (_, t2) in enumerate(rows):
            toks2 = t2.split(" ")
            for s in {" ".join(toks2[j2 : j2 + W]) for j2 in range(0, len(toks2), W)}:
                owner.setdefault(s, j)
        expect = [s for s in spans if owner[s] == i]
        assert r["clean_text"] == " ".join(expect)  # (2) + (3)
