"""Registry-WIDE plan invariant: no registered query may plan a
sort-merge join or a cartesian product.

The per-query budgets in test_plan_budgets.py cover only the bench
headline set; this sweep is the automatic defense for the other ~165
queries against a future edit silently degrading a pinned shuffle-hash
or broadcast join. Inspects the INITIAL physical plan; anything that
is SMJ-free before AQE stays SMJ-free after (AQE only upgrades joins).
Planning itself runs no job, but building the plans does: builders
that materialize intermediates (eager ``localCheckpoint``, small
driver collects) run those jobs first. The sweep took 145-184 s at
4 CPUs, the slowest test of the default tier.

BroadcastNestedLoopJoin is allowed ONLY for the allowlisted names:
every entry is either a documented 1-row broadcast scalar fan-in
(corpus stats joined onto every row) or the documented exact-ANN
crossJoin baseline behind the 500k-row dispatch.
"""

from __future__ import annotations

import re

from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

#: Queries whose plan carries a BroadcastNestedLoopJoin by design —
#: 1-row scalar fan-ins (corpus totals / thresholds / sketch params
#: broadcast onto every row) except similarity_topk_* / ann_recall /
#: kmeans_assign, whose small-side crossJoin is the documented exact
#: baseline at sub-dispatch scale.
BNL_ALLOWED = {
    # 1-row n_baskets scalar fan-in (crossJoin of a broadcast aggregate)
    "basket_association_rules",
    "pipeline_spk_sl_main",
    "pipeline_status_cleansing",
    "pipeline_spk_sl_v1",
    "sketch_hll_distinct_users",
    "streaming_hll_distinct",
    "sketch_quantile_sample",
    "text_quality_topfrac",
    # batch-GD training: every iteration cross-joins the broadcast 1-row
    # weight relation (and its 1-row gradient aggregate) back onto the
    # feature frame — 1-row scalar fan-ins by construction
    "text_quality_train",
    "text_unigram_logprob",
    "equidepth_histogram",
    "dataset_drift_psi",
    "sample_priority_weighted",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    # IVF index lifecycle: same broadcast-centroid crossJoin assignment
    "similarity_topk_ivf_indexed",
    "similarity_ivf_churn",
    "streaming_ivf_ingest",
    "similarity_ivf_quantization_stats",
    "kmeans_assign",
    "similarity_topk_projected",
    "similarity_ann_recall",
    "skew_key_stats",
    "bm25_retrieval",
    "bm25_retrieval_indexed",
    # churn lifecycle: bm25_rank's 1-row stats fan-in + the 1-row
    # removed-(n_rm, dl_rm) delta applied to the 1-row stats table
    "bm25_retrieval_churn",
    # round-4: DSIR's 1-row (nt, nr) totals row; ccnet reuses
    # unigram_logprob's 1-row corpus-total fan-in
    "dsir_importance",
    "ccnet_ppl_buckets",
    # temperature mixture: 1-row (tot_w, tot_tokens) normalizer fan-in
    "mixture_temperature",
    # hybrid RRF: inherits bm25_rank's 1-row (n_docs, avgdl) stats fan-in
    "hybrid_rrf_retrieval",
    "hybrid_rrf_retrieval_indexed",
    # Bloom decontamination: 1-row bitmask fan-in (broadcast crossJoin)
    "decontaminate_bloom",
}


#: The one tolerated SortMergeJoin: TPC-H Q2's correlated scalar MIN
#: subquery. Catalyst's decorrelation synthesizes the
#: main-vs-aggregated-subquery join AFTER hint resolution, so no hint
#: in the pinned SQL can reach it (verified: SHUFFLE_HASH inside the
#: subquery converts the inner join but not the decorrelated one).
#: Both sides are fact-derived relations keyed on p_partkey; sort-merge
#: is a sound strategy for that join, and rewriting the query to a
#: manual CTE would delete the very surface (correlated scalar
#: subquery decorrelation) the query exists to pin.
SMJ_ALLOWED = {"sql_tpch_q2": 1}


def test_no_query_plans_smj_or_cartesian(spark):
    # Sweep at sf0.01, NOT the tests' default sf0.001: join strategy is
    # size-dependent (the collapsed-linkage SMJ this gate caught in
    # round 4 only appears at sf0.01+), and sf0.01 is the driver's
    # correctness scale.
    sf_dir = "/root/testdata/sf0.01"
    _ensure_loaded()
    offenders: dict[str, str] = {}
    unexpected_bnl: dict[str, int] = {}
    for name, spec in REGISTRY.items():
        df = spec.builder(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        smj = len(re.findall(r"\(\d+\) SortMergeJoin\b", plan))
        cart = len(re.findall(r"\(\d+\) CartesianProduct\b", plan))
        bnl = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin\b", plan))
        if smj > SMJ_ALLOWED.get(name, 0) or cart:
            offenders[name] = f"SMJ={smj} cartesian={cart}"
        if bnl and name not in BNL_ALLOWED:
            unexpected_bnl[name] = bnl
    assert not offenders, (
        f"queries planning sort-merge joins / cartesian products: {offenders} "
        "— pin a shuffle_hash/broadcast hint or restructure (see "
        "BENCH_HISTORY round-4 attribution for the pattern)"
    )
    assert not unexpected_bnl, (
        f"queries with a non-allowlisted BroadcastNestedLoopJoin: {unexpected_bnl} "
        "— if it is a 1-row scalar fan-in, add it to BNL_ALLOWED with a comment; "
        "anything else is a scale bug"
    )
