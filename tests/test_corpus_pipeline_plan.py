"""Plan pin for the composed training pipeline's central scale rule:
no Exchange in the assembled frame carries the corpus text column.

This is exactly the regression that existed before round 7 (the keep
semi-join shipped the text-bearing relation — 3.0 GB of an 8.0 GB
corpus through one shuffle at the 10M-doc probe, the whole corpus at
100 TB). SCALE.md §7, "Round-7 composed-pipeline probe", measures
it; this test makes reintroducing it a red test instead of a slow
cluster.
"""

from __future__ import annotations

import re


def _exchange_inputs(plan: str) -> list[str]:
    """The `Input [n]: [...]` line of every Exchange node detail."""
    out = []
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", plan):
        out.append(m.group(1))
    return out


def test_training_pipeline_exchanges_carry_no_text(spark, sf_dir):
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["training_corpus_pipeline"].builder(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    exchanges = _exchange_inputs(plan)
    assert exchanges, "expected at least one Exchange in the assembled frame"
    offenders = [e for e in exchanges if re.search(r"\btext#", e)]
    assert not offenders, (
        "corpus text crosses a shuffle in the composed pipeline — the keep "
        f"join must carry metadata only (see SCALE.md §7): {offenders}"
    )


def test_dedup_corpus_decision_join_carries_ids_only(spark, sf_dir):
    """dedup_corpus's keep/drop decision join is (id)-shaped on both
    sides — text is consumed map-side in the shingle/signature stages
    that run as checkpointed jobs, never in this frame's exchanges."""
    from spk_sl_validation_spark.ext.dedup import dedup_corpus
    from spk_sl_validation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_corpus(docs, "doc_id", "text")
    plan = spark._jvm.PythonSQLUtils.explainString(keep._jdf.queryExecution(), "formatted")
    offenders = [e for e in _exchange_inputs(plan) if re.search(r"\btext#", e)]
    assert not offenders
