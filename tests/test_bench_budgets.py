"""Wall-clock regression guard for the headline queries (BENCH surface).

Absolute wall budgets flap: this machine's throughput varies >2x
between rounds (BENCH_r01 recorded 9.7 s for a set that reruns at
~23 s on the identical commit today). So the guard is RELATIVE: each
headline query's time is budgeted as a multiple of a calibration
query (pricing_summary — one scan + one exchange, a pure machine-speed
yardstick) with 3x headroom over the measured ratio. A 3x-slower plan
on any query fails while uniform machine slowdowns cancel out.
The absolute numbers remain guarded by the driver's per-round
BENCH_r{N}.json against BASELINE.md.

Measured ratios (sf0.1, idle local[32], best-of-2): scd2 0.60,
broadcast_enrich 0.34, rule_cascade 0.26, revenue_by_nation 0.91,
text_quality 0.70, text_repetition 0.94, dedup_minhash_lsh 1.95,
dedup_pipeline 3.63, similarity_topk_bruteforce 0.53, range_join 0.24.
"""

from __future__ import annotations

import os
import time

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_BENCH_SF_DIR", "/root/testdata/sf0.1")

CALIBRATOR = "pricing_summary"
# measured ratio x3 headroom (rounded up)
RATIO_BUDGETS = {
    "scd2_intervals": 1.8,
    "broadcast_enrich": 1.1,
    "rule_cascade_comment": 0.8,
    "revenue_by_nation": 2.8,
    "text_quality": 2.1,
    "text_repetition": 2.9,
    "dedup_minhash_lsh": 5.9,
    "dedup_pipeline": 11.0,
    "similarity_topk_bruteforce": 1.6,
    "range_join_clicks_before_purchase": 0.8,
    # round-3 promotions (measured vs pricing_summary on the 13-query
    # bench row: incremental 5.0 — x3 headroom)
    # round-9: span_dedup re-measured after the ownership de-skew
    # (groupBy+join-back adds 2 exchanges + 1 scan of fixed overhead
    # at bench scale, ratio 2.9 vs the old window shape's ~1.0; the
    # win is the AQE-splittable hot key at 100x — SCALE.md span_hot)
    "corpus_span_dedup": 9.0,
    "dedup_incremental": 15.0,
    # round-4 map-side rewrite (10 -> 5 exchanges, 1.42x): measured
    # ~1.4 vs pricing_summary — x3 headroom
    "text_bigram_logprob": 4.5,
    # round-4 second-half promotion: RRF fusion measured ~3.5 vs
    # pricing_summary (2.2 s vs 0.62 s, same session) — x3 headroom
    "hybrid_rrf_retrieval": 11.0,
    # round-8 headline additions (measured vs pricing_summary 0.52 s
    # on the 20-query sf0.1 bench row: substr 4.6, bpe 4.0, train 2.9,
    # jpeg 9.3 — Python-codec bound, pure map — mp4 0.9; x3 headroom)
    "corpus_substring_dedup": 14.0,
    "text_bpe_encode": 12.0,
    "text_quality_train": 9.0,
    "multimodal_jpeg_pixel_stats": 28.0,
    "multimodal_mp4_meta": 3.0,
    # round-9 headline additions (verdict task 7): url_dedup measured
    # 0.87 vs pricing_summary. round-10: the curation pipeline now
    # plans over materialized fixture manifests (the 64 KB-codegen
    # planning wall is gone — see the builder docstring): warm runs
    # measured 2.7-4.2 s, ratio ~4-6.5 — x3 headroom.
    "web_url_dedup": 3.0,
    "web_curation_pipeline": 20.0,
    # round-10: the composed crawl→corpus pipeline is a zero-exchange
    # interpreted-HOF narrow map (evaluate_once barriers keep each
    # text stage single-evaluation); warm ~2.8 s, ratio ~4.3 — x3.
    "web_corpus_pipeline": 15.0,
}
# catastrophic-only absolute cap for the calibrator itself (sf0.1)
CALIBRATOR_MAX_SEC = 20.0


@pytest.fixture(scope="module")
def headline_times(spark):
    from spk_sl_validation_spark.plans.registry import headline_queries
    from spk_sl_validation_spark.session import release

    specs = headline_queries()
    # isolate from whatever the shared test session ran before —
    # accumulated cache/checkpoint state inflates wall times ~2.6x
    release(spark)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    times = {}
    for name, spec in specs.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            spec.builder(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        times[name] = best
        release(spark)
    return times


def test_headline_set_unchanged(headline_times):
    assert set(headline_times) == set(RATIO_BUDGETS) | {CALIBRATOR}, (
        "headline set changed — re-measure ratios in this file"
    )


def test_calibrator_sane(headline_times):
    assert headline_times[CALIBRATOR] < CALIBRATOR_MAX_SEC


def test_headline_ratios_within_budget(headline_times):
    calib = headline_times[CALIBRATOR]
    over = {
        name: round(t / calib, 2)
        for name, t in headline_times.items()
        if name != CALIBRATOR and t / calib > RATIO_BUDGETS[name]
    }
    assert not over, (
        f"headline queries regressed vs calibrator (ratio > 3x-headroom budget): {over}; "
        f"calibrator={calib:.2f}s"
    )
