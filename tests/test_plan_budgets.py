"""Plan-budget regression gate: every bench headline query has a
pinned shuffle/sort-merge budget — a future operator change that adds
an Exchange or degrades a broadcast to a sort-merge join fails HERE,
not in the next benchmark run.

The pins are counted on the STATIC optimized physical plan (the plan
Catalyst emits before any stage runs), deliberately: it is
deterministic across data sizes and hosts, and it upper-bounds the
adaptive plan — at runtime AQE can only improve on it (coalesce
partitions, upgrade a shuffle join to broadcast, split a skewed
partition), never add an Exchange. PLANS.md (tools/dump_plans.py)
audits the genuinely-final adaptive plans alongside; these pins are
the regression gate. `<=` comparisons so a plan IMPROVEMENT never
fails the gate — tighten the budget when that happens.
"""

from __future__ import annotations

import pytest

from tools.dump_plans import plan_stats

# name -> (max shuffle exchanges, max sort-merge joins)
# pricing_summary / revenue_by_nation carry 2 exchanges by design:
# exact_fixed_point_agg's level-2 merge shuffles only per-(group,
# input-partition) partial rows — a few longs each — after the
# row-level work completed map-side as long sums (1.3x the decimal
# chain, corpus-size-safe; see operators/relational.py).
BUDGETS = {
    "pricing_summary": (2, 0),
    "broadcast_enrich": (0, 0),
    "rule_cascade_comment": (0, 0),
    "revenue_by_nation": (2, 0),
    "text_quality": (0, 0),
    "text_repetition": (4, 0),
    "dedup_minhash_lsh": (4, 0),  # r11: +1 spread_for_compute exchange (guide §2.5)
    "dedup_pipeline": (2, 0),  # r11: tightened 9 -> 2 (stale pin; actual static plan)
    "similarity_topk_bruteforce": (3, 0),  # r11: +2 spread (embeddings read twice)
    "range_join_clicks_before_purchase": (1, 0),
    "scd2_intervals": (1, 0),
    # round-9 rewrite: span ownership = skinny groupBy(h) + gated
    # join-back (the substring_dedup shape) so span text never rides
    # the fingerprint shuffle; +2 exchanges (drop-set fold, reassembly
    # join) traded for killing the AQE-unsplittable hot window.
    # incremental dedup = exact fp semi + asymmetric banding + verify,
    # every join broadcast or pinned shuffle-hash (checkpointed sides).
    "corpus_span_dedup": (4, 0),
    "dedup_incremental": (4, 0),  # tightened 6 -> 4 (stale pin; actual static plan)
    # bigram LM scoring (round-4 rewrite, 10 -> 5 exchanges): pairs
    # derived map-side via arrays_zip(slice, slice) — no lag window —
    # so the exchanges are the model aggregate, the window-sum context
    # denominator over the vocab-bounded model, the pinned
    # shuffle-hash scoring join (both sides), and the per-doc fold.
    "text_bigram_logprob": (5, 0),
    # round-4 second half: RRF fusion — two ranker pools (term-pruned
    # tf/df aggregates, distinct doc-term relation) + the union fusion
    # aggregate; rank windows partition by query over pool relations.
    # round-6: +1 exchange — the cosine arm's df(term)-bounded `ov`
    # relation moved off broadcast (OOM risk on stopword-like terms at
    # 100 TB) onto a pinned shuffle-hash join; AQE re-upgrades small
    # cases to broadcast at runtime, but the static plan pins
    # the shuffle shape.
    "hybrid_rrf_retrieval": (8, 0),  # tightened 12 -> 8 (stale pin; actual static plan)
    # round-8 headline additions (the round-7 operator surface joins
    # the regression bench): substring dedup = fingerprint groupBy +
    # gated ownership join-back (the AQE-splittable de-skew shape) +
    # islands + reassembly; quality_train's static tail = the scoring
    # frame over the checkpointed feature frame (iterations are
    # internal eager jobs; the 14 broadcasts are 1-row weight fan-ins);
    # serving/codec queries are pure narrow maps — any exchange is a
    # regression.
    "corpus_substring_dedup": (6, 0),  # r11: +2 spread (fingerprint + reassembly branches)
    "text_quality_train": (7, 0),
    "text_bpe_encode": (0, 0),
    # r11: the codec chains repartition their tiny unsplittable scan to
    # P/2 before the per-row-expensive Arrow stages (spread_for_compute,
    # guide §2.5) — ONE round-robin exchange of doc_ids, never payloads.
    "multimodal_jpeg_pixel_stats": (1, 0),
    "multimodal_mp4_meta": (1, 0),
    # round-9 headline additions (verdict task 7): url_dedup = key
    # groupBy + semi join. round-10: the composed curation pipeline
    # plans over MATERIALIZED fixture manifests (parquet scans — the
    # r9 localCheckpoint chain hid per-layer cost AND fused the
    # synthesis trees into a >64 KB codegen stage; see the builder
    # docstring), so its static plan now shows all four layers:
    # robots parse (window+agg) + rules join both sides + blocklist
    # anti both sides + dedup groupBy/semi + cap window — all skinny
    # manifest relations, zero SMJ, AQE broadcasts small sides at
    # runtime.
    # r12: url_dedup rewritten as a rank-limit window (WindowGroupLimit
    # pair — map-side partial drops losers before the exchange), so the
    # groupBy-min + semi-join pair is gone: 3 → 1. The composed
    # pipeline additionally gets (a) robots rules parsed as a narrow
    # per-row array expression (no explode/window/collect_list — the
    # rules relation never shuffles) and (b) broadcast joins on the
    # rules + blocklist sides (the forced shuffle_hash exchanged both
    # sides): 12 → 2 (the two window exchanges), 2 BroadcastHashJoins.
    "web_url_dedup": (1, 0),
    "web_curation_pipeline": (2, 0),
    # round-10: the composed crawl→corpus pipeline is a pure narrow
    # map chain (Arrow WARC parse + HOF text stages with
    # evaluate_once generator barriers) — ANY exchange is a regression.
    "web_corpus_pipeline": (1, 0),  # r11: +1 spread before the narrow parse/HOF chain
}


# Non-headline production-path queries whose plan shape is
# scale-load-bearing enough to pin (measured at sf0.001, static
# optimized plans; `<=` so improvements never fail).
NONHEADLINE_BUDGETS = {
    "dedup_pipeline_exact_first": (4, 0),
    "dedup_incremental_indexed": (8, 0),
    "fuzzy_match_parts_collapsed": (7, 0),
    "dsir_importance": (4, 0),
    "ccnet_ppl_buckets": (9, 0),
    # second-half round-4 additions (audited the same way): the prefix
    # join pays its shuffle-hash verify joins on both sides; the sweep
    # carries the full exact pair relation through two aggregates; RRF
    # runs two ranker pools plus the fusion aggregate; MMR's rounds all
    # run on checkpointed pool-sized relations (zero corpus exchanges).
    "dedup_jaccard_prefix_join": (14, 0),
    "embedding_mmr_select": (0, 0),
    "ngram_novelty": (5, 0),
    "ingest_novelty_batch": (4, 0),
    # round-10 additions (audited at sf0.001, static plans): the
    # narrow HOF/Arrow maps must stay exchange-FREE; the indexed
    # phrase path pays per-term semi joins + the final agg; frontier
    # expansion = union scans + anti join + groupBy; the winnowing
    # match / image banding / robots-UA / crawl-delay shapes each
    # carry their one or two skinny-key exchanges. Zero SMJ across
    # the board — a sort-merge join anywhere is a broadcast/hint
    # regression.
    "phrase_search": (0, 0),
    "phrase_search_indexed": (10, 0),
    "web_frontier_expand": (6, 0),
    "text_winnowing_fingerprints": (0, 0),
    "text_winnowing_matches": (1, 0),
    # round-11: 2 → 8 — exact-duplicate pre-collapse in
    # hamming_near_dup_pairs trades +6 exchanges over SKINNY (id, fp)
    # 16-byte relations (fp collapse groupBy, distinct-fp banding,
    # two member-expansion joins) for boundedness under an
    # exact-copy fingerprint flood: the old shape put every copy of
    # a dominant fingerprint into ONE collect_list bucket row with an
    # O(m²) in-bucket HOF expansion in a single task.
    "multimodal_image_near_dup": (8, 0),
    "multimodal_audio_near_dup": (8, 0),
    "fim_transform": (0, 0),
    "text_nfc_normalize": (0, 0),
    "multimodal_webp_meta": (1, 0),  # r11: +1 spread
    "multimodal_pdf_text": (1, 0),  # r11: +1 spread
    "multimodal_wav_windows": (1, 0),  # r11: +1 spread
    "web_robots_ua_select": (2, 0),
    "web_politeness_crawl_delay": (2, 0),
    "chat_template_render": (0, 0),
    "chat_turn_offsets": (1, 0),
    # checkpoint-blinded labels/sizes joins are shuffle_hash-hinted —
    # the static plan showed an SMJ before the hints (round-10 audit)
    "multimodal_image_dup_groups": (10, 0),  # r11: +2 spread (dhash input + member fold-back)
    # round-8: +6 static exchanges — ngram_jaccard_pairs' doc-sizes
    # joins moved off forced F.broadcast (corpus-cardinality
    # standalone) onto shuffle_hash hints, and the sweep re-inlines
    # the pair relation per consumer; at runtime AQE upgrades the
    # tiny sizes sides back to broadcast.
    "dedup_threshold_sweep": (18, 0),
    "mixture_temperature": (3, 0),
    "tokenizer_fertility": (1, 0),
    "vocab_oov_rate": (3, 0),
    # one-sided incremental exact dedup: batch prefix build + corpus
    # probe + verify joins, all pinned shuffle-hash, 0 SMJ
    "dedup_incremental_exact": (15, 0),
    # round-5: the expensive non-headline tail (r4 verdict #6) — the
    # queries whose sf0.1 self-check wall is largest and whose plan
    # shape carries the scale argument. Counts audited via the same
    # static optimized plans as the rest of this table.
    # graph_triangle_parts: 97 -> 6 exchanges after the
    # localCheckpoint-reuse fix; a regression here re-inlines the edge
    # derivation 17x and must fail loudly.
    "graph_triangle_parts": (6, 0),
    "basket_association_rules": (7, 0),
    "boilerplate_apply_indexed": (1, 0),
    "corpus_boilerplate_removal": (3, 0),
    "training_corpus_pipeline": (3, 0),
    "quality_by_dup_status": (4, 0),
    "similarity_ann_recall": (3, 0),
    "similarity_topk_projected": (2, 0),
    "temporal_dim_join": (1, 0),
    "window_time_range": (1, 0),
    # indexed RRF matches the direct query's 11-exchange fusion shape
    # at inline-build time; the win is WHAT shuffles (index artifacts,
    # never corpus text) — the no-text-scan property is pinned in
    # tests/test_retrieval.py against persisted artifacts.
    "hybrid_rrf_retrieval_indexed": (12, 0),  # +1: same ov shuffle_hash swap
    # the recursive-CTE shape: per-iteration exchanges are internal
    # eager jobs; the final assembled frame is one exchange.
    "recursive_capped_cumsum": (1, 0),
    # round-5 new queries (values = PLANS.md): stars CC's final frame
    # is the LSH/verify tail + fold-back (iterations are internal
    # eager jobs); grouped HLL is two grouped aggregates + the exact
    # side; bloom decontamination pays candidate/bench-sized
    # exchanges (in-plan mask agg + pinned shuffle-hash verify) in
    # exchange for never broadcasting the bench string set.
    # dedup_clusters is the same builder as dedup_clusters_stars.
    "dedup_clusters": (3, 0),
    "dedup_clusters_stars": (3, 0),
    "sketch_hll_by_type": (4, 0),
    "decontaminate_bloom": (11, 0),
    # round-6: the real codecs are pure map pipelines (synthesize →
    # mapInPandas decode → no shuffle at all — the shape that scales
    # embarrassingly); any exchange appearing here is a regression.
    "multimodal_wav_stats": (1, 0),  # r11: +1 spread (see headline codec note)
    "multimodal_bmp_pixel_stats": (1, 0),  # r11: +1 spread
    # BM25 churn = build (3) + removed-slice semi/anti + df subtract +
    # stats delta + merged-df re-agg + rank tail; lifecycle op, runs
    # once per recrawl batch.
    "bm25_retrieval_churn": (15, 0),
    # IVF indexed: corpus assignment window + rank tail; churn adds
    # the anti-join and the batch reassignment.
    "similarity_topk_ivf_indexed": (3, 0),
    "similarity_ivf_churn": (5, 0),
    "similarity_ivf_quantization_stats": (2, 0),
    # cross-modal: one banded self-join (was 4 per-band joins at 23
    # exchanges before the single-explode restructure) + pair distinct
    # + verify chain + cosine joins
    "dedup_cross_modal": (11, 0),
    # round-7: incremental packing = batch-only two-phase prefix
    # sum + the 1-row state fan-in. (text_bpe_encode and
    # multimodal_jpeg_pixel_stats moved to the headline BUDGETS table
    # in round 8.)
    "pack_incremental": (3, 0),
    "multimodal_gif_pixel_stats": (1, 0),  # r11: +1 spread before the pure map pipeline
    # round-8 URL curation layer: normalize is a pure narrow map (any
    # exchange is a regression); dedup = key groupBy + semi join;
    # cap = ONE rank-limit window shuffle (Catalyst's WindowGroupLimit
    # pair bounds the hot domain map-side — pinned in
    # tests/test_webcure.py); blocklist = anti join (both sides
    # shuffle; AQE broadcasts small blocklists at runtime).
    "web_url_normalize": (0, 0),
    "web_domain_cap": (1, 0),
    "web_blocklist_filter": (2, 0),
    "web_html_to_text": (0, 0),  # pure narrow regexp chain
    "web_html_meta": (0, 0),
    "web_robots_gate": (0, 0),
    # robots.txt: the 2 exchanges are the KB-sized rules side (group
    # window + per-domain collapse); the URL frame rides one join,
    # never an aggregate.
    "web_robots_txt_filter": (2, 0),
}


@pytest.fixture(scope="module")
def headline_specs():
    from spk_sl_validation_spark.plans.registry import headline_queries

    return headline_queries()


def test_budget_table_covers_headline_set(headline_specs):
    assert set(BUDGETS) == set(headline_specs), (
        "headline set changed — audit the new query's plan (tools/dump_plans.py) "
        "and add its budget here"
    )


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_headline_plan_within_budget(spark, sf_dir, headline_specs, name):
    df = headline_specs[name].builder(spark, sf_dir)
    # Static optimized plan: explainString plans but does not run the
    # query (running it would exercise a SEPARATE QueryExecution anyway
    # — the registry correctness tests already execute every query).
    qe = df._jdf.queryExecution()
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    max_shuffles, max_smj = BUDGETS[name]
    assert st["shuffle_exchanges"] <= max_shuffles, (
        f"{name}: {st['shuffle_exchanges']} shuffle exchanges "
        f"(budget {max_shuffles}) — plan regressed"
    )
    assert st["sort_merge_joins"] <= max_smj, (
        f"{name}: {st['sort_merge_joins']} sort-merge joins "
        f"(budget {max_smj}) — a broadcast degraded"
    )


@pytest.mark.parametrize("name", sorted(NONHEADLINE_BUDGETS))
def test_production_path_plan_within_budget(spark, sf_dir, name):
    from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY[name].builder(spark, sf_dir)
    qe = df._jdf.queryExecution()  # static optimized plan (see module doc)
    formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    st = plan_stats(formatted)
    max_shuffles, max_smj = NONHEADLINE_BUDGETS[name]
    assert st["shuffle_exchanges"] <= max_shuffles, (
        f"{name}: {st['shuffle_exchanges']} shuffle exchanges "
        f"(budget {max_shuffles}) — plan regressed"
    )
    assert st["sort_merge_joins"] <= max_smj
