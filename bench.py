"""Benchmark: run the headline workload queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over the headline set. Each query is
executed to completion via a count-collapsing action so the timing covers
the full plan (scan → shuffle → agg), not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.caching import clear_session_memos, unpersist_operator_caches
from redcap_omop_etl_spark.session import build_session

# Headline set: one per operator family — scan/agg, multi-join, window,
# sessionization, as-of, EAV pivot, dedup, date suite.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_broadcast_lookup",
    "join_asof",
    "window_topk_per_group",
    "window_running_agg",
    "sessionize_gap",
    "pivot_event_values",
    "eav_pivot_roundtrip",
    "dedup_first_seen",
    "date_anchor_shift",
    "case_dispatch",
    "phi_filter_keep",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_winnow",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "stream_interval_join",
    "text_quality_score",
    "docs_prep_pipeline",
    "corpus_pipeline_full",
    "cohort_retention",
    "text_tfidf_top_terms",
    "similarity_cosine_topk",
    "stream_tumbling_window",
    "stream_session_window",
    "stream_static_enrich",
    "sink_chunk_assignment",
    "sink_json_map_export",
    "embedding_near_dup",
    "dq_expectations",
    "graph_triangle_count",
    # round-3 additions: temporal/tsanalytics rollups, skew-salted agg,
    # graph iteration, ANN search — one per remaining operator family.
    "rollup_cascade",
    "interval_coalesce",
    "time_weighted_avg",
    "counter_deltas",
    "agg_salted_twophase",
    "graph_pagerank",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "sequence_packing",
    "corpus_mixture",
    # round-3 late additions: fully-oracled simhash, corpus-global
    # boilerplate marking, Gopher repetition stats.
    "dedup_simhash",
    "text_boilerplate_ngrams",
    "text_repetition_stats",
    "text_unigram_logprob",
    "corpus_quality_funnel",
    "pandas_penny_allocation",
    "dedup_incremental",
    "text_chunk_windows",
    "dedup_chunk_level",
    # round-3 final additions: PPJoin prefix-filtered similarity join,
    # per-source KL divergence, weighted sampling without replacement.
    "dedup_prefix_jaccard",
    "corpus_source_divergence",
    "sampling_weighted_topk",
    "corpus_temperature_mixture",
    "corpus_cross_contamination",
    "window_sliding_distinct",
    "event_pattern_regex",
    "anomaly_mad",
    "ts_autocorr",
    # round-4 additions: retrieval (BM25 / inverted index / mergeable MG
    # sketch / Zipf fit), curation (quantile-normalize, curriculum order,
    # winsorized stats), group-wise OLS, Markov transitions.
    "retrieval_bm25_topk",
    "retrieval_inverted_index",
    "retrieval_heavy_hitters",
    "retrieval_zipf_fit",
    "curation_quantile_normalize",
    "curation_curriculum_order",
    "curation_winsorized_stats",
    "ts_ols_trend",
    "ts_markov_transitions",
    # round-4 wave 2: CUSUM/seasonal/xcorr on the daily series, Bloom join
    # pruning, Count-Min, PMI collocations, Gram covariance, JL projection.
    "ts_cusum_changepoint",
    "ts_seasonal_strength",
    "ts_cross_correlation",
    "join_bloom_prune",
    "sketch_countmin",
    "text_collocation_pmi",
    "embedding_covariance",
    "embedding_random_projection",
    "dq_benford_audit",
    "sql_api_recursive_hierarchy",
    "retrieval_rrf_fusion",
    "dedup_containment",
    "ts_forecast_backtest",
    "graph_degree_assortativity",
    "join_asof_nearest",
    # round-5 additions: readability, PRF expansion, bounded k-core peel,
    # quality-prioritized rep selection, PQ audit, n-gram novelty, FK audit.
    "text_readability",
    "retrieval_prf_expansion",
    "graph_kcore_peel",
    "curation_rep_selection",
    "embedding_pq_audit",
    "corpus_ngram_novelty",
    "dq_referential_integrity",
    "sql_api_pipe_syntax",
    "text_lang_confusion",
    "similarity_hard_negatives",
    "graph_label_propagation",
    "join_asof_tolerance",
    "embedding_norm_arrow",
    "stream_two_level_rollup",
    "sql_api_parameterized",
    "arrow_grouped_scale",
    "sampling_poisson_bootstrap",
    # round-6 additions: dup-density-capped PPJoin (overflow side-channel),
    # structure-aware offset-preserving chunk splitter.
    "dedup_prefix_jaccard_capped",
    "text_chunk_structured",
    "retrieval_ndcg_eval",
    "similarity_mmr_rerank",
    "curation_pareto_frontier",
    "graph_link_prediction",
    "embedding_matryoshka_audit",
    "text_bigram_logprob",
    "sql_api_group_by_all",
    "chunk_prep_pipeline",
    "sampling_group_kfold",
    "graph_clustering_coefficient",
    # round-7 additions: capped containment (overflow side-channel),
    # sample-based BPE learner, real BMP/WAV decode stats, and the
    # source-caps rewrite (two-phase top-k, no corpus shuffle).
    "dedup_containment_capped",
    "bpe_learn_sampled",
    "multimodal_decode_stats",
    "corpus_source_caps",
    "corpus_token_budget_cut",
    "embedding_label_dispersion",
    "corpus_epoch_shuffle",
    "dedup_source_minhash_matrix",
    "corpus_packing_efficiency",
    # round-7 second wave: exact span dedup (coverage + removal), DSIR
    # importance weights, label-outlier audit, LSH recall audit.
    "text_quality_classifier",
    "text_quality_classifier_fast",
    "corpus_vocab_coverage",
    "dedup_survivorship",
    "sampling_leakage_safe_split",
    "conversation_turn_audit",
    "dedup_span_coverage",
    "dedup_span_removal",
    "corpus_dsir_weights",
    "corpus_dsir_weights_fast",
    "embedding_label_outliers",
    "dedup_lsh_recall_audit",
    "corpus_span_source_matrix",
    "dq_k_anonymity",
    # round 8: bounded-output cluster table + capped cluster compositions
    "dedup_minhash_clusters",
    "dedup_survivorship_capped",
    "sampling_leakage_safe_split_capped",
    "sampling_poisson_bootstrap_fast",
    "corpus_soft_dedup_weights",
    "stream_minhash_dedup",
    # round 8 continuation: SemDeDup embedding pruning + IVF-PQ ADC search
    # + the embedding-space streaming ingest gate
    "dedup_semdedup",
    "similarity_ivf_pq_adc",
    "stream_embedding_dedup",
    "corpus_semdedup_budget",
    "multimodal_audio_features",
    "multimodal_image_blocks",
    # round 9: xxHash64 signature twins for the cluster-table path (the
    # md5-tax knob), frozen-codebook IVF-PQ append + search.
    "dedup_minhash_clusters_fast",
    "corpus_soft_dedup_weights_fast",
    "ivfpq_append_search",
    "ivfpq_recall_audit",
    "dedup_minhash_clusters_append",
    # round 10: the deletion side of the maintenance matrix, the
    # incremental SemDeDup/retrieval ticks, and the n_probes sweep.
    "dedup_minhash_clusters_delete",
    "ivfpq_delete_search",
    "semdedup_flags_append",
    "semdedup_flags_delete",
    "retrieval_index_append",
    "retrieval_index_delete",
    "ivfpq_recall_sweep",
    "dedup_prefix_jaccard_append",
    "dedup_prefix_jaccard_append_capped",
    "dedup_ingest_tick_routed",
    "dedup_ingest_tick_routed_dense",
    "ivfpq_drift_audit",
    "dedup_minhash_clusters_upsert",
    "semdedup_flags_upsert",
    "ivfpq_upsert_search",
    "retrieval_index_upsert",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = build_session("bench")

    # Host-speed calibration probes, reported alongside the timings:
    # absolute walls drift between driver sessions (fresh VM per round;
    # an A/B re-run of identical code across two sessions measured a
    # 2.2x inflation on CPU-bound queries), so cross-round totals are
    # only comparable after normalizing by these. py_sec is a fixed
    # single-core Python arithmetic loop; jvm_sec a fixed codegen'd
    # range-aggregate on all cores (warmed once).
    def _calibrate() -> dict[str, float]:
        t0 = time.perf_counter()
        x = 0
        for i in range(10_000_000):
            x += i * i
        py_sec = time.perf_counter() - t0
        probe = "select sum(id * 2 + 1) from range(200000000)"
        # warm TWICE: one pass covers codegen but not C2 JIT ramp on a
        # fresh JVM — the round-12 sentinel's first segment measured the
        # single-warmed probe at 1.68 s vs 0.25 s steady-state, which
        # poisons cross-round normalization ratios.
        spark.sql(probe).collect()
        spark.sql(probe).collect()
        t0 = time.perf_counter()
        spark.sql(probe).collect()
        jvm_sec = time.perf_counter() - t0
        return {"py_sec": round(py_sec, 3), "jvm_sec": round(jvm_sec, 3)}

    calib = _calibrate()
    # In-run contention sentinel (round 12): the calib probes re-run every
    # SEGMENT_EVERY queries, so a bench whose host gets contended MID-RUN is
    # machine-detectable (BENCH_r11 was contaminated exactly this way —
    # untouched queries inflated 8x while the start-of-run probe looked
    # idle). Probe walls are recorded per segment under calib["segments"]
    # and a >1.3x intra-run py-probe drift sets calib["contended"]. The
    # probes run OUTSIDE the per-query timed windows; query timings and the
    # headline total are computed exactly as before.
    SEGMENT_EVERY = 25
    calib["segments"] = [{"at": 0, **{k: calib[k] for k in ("py_sec", "jvm_sec")}}]
    qs = workload.queries()
    names = [n for n in HEADLINE if n in qs]
    # Dev convenience: `python bench.py q1_pricing_summary dedup_simhash`
    # times just those queries (same warm-then-time protocol).
    if len(sys.argv) > 1:
        names = [n for n in sys.argv[1:] if n in qs]

    # Per-query warm-then-time, with a cache reset between queries. Several
    # operators .cache()/.persist() intermediates internally; a single
    # global warm pass accumulates all of those blocks, and the timed pass
    # then runs under eviction pressure (round-3's phantom 26s q1). The
    # warm run absorbs first-call JIT/codegen compilation — the component
    # that vanishes on any long-lived cluster — and the clearCache() bounds
    # the storage footprint to one query's working set at a time. Warm
    # failures are ignored; the timed run reports them per-query.
    # Fault-isolated: one failing query reports as "err", never kills the
    # whole bench (a crashed bench is a zero signal; a per-query err is a
    # precise one).
    timings: dict[str, float | str] = {}
    for qi, name in enumerate(names):
        if qi and qi % SEGMENT_EVERY == 0:
            calib["segments"].append({"at": qi, **_calibrate()})
        # release operator-internal caches from the previous query (the
        # ownership convention: operators materialize, callers release),
        # then clearCache for any caller-level leftovers.
        unpersist_operator_caches()
        clear_session_memos()
        spark.catalog.clearCache()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
        # Round-13 measurement fix (round-12 verdict item 1): reset AGAIN
        # between the warm and the timed pass. Previously the reset ran
        # only BEFORE the warm pass, so operator materializations and
        # localCheckpoint-backed session memos (MinHash+CC components,
        # k-means/PQ codebooks, edge lists) were built in the untimed warm
        # run and consumed by the timed run — and memos additionally
        # survived ACROSS queries for the whole bench. Now every timed
        # window computes from the parquet inputs: memo/cache builds are
        # paid inside the window that uses them. The warm pass still
        # absorbs first-call JIT/codegen, which is its actual job.
        unpersist_operator_caches()
        clear_session_memos()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - bench must always emit JSON
            print(f"bench: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            timings[name] = "err"
    spark.catalog.clearCache()
    calib["segments"].append({"at": len(names), **_calibrate()})
    probes = [s["py_sec"] for s in calib["segments"]]
    calib["contended"] = bool(max(probes) > 1.3 * min(probes))

    total = round(sum(t for t in timings.values() if isinstance(t, float)), 3)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "calib": calib,
        }
    )
    # The driver captures stdout and has truncated the tail mid-JSON before
    # (BENCH_r04: "parsed": null). Persist the artifact to the repo root
    # FIRST so the result survives any stdout truncation, then emit the
    # contract's single JSON line, flushed.
    if len(sys.argv) <= 1:  # full headline runs only — not dev subsets
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"), "w") as fh:
            fh.write(line + "\n")
    print(line, flush=True)


if __name__ == "__main__":
    main()
