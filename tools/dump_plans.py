"""Regenerate PLANS.md: formatted physical plans for representative
queries, annotated with the scale property each plan demonstrates.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.session import build_session

# query -> the scale property the plan shows (rendered as the annotation)
SHOWCASE: dict[str, str] = {
    "q1_pricing_summary": "Filter + projection reach the parquet scan "
    "(`PushedFilters`, pruned `ReadSchema`); partial aggregation before the "
    "single shuffle; whole-stage codegen end to end.",
    "q3_shipping_priority": "Selective dim broadcast (`BroadcastHashJoin` "
    "on the filtered customer side); top-k via `TakeOrderedAndProject`, "
    "never a global sort.",
    "q17_small_quantity_avg": "Correlated per-group AVG as a window — ONE "
    "exchange on `l_partkey` where the decorrelated agg+join would shuffle "
    "lineitem twice.",
    "join_asof": "As-of join as union + window: one exchange on the key, "
    "no range cross-product.",
    "q8_market_share": "Seven-table star join: every dim chain "
    "(part, supplier→nation, customer→nation→region semi) broadcasts; the "
    "only shuffle exchanges are the lineitem⨝orders fact join and the "
    "final year agg.",
    "q21_waiting_suppliers": "EXISTS + NOT-EXISTS folded into per-order "
    "supplier-set windows over ONE pass of the fact: lineitem scanned "
    "once, shuffled once on l_orderkey; window state bounded by "
    "suppliers-per-order. Beats both the agg-and-rejoin form (two scans "
    "+ fact-sized rejoin; 2x slower at 16x rows) and the literal SQL's "
    "three self-join shuffles.",
    "join_salted_skew": "Skew-resistant replicated join: dim exploded "
    "per-salt, fact routed by deterministic hash — hot keys spread across "
    "reducers.",
    "window_topk_per_group": "Per-group ranking window: single "
    "hash-partition exchange, rank filter pushed right after the window.",
    "dedup_exact": "Exact dedup = map-side-combine-friendly hash "
    "aggregation on the content fingerprint; one shuffle.",
    "similarity_cosine_topk": "Brute-force cosine scored in a single "
    "projection (higher-order functions, no shuffle); global top-k via "
    "`TakeOrderedAndProject`.",
    "sink_chunk_assignment": "Scalable global row index: per-partition "
    "offsets + window inside the partition — no single-partition window.",
    "phi_filter_keep": "PHI filter: broadcast field-map join + one "
    "codegen'd CASE chain; the date-cleaned dependency stays a data "
    "dependency (no filter reorder past the transform).",
    "docs_prep_pipeline": "Composed LLM-prep flagship: quality-gate "
    "filters evaluated at the scan, then exactly two exchanges — the "
    "fingerprint dedup (min_by representative, partial agg before the "
    "shuffle) and the per-source stats agg.",
    "agg_moments": "Second-moment family (stddev/var/corr/covar/regr) in "
    "ONE aggregate: every moment accumulates in the same partial+final "
    "pass — adding statistics does not add shuffles.",
    "cohort_retention": "Cohort retention: user-keyed agg, distinct, and "
    "join all reuse one user_id partitioning (AQE-coalesced); only the "
    "tiny (cohort, week) rollup reshuffles.",
    "dq_profile_orders": "Whole-table profile in one scan: every "
    "column's nulls/distincts/min/max in a single aggregate (one Expand "
    "for the distincts), long form via exploded struct array over the "
    "1-row result.",
    "corpus_pipeline_full": "Capstone composition (mixture → quality "
    "gate → dedup → packing → stats): mixture and gate evaluate at the "
    "scan; packing's per-source running sum is the two-phase "
    "keyed_running_sum (range exchange on (source, keep_id), offsets "
    "from the tiny per-(pid, source) summary, data window partitioned "
    "by (__pid, source)) — no sort ever lands on the ~20-value source "
    "key alone.",
    "curation_quantile_normalize": "Two-phase keyed ntile "
    "(scalable_windows.keyed_ntile): range exchange on (source, "
    "n_chars, doc_id); per-(pid, source) counts become cumulative "
    "offsets + per-key totals over a summary bounded by partition "
    "count; the data-sized row_number window partitions by "
    "(__pid, source) — parallelism = partition count, not the ~20 "
    "source values; tile = closed-form ntile arithmetic; 20-row "
    "broadcast reference means.",
    "corpus_source_caps": "Per-source quota via two-phase top-k: "
    "WindowGroupLimit Partial prunes to K per (pid, source) MAP-SIDE, "
    "below the exchange — only ≤ #partitions×K candidate rows ever "
    "shuffle (the old form aggregated ALL ranked rows, defeating the "
    "prune and forcing the corpus onto the 20-value key); exact rank "
    "over the candidate frame, dim-sized broadcast join to totals.",
    "dedup_containment_capped": "Capped containment: warm shingles "
    "(bucket_cap < df ≤ df_cap) route their documents whole to the "
    "overflow channel, so every joined shingle has df ≤ cap and "
    "candidates are linear in corpus size; containment among clean "
    "docs exact; AQE-unhinted joins degrade gracefully when the "
    "overflow set is large. Slope 1.23× at 64× mutated data vs 13.7× "
    "uncapped (SCALE_r07).",
    "multimodal_decode_stats": "Two Arrow mapInPandas stages — "
    "generate valid BMP/WAV containers, then REALLY decode them "
    "(header parse, row flip, padding strip, chunk walk) — bytes "
    "never shuffle; output is a narrow integer-stats frame.",
    "embedding_label_dispersion": "Mean pairwise cosine per label with "
    "ZERO pair enumeration (sum-vector identity): exact-integer "
    "quantization ladder, one (label, dim) hash agg + label agg — no "
    "join, no window, 64 agg rows per vector at any corpus size.",
    "corpus_epoch_shuffle": "Deterministic epoch shuffle: md5-ordered "
    "two-phase global rank (range exchange + per-partition row_number + "
    "broadcast offsets) round-robined into shards — reproducible, "
    "balanced, no single-task sort, no RNG.",
    "dedup_source_minhash_matrix": "Per-source MinHash signatures as "
    "map-side-combinable min aggregates (one scan, #sources-row "
    "shuffle); the pair matrix is a dimension-bounded self-join.",
    "corpus_token_budget_cut": "Per-source token quota via the "
    "two-phase keyed_running_sum: exclusive prefix sums partitioned by "
    "(__pid, source), start-offset keep rule, audit aggregate on the "
    "same frame — no ~20-task packing ceiling.",
    "bpe_learn_sampled": "One distributed word-frequency aggregate "
    "(BPE's sufficient statistic) + bounded TakeOrdered collect; all "
    "merges learned driver-locally (lazy-invalidation heap) — the "
    "per-merge driver round-trip of the iterative learner is gone.",
    "text_chunk_windows": "RAG chunk grid (stride-48 windows of 64 "
    "tokens): sequence()+explode+slice in ONE whole-stage-codegen span "
    "over one pruned scan — zero exchanges, zero Python; output rows "
    "scale with token count / stride.",
    "dedup_chunk_level": "Chunk-dup profile: one repartition(h) "
    "exchange serves BOTH the (h, source) aggregate and the per-h "
    "window (hash(h) clusters each), then only the tiny per-source agg "
    "reshuffles — two exchanges, no raw-chunk self-join.",
    "dedup_prefix_jaccard": "PPJoin prefix filter: the candidate "
    "self-join keys only on each document's RAREST "
    "|d|-ceil(t|d|)+1 shingles (global df ascending) — exact recall "
    "with bucket sizes bounded where hot-shingle blocking explodes; "
    "the length + positional filters (match-position overlap upper "
    "bound, 2.8x candidate cut at sf0.1) prune before the verify join, "
    "which touches survivors only.",
    "retrieval_zipf_fit": "Two-phase range-partitioned frequency rank "
    "(with_global_index): range exchange on (cf DESC, term), "
    "per-partition row_number + LAZILY-derived broadcast offsets (the "
    "cumulative-offset window runs over the #partitions-row counts "
    "frame, bounded by partition count) — no data-sized global window "
    "AND no driver collect at plan construction; a web-scale vocabulary "
    "never crosses one task.",
    "dedup_prefix_jaccard_capped": "Dup-density-capped PPJoin: prefix "
    "buckets above the cap route their docs whole to the overflow "
    "side-channel (one semi + one anti join), so candidate count is "
    "bounded by #prefix-shingles x cap^2/2 — linear in corpus size; "
    "exact recall among clean docs is provable (a qualifying clean "
    "pair's shared prefix shingle cannot be hot).",
    "text_chunk_structured": "Structure-aware splitter: posexplode "
    "in-row fan-out, ONE doc-partitioned window for the cumulative "
    "boundary count, hash aggregate per (doc, section, sub) — offsets "
    "preserved so spans map back to source positions; no global window, "
    "no Python.",
    "embedding_pq_audit": "PQ assignment argmin as min(struct(d2q, "
    "codeword)) hash AGGREGATE: partial-aggregates map-side so only "
    "rows x subspaces single-struct rows shuffle — the row_number "
    "window it replaced exchanged and sorted rows x subspaces x 32 "
    "candidates.",
    "retrieval_ndcg_eval": "nDCG@10: both rankings are "
    "TakeOrderedAndProject cuts (observed by integer BM25 score, ideal "
    "by integer relevance); gains x Python-literal discounts quantize "
    "to integer micro-units before order-exact sums; the two sums meet "
    "in one tagged-union hash aggregate — no 1-row crossJoin.",
    "curation_pareto_frontier": "Pareto domination with NO corpus-sized "
    "window and no pairwise self-join: the corpus collapses through "
    "(source, q_int, n_chars) and (source, q_int) hash aggregates "
    "(max_by carries the tie count at the group max); the only window "
    "— the strictly-better-quality running max — runs over that "
    "value-domain-bounded frame (≤ 1e6+1 rows per source).",
    "graph_link_prediction": "Wedge enumeration = adjacency self-join "
    "on the MIDDLE vertex (triangle-count shape), anti-join drops "
    "existing edges, memoized degree table joins back, integer-keyed "
    "TakeOrderedAndProject top-20.",
    "embedding_matryoshka_audit": "Two scored scans (full-dim + "
    "32-prefix slice), 1e4-quantized scores for deterministic LIMIT "
    "cuts, overlap as a k x k-bounded join — corpus cost is exactly "
    "two brute-force passes.",
    "graph_kcore_peel": "Bounded iterative peel as ONE unrolled plan: "
    "per round a degree hash-agg and two joins against the bounded "
    "keep set; no per-round driver collect.",
    "embedding_covariance": "Distributed Gram covariance: mapInPandas "
    "emits batch-local int64 Q^T Q partials, so the exchange carries "
    "batches x d^2 summary rows — never corpus x d^2; marginal joins are "
    "64-row broadcasts.",
    "join_bloom_prune": "Runtime Bloom filter made explicit: three "
    "map-side broadcast joins against the bounded set-bit table drop "
    "non-matching fact rows BEFORE any shuffle; no BNLJ, no fact "
    "exchange.",
    "retrieval_bm25_topk": "BM25: query-term filter BEFORE the tf "
    "shuffle, doc-length agg co-keyed on doc_id, 1-row corpus-stats "
    "broadcast; top-15 via TakeOrderedAndProject.",
    "ts_cusum_changepoint": "CUSUM: one corpus shuffle to the daily "
    "series; all four windows (count/total/rank/running-sum) share one "
    "event_type-partitioned exchange over the bounded series.",
    "corpus_source_divergence": "Entropy + KL(source‖corpus) from ONE "
    "corpus explode: the corpus distribution is a vocab-sized "
    "re-aggregation of the (source, token) counts (no second pass), "
    "broadcast back; grand total is a 1-row broadcast scalar.",
    "dedup_span_coverage": "Exact verbatim-span dedup, linear plan: "
    "stride-window explode -> md5 hash-agg, distinct-doc count as a "
    "window over the HIGH-cardinality window hash (parallelism = "
    "#distinct windows), per-doc hash-agg; no self-join, no pairwise "
    "blowup at any corpus size.",
    "dedup_span_removal": "Span-removal action plan: duplicated windows "
    "left-semi-joined on the window hash, island-merged into maximal "
    "char spans via two doc_id-partitioned windows (cardinality = "
    "corpus), per-doc removable-bytes agg — all integer arithmetic.",
    "corpus_dsir_weights": "DSIR importance weights: one bigram explode "
    "-> two 256-bucket hash-aggs (map-side combined), micro-quantized "
    "ratio table broadcast back, exact integer per-doc sums; zero "
    "data-sized joins or windows.",
    "embedding_label_outliers": "Centroid-distance outliers: labels x "
    "dim centroid agg broadcast back, map-side distance, per-label "
    "top-k through two-phase keyed_topk (no 10-task sort ceiling on "
    "the low-cardinality label key).",
    "corpus_span_source_matrix": "Exact cross-source verbatim-span "
    "matrix: DISTINCT (source, window-hash) agg, self-join on the "
    "high-cardinality hash with per-key fan bounded by #sources — "
    "linear in distinct windows, output is the source-dim matrix.",
    "text_quality_classifier": "Model-based quality filter: unigram+"
    "bigram features via zip_with (no self-join), md5 bucket, the "
    "B-row weight table broadcast-joined (a real pretrained model "
    "swaps the table, not the plan), per-doc exact integer milli-unit "
    "sum — one scan, linear at any corpus size.",
    "corpus_vocab_coverage": "Tokenizer OOV audit: vocab-sized count "
    "agg, top-V cut via TakeOrderedAndProject (no full vocabulary "
    "sort), V-row vocab broadcast left-joined back, per-(source,lang) "
    "hash-agg over exact integer ratios.",
    "dedup_survivorship": "Cluster survivorship: stop-shingle-guarded "
    "Jaccard pair gen, checkpoint-bounded star-contraction components, "
    "one max-struct survivor agg over cluster members (≪ corpus), "
    "member/survivor tables broadcast back onto the doc stream — no "
    "corpus-sized sort or window.",
    "dedup_minhash_clusters": "Bounded-output near-dup summary (round "
    "8): LSH band table → per-bucket STAR edges (same components as the "
    "bucket clique at ≤ docs×bands edges) → large-star/small-star "
    "contraction → per-doc (cluster_rep, is_survivor, cluster_size). "
    "No pair materialization anywhere: 19.2× wall at 256× mutated data "
    "while the pair stream grew >100× (SCALE_r08).",
    "dedup_survivorship_capped": "Production survivorship composition "
    "(round 8): capped-PPJoin exact pairs among clean docs UNION "
    "MinHash star edges over routed overflow docs → contraction "
    "components → per-source rollup with the n_overflow audit column. "
    "1.04× at 64× mutated vs the uncapped twin's 23.6× (SCALE_r08).",
    "dedup_lsh_recall_audit": "Fixed-budget S-curve audit (round 8): "
    "sample fraction budget/N resolved IN-PLAN by a 1-row corpus-count "
    "broadcast scalar (the allowlisted BNLJ pattern), exact-Jaccard "
    "truth vs band predicate on the sampled docs, Wald 95% CI column "
    "value-oracled. 0.93× at 64× mutated (was 8.77× at a fixed 40%).",
    "sampling_leakage_safe_split": "Leakage-safe split: cluster ids "
    "broadcast onto the doc stream, md5 split_assign over "
    "coalesce(component, doc_id); straddle counts join the pair list "
    "(≪ corpus) to assignments; 3-row split dim fixes the shape.",
    "conversation_turn_audit": "Chat-format validation: one window pass "
    "over high-cardinality user_id computes lag/session-id/violation "
    "flags together; integer epoch-second arithmetic replays exactly "
    "cross-engine.",
    "text_quality_classifier_fast": "xxHash64 production twin of the "
    "quality classifier: identical broadcast weight-table plan, "
    "codegen'd hash in place of the oracle-portable interpreted md5.",
    "dedup_semdedup": "SemDeDup: k-means cells from the memoized "
    "ivf_build index, then each row does ≤16 codegen'd cosines "
    "(_semdedup_flag) against the per-cell ANCHOR roster "
    "(_semdedup_roster, two-phase keyed_topk) — UNHINTED join (cost model "
    "broadcasts at small k; shuffle at cell-count parallelism when "
    "production scales k with the corpus), no corpus self-join, "
    "corpus-sized keep-flag output; the anchor cap is the recall/cost "
    "dial (capped-containment contract).",
    "dedup_minhash_clusters_append": "Incremental cluster-table "
    "maintenance (round 9): the batch bands against the FROZEN "
    "hub/component state (localCheckpoint scans in the plan — base "
    "signatures never recompute), the merge CC runs over a batch-sized "
    "rep/batch graph, and only the output window touches the corpus.",
    "ivfpq_recall_audit": "IVF-PQ recall audit (round 9): both top-k "
    "sets are TakeOrderedAndProject heaps, the overlap is a k-row "
    "join, and the two 1-row summary sides combine via broadcast "
    "crossJoins — Catalyst prunes the unused adc_rank window out of "
    "the plan entirely.",
    "similarity_ivf_pq_adc": "IVF-PQ ADC search: candidates "
    "ranked from 8-byte PQ codes via a broadcast 8×16 integer distance "
    "table + hash-agg sum (exact, order-free); TakeOrdered heap for "
    "top-k; raw vectors touched only for the exact-cosine audit column "
    "on the 10 survivors.",
    "dedup_minhash_clusters_delete": "Cluster-table DELETION "
    "maintenance (round 10): untouched components' labels stream "
    "straight off the frozen localCheckpoint scan (left-anti against "
    "the touched-member set — no recompute); only the touched "
    "components' survivors re-band and re-contract; the single corpus "
    "window is the output cluster_size count.",
    "semdedup_flags_append": "Incremental SemDeDup (semdedup_state_append, "
    "the transition the catalog tick runs): base keep-flags are a frozen "
    "localCheckpoint scan passed through verbatim; the batch "
    "coarse-assigns to the frozen centroids in one Arrow argmin pass "
    "and does ≤16 codegen'd cosines against the frozen anchor roster "
    "extended by the batch — batch-sized work end to end.",
    "retrieval_index_append": "Incremental retrieval stats "
    "(_term_stats_merge, the merge the catalog tick runs): the frozen "
    "per-term df/cf table (localCheckpoint scan) full-outer-merges with "
    "the batch's own tokenize+agg on the vocabulary key — zero "
    "base-text reads in the plan; exact integer addition.",
    "ivfpq_recall_sweep": "n_probes tuning sweep (round 10): ADC "
    "distances + per-cell probe rank computed ONCE over the memoized "
    "codes (InMemoryTableScan reused by all arms), then four "
    "statically-unrolled filter + TakeOrdered-10 arms with 1-row "
    "scalar rollups — no range join, no corpus-wide window.",
    "dedup_ingest_tick_routed": "Automated ingest routing (round 11): "
    "the returned plan is the PROBE-CHOSEN route's plan (here the "
    "exact tick at gate density) unioned with the 1-row audit record; "
    "the probe itself ran eagerly at plan-construction time as one "
    "integer aggregate over batch prefix counts joined to the FROZEN "
    "prefix index (localCheckpoint scans) — no candidate pair is ever "
    "generated to make the decision.",
    "dedup_minhash_clusters_upsert": "Mixed cluster upsert (round 11): "
    "the delete transition's touched-component recompute and the "
    "append transition's batch-sized merge CC compose over the shared "
    "frozen state (materialized between the legs); untouched "
    "labels stream off the checkpointed state scan, and the single "
    "corpus-wide window is the output cluster_size count — identical "
    "shape discipline to the single-direction ticks.",
    "semdedup_flags_upsert": "Mixed SemDeDup upsert: "
    "anchor-losing cells recompute from survivors (cell-keyed joins), "
    "then the guarded append leg runs semdedup_flags_append's "
    "Arrow coarse-assign + ≤16-cosine shape against the "
    "POST-DELETE roster; survivor flags pass through from the cached "
    "delete-leg frame.",
    "ivfpq_drift_audit": "Index staleness audit (round 11): per "
    "generation, frozen-arm candidates come from the memoized code "
    "table + cumulative batch encodes (broadcast codebook/centroid "
    "dims), the retrained arm from one additional memoized ivf_build "
    "over the union corpus; panel-keyed probe ranks and ADC tables "
    "are parameter-bounded broadcasts, exact top-10 per (query, arm) "
    "via keyed windows; per-generation scalars collect driver-side "
    "(G×8 numbers).",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session("plans")
    qs = workload.queries()
    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan evidence for the scale claims\n\n"
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(re-run after plan-affecting changes; `tests/test_plans.py` pins "
        "the load-bearing properties so regressions fail CI, this file is "
        "the human-readable evidence).\n"
    )
    for name, why in SHOWCASE.items():
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out.write(f"\n## {name}\n\n{why}\n\n```\n{plan.rstrip()}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out.getvalue())
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
