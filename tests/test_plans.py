"""Physical-plan assertions: the properties that make queries survive
100 TB are pinned here so regressions show up as test failures, not as
production shuffles.
"""

from __future__ import annotations

import pytest

from redcap_omop_etl_spark import workload
from tests.conftest import SF_SMOKE


def _plan(spark, name):
    df = workload.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


# Queries where a BroadcastNestedLoopJoin is the *intended* physical plan:
# either a 1-row scalar-subquery side (cross join with a broadcast
# aggregate) or a bounded literal dim under a non-equi predicate. Both
# sides are O(1) regardless of fact size, so the nested loop never grows.
_NESTED_LOOP_OK = {
    "q11_important_suppliers",  # scalar global-total threshold (1 row)
    "q15_top_supplier",  # scalar MAX(total_revenue) (1 row)
    "q22_idle_customers",  # scalar AVG(acctbal) threshold (1 row)
    "join_range_bands",  # 3-row literal band dim, range predicate
    "similarity_ann_ivf",  # nearest-centroid assign: bounded nlist-row centroid table
    "ivfpq_append_search",  # append-batch coarse assign vs the bounded FROZEN centroid table
    "semdedup_flags_append",  # ingest-batch coarse assign vs the bounded FROZEN centroid table
    "semdedup_flags_upsert",  # same append-leg coarse assign (delete leg adds no join shape)
    "ivfpq_upsert_search",  # same append-leg coarse assign; delete leg is a candidate filter
    "ivfpq_recall_audit",  # 1-row overlap x 1-row candidate-count summary crossJoin
    "ivfpq_recall_sweep",  # four 1-row overlap x candidate-count scalar crossJoins (one per arm)
    "text_unigram_logprob",  # corpus-total scalar: 1-row broadcast cross join
    "corpus_quality_funnel",  # inherits the unigram-LM scalar cross join
    "corpus_source_divergence",  # corpus-total scalar: 1-row broadcast cross join
    "corpus_temperature_mixture",  # total/wsum scalar: 1-row broadcast cross join
    "dq_distribution_drift",  # bounded KS value grid + 1-row corpus-total scalar
    "retrieval_bm25_topk",  # corpus N/avgdl scalar: 1-row broadcast cross join
    "retrieval_heavy_hitters",  # merged MG decrement bound: 1-row broadcast cross join
    "text_collocation_pmi",  # corpus bigram-total scalar: 1-row broadcast cross join
    "retrieval_rrf_fusion",  # inherits bm25's 1-row corpus-stats cross join
    "graph_degree_assortativity",  # graph summary scalars: 1-row cross joins
    "retrieval_prf_expansion",  # inherits bm25's 1-row corpus-stats cross join
    "graph_kcore_peel",  # per-round edge-count scalar: 1-row cross joins
    "join_bloom_prune",  # build-key-count scalar: 1-row broadcast cross join
    "retrieval_ndcg_eval",  # inherits bm25's 1-row corpus-stats cross join
    "dedup_source_minhash_matrix",  # #sources-row signature self-join, dim-bounded
    "corpus_dsir_weights",  # raw/target feature-total scalars: 1-row broadcast cross join
    "corpus_dsir_weights_fast",  # same plan, xxHash64 family
    "dedup_lsh_recall_audit",  # fixed-budget sample: 1-row corpus-count cross join
}


def test_no_cartesian_products_anywhere(registry_plans):
    for name, plan in registry_plans.items():
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if name not in _NESTED_LOOP_OK:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} has a nested-loop join"


def test_q1_filter_pushed_to_parquet(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_dim_joins_broadcast(spark):
    # Fixed-cardinality dims (lookup maps, PHI dictionaries) MUST broadcast
    # and never sort-merge. SF-scaling sides (customer/supplier/part) are
    # deliberately unhinted — the cost model broadcasts them at test SF,
    # but a derived side with conservative static stats may legitimately
    # plan sort-merge (q5's supplier⋈nation leg), which is exactly the
    # degradation a 100 TB run needs, so q5 only pins that the fixed dims
    # still broadcast.
    for name in ["q3_shipping_priority", "join_broadcast_lookup", "phi_filter_keep"]:
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge at small SF"
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3, "q5: fixed dims not broadcast"


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "join_asof")
    # union + window formulation: exactly one exchange (on user_id)
    assert plan.count("Exchange") == 1, plan


def test_asof_nearest_shares_one_window_exchange(spark):
    # both direction candidates (backward last + forward first) must ride
    # ONE (user_id) exchange — the right-side pre-agg adds its own small
    # exchange, but there is no second window shuffle and no join.
    plan = _plan(spark, "join_asof_nearest")
    assert plan.count("Exchange") == 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Window") == 1, plan  # single WindowExec, two frames


def test_topk_uses_take_ordered(spark):
    for name in ["q3_shipping_priority", "similarity_cosine_topk"]:
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: global top-k not heap-based"


def test_column_pruning_reaches_scan(spark):
    # a 2-column projection must not read the full lineitem schema
    plan = _plan(spark, "agg_distinct_keys")
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]


def test_global_sort_is_range_partitioned(spark):
    # a total-order sort must plan as a parallel range-partition exchange
    # (sampled bounds, one sorted run per partition) — NEVER a
    # single-partition collapse; at 100 TB the latter is a dead executor
    from redcap_omop_etl_spark.sources.readers import Catalog

    li = Catalog(spark, SF_SMOKE)["lineitem"]
    plan = (
        li.orderBy("l_shipdate", "l_orderkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_stream_static_enrich_broadcasts_dim(spark):
    # stream-static enrichment must ship only the dim: broadcast hash
    # join, never a shuffle of the (unbounded at scale) event side
    plan = _plan(spark, "stream_static_enrich")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_banded_near_dup_is_single_shuffle_bucket_gemm(spark):
    # LSH banding must NOT plan candidate-pair generation as a join at
    # all: the verify is one hash exchange on (band, bucket) feeding a
    # grouped-map (blocked GEMM per bucket), so the shuffled volume is
    # n x bands vector rows — never pair-scale, never a nested loop.
    plan = _plan(spark, "embedding_near_dup")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    # exactly one pre-GEMM exchange (the band/bucket repartition); the
    # post-GEMM distinct adds its own small-output exchange
    pre, _, _ = plan.partition("FlatMapGroupsInPandas")
    assert pre.count("Exchange hashpartitioning") == 1


def test_dq_expectations_two_scans_only(spark):
    # the whole audit = one conditional-agg scan + one anti-join scan of
    # orders (per-constraint passes would show up as extra scans)
    plan = _plan(spark, "dq_expectations")
    assert plan.count("Scan parquet") <= 3, plan  # 2x orders + 1x customer


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # row-level runtime filtering: a selective dim filter on one side of a
    # shuffle join injects a bloom filter onto the fact scan, discarding
    # non-joining rows BEFORE the shuffle. Complements DPP (partition
    # granularity) at row granularity. Production thresholds (10 GB
    # application side) are correct for real clusters; lowered here only
    # to exercise the path at test scale.
    from pyspark.sql import functions as F
    from redcap_omop_etl_spark.sources.readers import Catalog

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        cat = Catalog(spark, SF_SMOKE)
        li = cat["lineitem"]
        o = cat["orders"].filter(F.col("o_orderstatus") == "F")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_v2(spark):
    """Footer-statistics aggregates: under the v2 parquet source,
    COUNT/MIN/MAX without filters push into the scan (PushedAggregation)
    and answer from row-group metadata — at 100 TB a corpus-wide count
    reads footers, not data. The engine default stays on v1 (broadest
    compatibility); this pins that the v2 fast path works when enabled.
    A TIMESTAMP_NTZ min/max blocks pushdown of the whole group, which is
    why the pinned set is count + numeric min/max only."""
    import re

    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PushedAggregation: \[[^\]]*\]", plan)
        assert m and "COUNT(*)" in m.group(0) and "MIN(l_extendedprice)" in m.group(0), plan[:800]
        row = agg.collect()[0]
        # values must agree with the v1 (data-scanning) path
        spark.conf.set("spark.sql.sources.useV1SourceList", old)
        base = spark.read.parquet(SF_SMOKE + "/lineitem.parquet").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        ).collect()[0]
        assert (row.n, row.lo, row.hi) == (base.n, base.lo, base.hi)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_chunk_windows_zero_shuffle(spark):
    # chunk grid is generate+slice in one codegen span over one scan
    plan = _plan(spark, "text_chunk_windows")
    assert plan.count("Exchange") == 0, plan


def test_chunk_level_dedup_two_exchanges(spark):
    # one hash(h) exchange feeds BOTH the (h, source) agg and the per-h
    # window; the only other exchange is the final tiny per-source agg
    plan = _plan(spark, "dedup_chunk_level")
    assert plan.count("Exchange") == 2, plan


def test_q21_single_lineitem_scan(spark):
    # window formulation: the fact is scanned once (the agg-and-rejoin
    # form scans it twice and rejoins a fact-sized aggregate)
    plan = _plan(spark, "q21_waiting_suppliers")
    assert plan.count("lineitem.parquet") == 1, plan


def test_pq_argmin_is_single_arrow_pass(spark):
    # round-13 rewrite pin (supersedes the round-6 aggregate pin): the PQ
    # assignment argmin is ONE vectorized ArrowEvalPython pass over the
    # (vector, subspace) rows against the collected parameter-bounded
    # codebook — no broadcast-join pair blowup (rows x codewords), no
    # min(struct) re-aggregation, no exchange, and exactly one Arrow node
    # (a filter on the UDF output duplicates it unless the UDF is marked
    # nondeterministic). Pinned on the UN-memoized pq_assign build plan:
    # the registered query starts from the per-(session, corpus)
    # localCheckpoint RDD, which hides the build shape (round-8 memo).
    from redcap_omop_etl_spark.operators.similarity import pq_assign
    from redcap_omop_etl_spark.sources.readers import Catalog

    best, _cs = pq_assign(Catalog(spark, SF_SMOKE)["embeddings"])
    plan = best._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 0, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan


def test_global_index_is_lazy():
    # round-6 rewrite pin: building a with_global_index plan must run ZERO
    # jobs (an earlier version collected per-partition counts at plan
    # construction — every plan-inspection tool paid a corpus job).
    import inspect

    from redcap_omop_etl_spark.sinks import chunked

    src = inspect.getsource(chunked.with_global_index)
    assert ".collect()" not in src, "with_global_index must not collect at plan construction"


def test_structured_chunker_single_doc_window(spark):
    # the splitter's only window work is doc-partitioned (boundary cumsum
    # + section min); no global window, and the audit output aggregates
    # per source
    plan = _plan(spark, "text_chunk_structured")
    assert "PartitionBy" not in plan  # guard against API drift in toString
    import re

    # every Window operator line must carry a non-empty partition spec
    for line in plan.splitlines():
        s = line.strip().lstrip("+-:* ")
        if s.startswith("Window ") and "windowspecdefinition" in s.lower():
            continue
        if s.startswith("Window "):
            groups = re.findall(r"\[(.*?)\]", s)
            assert len(groups) >= 2 and groups[1].strip(), line


def test_fan_out_decides_without_a_job(spark, tmp_path):
    # fan_out reads only what the planner knows: on a join input (a plan
    # with exchanges) it must not run the plan's query stages to learn
    # its width, and it must still widen a one-split scan
    from redcap_omop_etl_spark.sources.readers import fan_out

    sc = spark.sparkContext
    path = str(tmp_path / "one_split")
    spark.range(200).selectExpr("id AS doc_id", "cast(id AS string) AS text").coalesce(
        1
    ).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    assert fan_out(scan).rdd.getNumPartitions() == sc.defaultParallelism

    ids = spark.read.parquet(path).select("doc_id").filter("doc_id % 7 = 0")
    joined = scan.join(ids.hint("merge"), "doc_id", "left_anti")
    sc.setJobGroup("fan_out_join_input", "fan_out over a join input")
    try:
        fan_out(joined)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fan_out_join_input")) == []
