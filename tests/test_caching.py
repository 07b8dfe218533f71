"""Materialization ownership: operators materialize only through
``caching.materialize`` and memoize only through ``caching.session_memo``;
session owners release operator-owned blocks with
``unpersist_operator_caches()`` and memo-owned blocks with
``clear_session_memos()`` at composition boundaries. Without the
convention, a long-lived session composing many operators accumulates
storage blocks until eviction pressure (the round-3 phantom-26s class of
failure, but in-session)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from redcap_omop_etl_spark import caching
from redcap_omop_etl_spark.caching import (
    clear_session_memos,
    materialize,
    unpersist_operator_caches,
)
from tests.conftest import SF_SMOKE


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _held_ids(spark) -> set[int]:
    """RDD ids holding storage blocks right now. Set-based checks are
    immune to the ContextCleaner freeing other tests' blocks mid-test."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


class TestCacheOwnership:
    def test_three_caching_operators_release_to_baseline(self, spark):
        from redcap_omop_etl_spark.operators import dedup, retrieval, tsanalytics

        unpersist_operator_caches(blocking=True)
        spark.catalog.clearCache()
        baseline = _n_cached(spark)

        # three operators that each persist an intermediate; run an action
        # on each so the cache actually materializes. (ngram_jaccard_pairs
        # stopped caching in round 12 — the exploded-shingle IMR cache lost
        # its A/B — so the dedup representative is the recall audit, whose
        # reuse keeps its cache.)
        assert dedup.dedup_lsh_recall_audit(spark, SF_SMOKE).count() >= 0
        assert retrieval.retrieval_heavy_hitters(spark, SF_SMOKE).count() > 0
        assert tsanalytics.ts_seasonal_strength(spark, SF_SMOKE).count() > 0

        assert _n_cached(spark) > baseline  # the operators did cache
        released = unpersist_operator_caches(blocking=True)
        assert released >= 3
        assert _n_cached(spark) == baseline  # ...and the release is total

    @pytest.mark.parametrize("mode", ["eager", "lazy", "persist"])
    def test_each_mode_releases_to_baseline(self, spark, mode):
        unpersist_operator_caches(blocking=True)
        before = _held_ids(spark)
        df = materialize(spark.range(100).withColumn("x", F.col("id") * 2), mode)
        assert df.count() == 100
        held = _held_ids(spark) - before
        assert len(held) == 1  # exactly this materialization holds blocks
        assert unpersist_operator_caches(blocking=True) == 1
        assert not held & _held_ids(spark)

    def test_release_is_idempotent_and_registry_drains(self, spark):
        df = materialize(spark.range(10).withColumn("x", F.col("id") * 2), "persist")
        assert df.count() == 10
        assert unpersist_operator_caches(blocking=True) >= 1
        assert caching._OPERATOR_OWNED == []
        assert unpersist_operator_caches() == 0  # second call: nothing left
        # a released persist still computes (recompute, not failure)
        assert df.count() == 10

    @pytest.mark.parametrize("mode", ["eager", "lazy"])
    def test_released_checkpoint_raises_never_returns_rows(self, spark, mode):
        df = materialize(spark.range(50).withColumn("x", F.col("id") * 3), mode)
        assert df.count() == 50
        unpersist_operator_caches(blocking=True)
        # a checkpoint's lineage IS its blocks: no recompute, no partial rows
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK"):
            df.collect()
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK"):
            df.filter(F.col("x") > 30).count()
        assert unpersist_operator_caches(blocking=True) == 0  # second release: no-op


def test_package_materializes_only_through_caching():
    """Convention lint: no module but caching.py calls raw .cache(),
    .persist( or localCheckpoint( — every materialization goes through
    caching.materialize so unpersist_operator_caches() /
    clear_session_memos() can release it."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "redcap_omop_etl_spark"
    offenders = []
    for py in root.rglob("*.py"):
        if py.name == "caching.py":
            continue
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".cache()" in code or ".persist(" in code or "localCheckpoint(" in code:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, "raw materialization outside caching.py:\n" + "\n".join(offenders)


def test_session_memos_clear(spark):
    from redcap_omop_etl_spark.operators import graph

    def edge_entries() -> int:
        # session-memo keys are (applicationId, memo name, *key)
        return sum(k[1] == "copurchase_edges" for k in caching._MEMOS)

    clear_session_memos()
    # populate the co-purchase edge memo, then clear it
    graph._copurchase_edges(spark, SF_SMOKE).count()
    assert edge_entries() == 1
    assert clear_session_memos() >= 1
    assert edge_entries() == 0
    # re-materializes transparently on next use
    assert graph._copurchase_edges(spark, SF_SMOKE).count() > 0
    clear_session_memos()


def test_memo_owns_its_blocks(spark):
    """Blocks made inside a memo build belong to the memo: they survive
    the operator-layer release, ``clear_session_memos()`` frees them, and
    the next call rebuilds."""
    from redcap_omop_etl_spark.operators import graph

    clear_session_memos()
    unpersist_operator_caches(blocking=True)
    before = _held_ids(spark)
    edges = graph._copurchase_edges(spark, SF_SMOKE)
    n = edges.count()
    held = _held_ids(spark) - before
    assert held

    assert unpersist_operator_caches(blocking=True) == 0  # nothing operator-owned
    assert held <= _held_ids(spark)
    assert graph._copurchase_edges(spark, SF_SMOKE) is edges  # memo hit
    assert edges.count() == n

    assert clear_session_memos() >= 1
    deadline = time.monotonic() + 30  # the memo release is non-blocking
    while held & _held_ids(spark) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not held & _held_ids(spark)

    rebuilt = graph._copurchase_edges(spark, SF_SMOKE)
    assert rebuilt is not edges
    assert rebuilt.count() == n
    clear_session_memos()


def test_delete_transition_bands_touched_survivors_once(spark, monkeypatch):
    """Round-12 internals pin: ``minhash_cluster_state_delete`` banding the
    touched survivors exactly once — the materialized (doc, band, bucket,
    m) table feeds BOTH the sub-CC star edges and the hub repair, instead
    of each consumer re-running the signature fold (a pure projection no
    ReuseExchange can share). Pinned by counting the transition's banding
    calls and its band-table materializations, plus the hub-repair output
    staying equal to the survivors' per-bucket minima."""
    from redcap_omop_etl_spark.operators import graph
    from redcap_omop_etl_spark.operators.dedup import minhash_band_table
    from redcap_omop_etl_spark.operators.graph import Catalog

    docs = Catalog(spark, SF_SMOKE)["documents"]
    base_comp, hubs = graph._minhash_cluster_state(spark, SF_SMOKE, family="md5")
    deleted = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 3).select("doc_id")

    bandings, band_tables = [], []

    def counting_band_table(*a, **kw):
        bandings.append(1)
        return minhash_band_table(*a, **kw)

    def recording_materialize(df, mode="eager"):
        if {"doc", "band", "bucket"} <= set(df.columns):
            band_tables.append(mode)
        return materialize(df, mode)

    monkeypatch.setattr(graph, "minhash_band_table", counting_band_table)
    monkeypatch.setattr(graph, "materialize", recording_materialize)
    comp_out, hubs_out = graph.minhash_cluster_state_delete(base_comp, hubs, deleted, docs)
    monkeypatch.undo()
    assert len(bandings) == 1  # one banding pass over the touched survivors
    assert band_tables == ["eager"]  # ...materialized once, shared by both consumers
    # hub invariant unchanged by the reuse: hubs == per-bucket minima of
    # the live corpus (derived independently from a fresh banding pass)
    survivors = docs.join(deleted, "doc_id", "left_anti")
    expect = (
        minhash_band_table(survivors)
        .groupBy("band", "bucket")
        .agg(F.min("doc").alias("hub"))
    )
    got = hubs_out.select("band", "bucket", "hub")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert comp_out.count() > 0
    unpersist_operator_caches()
