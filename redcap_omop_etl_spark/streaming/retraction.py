"""Streaming index maintenance: ingest and takedown (GDPR-shaped opt-out)
streams driving the versioned index state in ``state.StateCatalog``.

One ``foreachBatch`` fan-out (``stream_to_delete_ticks``) drives
pluggable APPLIERS over each micro-batch. Every catalog applier is a
thin wrapper over its family's ``state.py`` tick — the one
implementation of each transition, shared with the batch ticks:

- ``catalog_delete_applier(catalog, op, fp, store)`` — a takedown id
  batch through ``state.TICKS[op]`` with ``delete_ids``: near-dup
  cluster table (``graph.dedup_minhash_clusters_delete`` semantics),
  UNFLOORED per-term (df, cf) stats (``retrieval.retrieval_index_delete``
  semantics) or SemDeDup keep-flags (``similarity.semdedup_flags_delete``
  semantics);
- ``catalog_cluster_append_applier`` — a docs batch: the first batch
  bootstraps v1 (``state.cluster_state_bootstrap``), later batches run
  the append tick. ``stream_to_cluster_index`` wires it to a stream.

Each tick is scoped exactly like its batch operator: cluster deletes
recompute only TOUCHED components (co-bucketing docs are always
same-component, so deletion never creates co-occurrence and untouched
components keep identical edge sets); term deletes SUBTRACT the batch's
integer aggregate (associativity — no ordering condition); SemDeDup
deletes recompute only ANCHOR-LOSING cells from their survivors
(deleting a non-anchor member never changes the lowest-id anchor set).
Multi-batch stream ≡ one-shot delete over the union batch ≡ rebuild
over survivors — pinned in tests/test_streaming.py (the single-tick ≡
rebuild legs are value-checked cross-engine by the registered queries'
DuckDB oracles).

Exactly-once: every applied micro-batch commits a NEW catalog version
whose manifest carries a per-stream applied-epoch ledger, so a
crash-replayed batch no-ops (term-stats subtraction applied twice would
be silently wrong) and a bad batch rolls back by pointing at v{N-1}.
The ingest and takedown streams share one (op, corpus-fingerprint) key.
The persisted IVF-PQ ANN index keeps its own layout
(``ivfpq_delete_applier``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize, unpersist_operator_caches

Applier = Callable[[SparkSession, DataFrame, int], None]


# ---------------------------------------------------------------------------
# the bridge
# ---------------------------------------------------------------------------


def stream_to_delete_ticks(
    delete_stream: DataFrame,
    appliers: list[Applier],
    checkpoint_dir: str,
):
    """foreachBatch fan-out of a takedown id stream onto every
    registered index state (``stream_to_cluster_index`` reuses it for a
    docs stream): each micro-batch of deleted ids drives all
    ``appliers`` in order, so one opt-out request propagates to the
    cluster table, the term stats and the SemDeDup flags in a single
    tick. The batch ids are localCheckpoint-pinned once and shared
    across appliers (each applier loads its own state, so a later
    applier never sees a half-written earlier one). Replays after a
    crash are no-ops for the catalog appliers (the epoch ledger in the
    manifest); the availableNow trigger + checkpoint give exactly-once
    within a healthy run."""

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ids = materialize(batch_df)
        spark = batch_df.sparkSession
        for ap in appliers:
            ap(spark, ids, epoch_id)
        # a micro-batch is a composition boundary: every applier has
        # written its state, so free the batch's materializations (the
        # shared ids pin included) once, after the last applier —
        # otherwise a long-lived stream accumulates blocks per epoch
        unpersist_operator_caches()

    return (
        delete_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# exactly-once appliers: state in the versioned catalog, epoch in the
# manifest — crash-replayed micro-batches become no-ops
# ---------------------------------------------------------------------------


def _next_epoch_meta(
    spark, catalog, op: str, fp: str, version: int | None, epoch: int, stream_id: str
) -> dict | None:
    """Manifest meta for a commit applying ``epoch`` from ``stream_id``
    on top of committed ``version`` (None: no state yet), or None when
    that stream has already committed this epoch. Reads the per-stream
    applied-epoch ledger from ``version``'s manifest once.

    The ledger is keyed PER STREAM: the ingest and takedown bridges
    share one (op, fp) state but number foreachBatch epochs
    independently from 0 per checkpoint, so a bare epoch compare would
    silently skip a batch whose number collides with the other stream's
    last commit (e.g. one-batch ingest at epoch 0 followed by the first
    delete batch at epoch 0). Within one stream epochs arrive strictly
    increasing and only the last (failed) epoch can replay after a
    restart, so ``>=`` on that stream's entry is exact. Direct
    (non-stream) invocations pass epoch=-1 and always apply. The meta
    also carries the flat ``epoch``/``stream_id`` fields for human
    readers."""
    ledger = {}
    if version is not None:
        meta = catalog.manifest(spark, op, fp, version).get("meta", {})
        ledger = dict(meta.get("applied_epochs", {}))
    if epoch >= 0:
        if ledger.get(stream_id, -1) >= epoch:
            return None
        ledger[stream_id] = epoch
    return {"epoch": epoch, "stream_id": stream_id, "applied_epochs": ledger}


def catalog_delete_applier(
    catalog, op: str, fp: str, store: DataFrame, stream_id: str = "delete"
) -> Applier:
    """Exactly-once takedown applier for index family ``op``: the
    family's tick (``state.TICKS[op]``) with ``delete_ids`` on the
    latest catalog version, read once per micro-batch: its ledger
    decides the epoch, the tick loads it, and the commit lands exactly
    one version past it (``StateCatalog.save`` raises if another tick
    committed there first, so the batch fails and replays instead of
    dropping that tick's effect). ``store`` is the corpus (cluster,
    term stats) or vector store (SemDeDup) the takedown ids resolve
    against — it still holds the rows until the delete commits."""
    from redcap_omop_etl_spark.state import TICKS

    tick = TICKS[op]

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        v = catalog.latest_version(spark, op, fp)
        meta = _next_epoch_meta(spark, catalog, op, fp, v, epoch, stream_id)
        if meta is not None:
            tick(catalog, fp, store, delete_ids=deleted, meta=meta, base_version=v)

    return apply


def catalog_cluster_append_applier(
    catalog, fp: str, stream_id: str = "append"
) -> Applier:
    """Exactly-once cluster INGEST applier over the batch DOCS frame
    (doc_id, text), not ids: the first batch bootstraps v1, later
    batches run the append tick (id-guarded by the transition core)."""
    from redcap_omop_etl_spark import state

    def apply(spark: SparkSession, batch_docs: DataFrame, epoch: int = -1) -> None:
        op = state.CLUSTER_OP
        v = catalog.latest_version(spark, op, fp)
        meta = _next_epoch_meta(spark, catalog, op, fp, v, epoch, stream_id)
        if meta is None:
            return
        if v is None:
            state.cluster_state_bootstrap(catalog, batch_docs, fp, meta=meta)
        else:
            state.cluster_state_tick(
                catalog, fp, batch_docs, append_docs=batch_docs, meta=meta, base_version=v
            )

    return apply


def stream_to_cluster_index(stream: DataFrame, catalog, fp: str, checkpoint_dir: str):
    """foreachBatch bridge into the incremental near-dup cluster state:
    a stream of new documents ``(doc_id, text)`` lands micro-batch by
    micro-batch and each batch bands against the frozen hub/component
    state and merges through the batch-sized append transition, so the
    cluster table stays current without re-running components over the
    corpus. Batch ids must be DISJOINT from all earlier ids (the usual
    ingest contract); by induction each version equals a full rebuild
    over everything ingested so far. The takedown stream
    (``catalog_delete_applier(catalog, state.CLUSTER_OP, fp, corpus)``)
    shares the same state."""
    return stream_to_delete_ticks(
        stream, [catalog_cluster_append_applier(catalog, fp)], checkpoint_dir
    )


def ivfpq_delete_applier(index_path: str) -> Applier:
    """Takedown applier for a persisted IVF-PQ index
    (``similarity.ivf_write_index`` layout): delegates to
    ``ivfpq_delete_from_index`` — frozen codebook/centroids, rewrite
    scoped to the cluster partitions containing deleted ids, untouched
    cells byte-identical. With this, one opt-out stream covers all four
    index families (clusters, term stats, SemDeDup flags, ANN index)."""
    from redcap_omop_etl_spark.operators.similarity import ivfpq_delete_from_index

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        ivfpq_delete_from_index(
            spark, index_path, deleted.select(F.col(deleted.columns[0]).alias("vec_id"))
        )

    return apply
