"""Streaming retraction — the takedown/opt-out (GDPR-shaped) bridge
onto the round-10 deletion ticks.

``stream_to_cluster_index`` (streaming/windows.py) covers append-only
ingest; this module covers the other direction: a stream of deleted
doc/vector ids lands micro-batch by micro-batch and each batch drives
the persisted index states through their O(touched) delete ticks —
near-dup cluster table (``graph.dedup_minhash_clusters_delete``
semantics), inverted-index term stats
(``retrieval.retrieval_index_delete`` semantics), SemDeDup keep-flags
(``similarity.semdedup_flags_delete`` semantics) and the persisted
IVF-PQ ANN index (``similarity.ivfpq_delete_from_index``) — so every
index is continuously right-to-be-forgotten-compliant without an
O(corpus) rebuild per takedown batch.

Design: one ``foreachBatch`` fan-out (``stream_to_delete_ticks``) over
pluggable APPLIERS, each owning one on-disk state layout:

- ``{state}/components`` + ``{state}/hubs``  — cluster state (same
  layout ``stream_to_cluster_index`` writes, so one state dir serves
  both the ingest and the retraction stream);
- ``{state}/terms``                          — per-term (df, cf),
  UNFLOORED (query-time floors like df>=3 must never be baked into
  maintained state, or subtraction goes wrong for floored-out terms);
- ``{state}/flags`` + ``{state}/anchors``    — SemDeDup per-vector
  keep-flags and per-cell anchor roster.

Each applier is scoped exactly like its batch tick: cluster deletes
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

State writes localCheckpoint before overwriting (Spark refuses to
overwrite a path it is still reading); production would swap in a
manifest commit like the chunked sink's 2PC.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize, unpersist_operator_caches

Applier = Callable[[SparkSession, DataFrame, int], None]


# ---------------------------------------------------------------------------
# state bootstrap writers (one per layout; idempotent full writes)
# ---------------------------------------------------------------------------


def write_cluster_state(docs: DataFrame, state_path: str) -> None:
    """Bootstrap ``{state}/components`` + ``{state}/hubs`` from a docs
    frame — identical layout and semantics to ``stream_to_cluster_index``'s
    first-batch bootstrap, exposed so a retraction stream can start from
    a batch-built corpus."""
    from redcap_omop_etl_spark.operators.dedup import (
        minhash_band_table,
        minhash_star_edges,
    )
    from redcap_omop_etl_spark.operators.graph import connected_components

    comp = materialize(connected_components(minhash_star_edges(docs)))
    hubs = (
        minhash_band_table(docs)
        .groupBy("band", "bucket")
        .agg(F.min("doc").alias("hub"))
        .transform(materialize)
    )
    comp.write.mode("overwrite").parquet(f"{state_path}/components")
    hubs.write.mode("overwrite").parquet(f"{state_path}/hubs")


def write_term_stats_state(docs: DataFrame, state_path: str) -> None:
    """Bootstrap ``{state}/terms`` — per-term (df, cf), UNFLOORED."""
    from redcap_omop_etl_spark.operators.retrieval import _tokens

    tf = _tokens(docs).groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    materialize(stats).write.mode("overwrite").parquet(
        f"{state_path}/terms"
    )


def write_semdedup_state(
    flags: DataFrame, anchors: DataFrame, state_path: str
) -> None:
    """Bootstrap ``{state}/flags`` (vec_id, cluster, n_dup_anchors,
    is_kept) + ``{state}/anchors`` (cluster, a_id, a_v) from the
    session's SemDeDup frames (``semdedup_flags_memo`` /
    ``semdedup_anchors_memo``)."""
    materialize(flags).write.mode("overwrite").parquet(
        f"{state_path}/flags"
    )
    anchors.select(
        F.col("cluster").cast("bigint").alias("cluster"), "a_id", "a_v"
    ).transform(materialize).write.mode("overwrite").parquet(
        f"{state_path}/anchors"
    )


# ---------------------------------------------------------------------------
# delete-tick appliers (one per state layout)
# ---------------------------------------------------------------------------


def cluster_delete_applier(state_path: str, corpus: DataFrame) -> Applier:
    """Takedown applier for the cluster state: touched components only
    (``graph.dedup_minhash_clusters_delete`` semantics), plus HUB
    REPAIR — a deleted doc can be a bucket's hub, so every touched
    component's buckets (and deleted singletons' solo buckets) are
    re-derived from the survivors' deterministic banding; untouched
    buckets keep their frozen hubs (no member of theirs was removed).
    ``corpus`` is the document store the takedown ids resolve against
    (the store still holds the docs until the delete commits)."""
    from redcap_omop_etl_spark.operators.graph import minhash_cluster_state_delete

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        comp = spark.read.parquet(f"{state_path}/components")
        hubs = spark.read.parquet(f"{state_path}/hubs")
        comp_out, hubs_out = minhash_cluster_state_delete(comp, hubs, deleted, corpus)
        # pin BOTH outputs before either write: hubs_out's lineage reads
        # the components parquet, so writing components first would feed
        # the hub repair post-delete state
        comp_out = materialize(comp_out)
        hubs_out = materialize(hubs_out)
        comp_out.write.mode("overwrite").parquet(f"{state_path}/components")
        hubs_out.write.mode("overwrite").parquet(f"{state_path}/hubs")

    return apply


def term_stats_delete_applier(state_path: str, corpus: DataFrame) -> Applier:
    """Takedown applier for the term-stats state: subtract the batch's
    per-term integer aggregate (``retrieval.retrieval_index_delete``
    semantics — exact by associativity, no id condition); terms whose
    df hits zero drop out of the state."""
    from redcap_omop_etl_spark.operators.retrieval import _tokens

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        stats = spark.read.parquet(f"{state_path}/terms")
        batch = corpus.join(
            deleted.select(F.col(deleted.columns[0]).alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        btf = _tokens(batch).groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
        bstats = btf.groupBy("term").agg(
            F.count(F.lit(1)).alias("df_b"), F.sum("tf").alias("cf_b")
        )
        out = (
            stats.join(bstats, "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce("df_b", F.lit(0))).cast("long").alias("df"),
                (F.col("cf") - F.coalesce("cf_b", F.lit(0))).cast("long").alias("cf"),
            )
            .filter(F.col("df") > 0)
            .transform(materialize)
        )
        out.write.mode("overwrite").parquet(f"{state_path}/terms")

    return apply


def semdedup_delete_applier(state_path: str, embeddings: DataFrame) -> Applier:
    """Takedown applier for the SemDeDup state: delegates to the
    factored ``similarity.semdedup_state_delete`` transition (cells that
    lost no anchor pass frozen flags through minus deleted rows;
    anchor-losing cells recompute flags AND roster from survivors —
    correctly NOT a row filter, since deleting an anchor can flip other
    members' flags). ``embeddings`` is the vector store the surviving
    members' vectors resolve against."""
    from redcap_omop_etl_spark.operators.similarity import semdedup_state_delete

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        flags = spark.read.parquet(f"{state_path}/flags")
        anchors = spark.read.parquet(f"{state_path}/anchors")
        flags_out, anchors_out = semdedup_state_delete(
            flags, anchors, deleted, embeddings
        )
        # pin BOTH before either overwrite (anchors_out reads the flags
        # parquet through the touched-cell membership map)
        flags_out = materialize(flags_out)
        anchors_out = materialize(anchors_out)
        flags_out.write.mode("overwrite").parquet(f"{state_path}/flags")
        anchors_out.write.mode("overwrite").parquet(f"{state_path}/anchors")

    return apply


# ---------------------------------------------------------------------------
# the bridge
# ---------------------------------------------------------------------------


def stream_to_delete_ticks(
    delete_stream: DataFrame,
    appliers: list[Applier],
    checkpoint_dir: str,
):
    """foreachBatch fan-out of a takedown id stream onto every
    registered index state: each micro-batch of deleted ids drives all
    ``appliers`` in order, so one opt-out request propagates to the
    cluster table, the term stats and the SemDeDup flags in a single
    tick. The batch ids are localCheckpoint-pinned once and shared
    across appliers (each applier re-reads its own state, so a later
    applier never sees a half-written earlier one — states are
    independent directories). Checkpointed: replayed batches re-apply
    semi-join/subtract deletes of ids that are already gone, which is
    NOT idempotent for the subtraction applier — production pairs this
    with the manifest-commit dedup of the chunked sink (or an
    applied-batch ledger keyed by epoch); the availableNow trigger +
    checkpoint here gives exactly-once within a healthy run."""

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


# ---------------------------------------------------------------------------
# exactly-once appliers: state in the versioned catalog, epoch in the
# manifest — crash-replayed micro-batches become no-ops
# ---------------------------------------------------------------------------


def _applied_epochs(spark, catalog, op: str, fp: str) -> dict[str, int]:
    """The per-stream applied-epoch ledger carried in the latest
    committed manifest (empty for fresh or pre-round-12 state)."""
    v = catalog.latest_version(spark, op, fp)
    if v is None:
        return {}
    meta = catalog.manifest(spark, op, fp, v).get("meta", {})
    return dict(meta.get("applied_epochs", {}))


def _epoch_already_applied(
    spark, catalog, op: str, fp: str, epoch: int, stream_id: str
) -> bool:
    """True iff ``stream_id`` has already committed this epoch (or a
    later one) against ``op/fp``. The ledger is keyed PER STREAM: the
    ingest and takedown bridges share one (op, fp) state but number
    foreachBatch epochs independently from 0 per checkpoint, so a bare
    epoch compare would silently skip a batch whose number collides
    with the other stream's last commit (e.g. one-batch ingest at
    epoch 0 followed by the first delete batch at epoch 0). Within one
    stream epochs arrive strictly increasing and only the last (failed)
    epoch can replay after a restart, so ``>=`` on that stream's entry
    is exact. Direct (non-stream) invocations pass epoch=-1 and always
    apply."""
    if epoch < 0:
        return False
    return _applied_epochs(spark, catalog, op, fp).get(stream_id, -1) >= epoch


def _epoch_meta(
    spark, catalog, op: str, fp: str, epoch: int, stream_id: str
) -> dict:
    """Manifest meta for a commit applying ``epoch`` from ``stream_id``:
    the previous ledger with this stream's entry advanced (plus the
    legacy flat fields for human readers)."""
    ledger = _applied_epochs(spark, catalog, op, fp)
    if epoch >= 0:
        ledger[stream_id] = epoch
    return {"epoch": epoch, "stream_id": stream_id, "applied_epochs": ledger}


def catalog_cluster_delete_applier(
    catalog, fp: str, corpus: DataFrame, stream_id: str = "delete"
) -> Applier:
    """Exactly-once cluster takedown applier: the delete transition
    runs against the LATEST catalog version and commits a NEW version
    whose manifest records the epoch — a crash-replayed micro-batch
    finds its epoch in the latest manifest and no-ops, closing the
    re-subtraction caveat the raw-directory appliers document. Rollback
    of a bad batch = point at v{N-1}; concurrent readers of old
    versions are never clobbered."""
    from redcap_omop_etl_spark.operators.graph import minhash_cluster_state_delete
    from redcap_omop_etl_spark.state import CLUSTER_OP

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        if _epoch_already_applied(spark, catalog, CLUSTER_OP, fp, epoch, stream_id):
            return
        frames = catalog.load(spark, CLUSTER_OP, fp)
        comp_out, hubs_out = minhash_cluster_state_delete(
            frames["components"], frames["hubs"], deleted, corpus
        )
        catalog.save(
            spark,
            CLUSTER_OP,
            fp,
            {"components": comp_out, "hubs": hubs_out},
            meta=_epoch_meta(spark, catalog, CLUSTER_OP, fp, epoch, stream_id),
        )

    return apply


def catalog_term_stats_delete_applier(
    catalog, fp: str, corpus: DataFrame, stream_id: str = "delete"
) -> Applier:
    """Exactly-once term-stats takedown applier — the one that NEEDS
    the ledger most: integer subtraction applied twice is silently
    wrong, not merely wasteful."""
    from redcap_omop_etl_spark.operators.retrieval import _tokens
    from redcap_omop_etl_spark.state import TERM_OP

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        if _epoch_already_applied(spark, catalog, TERM_OP, fp, epoch, stream_id):
            return
        frames = catalog.load(spark, TERM_OP, fp)
        stats, already = frames["terms"], frames["deleted"]
        # per-id idempotence on top of the per-epoch ledger: subtraction
        # applied twice for one id is silently wrong, and real opt-out
        # streams repeat ids across requests — the state's cumulative
        # takedown set filters them
        fresh = (
            deleted.select(F.col(deleted.columns[0]).alias("doc_id"))
            .distinct()
            .join(already, "doc_id", "left_anti")
        )
        # only ids that RESOLVED against the corpus enter the cumulative
        # set: an id whose doc is not (yet) in the corpus subtracts
        # nothing, and recording it would filter out a later retry that
        # could actually apply — the stats would stay permanently
        # unadjusted
        matched = corpus.join(fresh, "doc_id", "left_semi")
        batch = matched
        btf = _tokens(batch).groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
        bstats = btf.groupBy("term").agg(
            F.count(F.lit(1)).alias("df_b"), F.sum("tf").alias("cf_b")
        )
        out = (
            stats.join(bstats, "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce("df_b", F.lit(0))).cast("long").alias("df"),
                (F.col("cf") - F.coalesce("cf_b", F.lit(0))).cast("long").alias("cf"),
            )
            .filter(F.col("df") > 0)
        )
        catalog.save(
            spark,
            TERM_OP,
            fp,
            {
                "terms": out,
                "deleted": already.unionByName(matched.select("doc_id").distinct()),
            },
            meta=_epoch_meta(spark, catalog, TERM_OP, fp, epoch, stream_id),
        )

    return apply


def catalog_semdedup_delete_applier(
    catalog, fp: str, embeddings: DataFrame, stream_id: str = "delete"
) -> Applier:
    """Exactly-once SemDeDup takedown applier over the catalog's
    (flags, anchors, centroids) state triple."""
    from redcap_omop_etl_spark.operators.similarity import semdedup_state_delete
    from redcap_omop_etl_spark.state import SEMDEDUP_OP

    def apply(spark: SparkSession, deleted: DataFrame, epoch: int = -1) -> None:
        if _epoch_already_applied(spark, catalog, SEMDEDUP_OP, fp, epoch, stream_id):
            return
        frames = catalog.load(spark, SEMDEDUP_OP, fp)
        flags_out, anchors_out = semdedup_state_delete(
            frames["flags"], frames["anchors"], deleted, embeddings
        )
        catalog.save(
            spark,
            SEMDEDUP_OP,
            fp,
            {
                "flags": flags_out,
                "anchors": anchors_out,
                "centroids": frames["centroids"],
            },
            meta=_epoch_meta(spark, catalog, SEMDEDUP_OP, fp, epoch, stream_id),
        )

    return apply


def catalog_cluster_append_applier(
    catalog, fp: str, stream_id: str = "append"
) -> Applier:
    """Exactly-once cluster INGEST applier — the append-direction twin
    of ``catalog_cluster_delete_applier``, so one catalog serves both
    streams with the same versioned/epoch-ledgered discipline that
    ``stream_to_cluster_index``'s raw-overwrite layout lacks. The
    applier receives the batch DOCS frame (doc_id, text), not ids;
    first batch bootstraps v1 (star + contraction), later batches run
    the append transition (id-guarded by the transition core)."""
    from pyspark.sql.window import Window

    from redcap_omop_etl_spark.operators.dedup import minhash_band_table
    from redcap_omop_etl_spark.operators.graph import (
        connected_components,
        minhash_cluster_state_append,
    )
    from redcap_omop_etl_spark.state import CLUSTER_OP

    def apply(spark: SparkSession, batch_docs: DataFrame, epoch: int = -1) -> None:
        if _epoch_already_applied(spark, catalog, CLUSTER_OP, fp, epoch, stream_id):
            return
        banded = materialize(minhash_band_table(batch_docs))
        if catalog.latest_version(spark, CLUSTER_OP, fp) is None:
            m = F.min("doc").over(Window.partitionBy("band", "bucket"))
            star = (
                banded.withColumn("m", m)
                .filter(F.col("doc") != F.col("m"))
                .select(F.col("m").alias("d1"), F.col("doc").alias("d2"))
                .distinct()
            )
            comp_out = connected_components(star)
            hubs_out = banded.groupBy("band", "bucket").agg(
                F.min("doc").alias("hub")
            )
        else:
            frames = catalog.load(spark, CLUSTER_OP, fp)
            comp_out, hubs_out = minhash_cluster_state_append(
                frames["components"], frames["hubs"], banded
            )
        catalog.save(
            spark,
            CLUSTER_OP,
            fp,
            {"components": comp_out, "hubs": hubs_out},
            meta=_epoch_meta(spark, catalog, CLUSTER_OP, fp, epoch, stream_id),
        )

    return apply


def stream_to_cluster_index_catalog(
    stream: DataFrame, catalog, fp: str, checkpoint_dir: str
):
    """Catalog-backed twin of ``streaming.windows.stream_to_cluster_index``:
    micro-batched ingest into VERSIONED cluster state — every applied
    batch commits a new version with its epoch in the manifest, so a
    crash-replayed batch no-ops and a bad batch rolls back by pointing
    at the previous version. The delete-direction stream
    (``stream_to_delete_ticks`` + ``catalog_cluster_delete_applier``)
    shares the same state by construction, which is the whole point of
    the catalog: one (op, corpus-fingerprint) key, however the update
    arrived."""
    return stream_to_delete_ticks(
        stream, [catalog_cluster_append_applier(catalog, fp)], checkpoint_dir
    )
