"""Versioned on-disk catalog for incremental-maintenance index state.

The frozen state the maintenance ticks read — cluster hub/component
tables, SemDeDup anchors, term stats — has ONE layout, so ticks survive
session restarts and the stream and batch paths share state by
construction:

    {root}/{op}/{corpus_fingerprint}/v{N}/{frame_name}/   (parquet)
    {root}/{op}/{corpus_fingerprint}/v{N}/_MANIFEST.json

- ``op`` names the index kind (``minhash_clusters``, ``term_stats``,
  ``semdedup``, ...); ``corpus_fingerprint`` pins WHICH corpus the
  state was built from (an order-free content hash, so a re-shuffled
  write of the same rows fingerprints identically); ``v{N}`` counts
  maintenance generations — every tick SAVES A NEW VERSION instead of
  overwriting, so a bad batch rolls back by pointing at v{N-1} and
  concurrent readers of v{N-1} are never clobbered mid-scan.
- Commit protocol: parquet frames land first, the manifest is written
  LAST — a version without ``_MANIFEST.json`` is invisible to
  ``latest_version``/``load`` (the same commit-marker discipline as the
  chunked sink's 2PC manifest). A tick commits exactly one version past
  the version it read, and a save whose target is already committed
  raises ``StateConflictError``: a tick whose base another tick already
  moved past fails instead of committing without that tick's batch.
  All filesystem access goes through the Hadoop FileSystem API, so the
  root may be local, HDFS or S3A.

Each index family (near-dup clusters, term stats, SemDeDup) has ONE
bootstrap and ONE tick here; the batch maintenance loop and every
streaming applier (``streaming/retraction.py``) go through them, and
index state is written nowhere but ``StateCatalog.save``. A tick's
``meta`` rides in the manifest (the streams' applied-epoch ledger).

At 100 TB the state tables are linear in corpus vocabulary/clusters —
versions are cheap relative to the corpus; retention is an operational
sweep of old ``v{N}`` dirs (``versions()`` gives the inventory).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize

MANIFEST = "_MANIFEST.json"


class StateConflictError(RuntimeError):
    """A save targeted a version that is already committed: another
    tick committed on top of the same base version first. Committing
    anyway would drop that tick's effect (and its stream's ledger
    entry), so the caller fails instead; a streaming micro-batch then
    replays against the new latest version, and the applied-epoch
    ledger keeps the replay exactly-once."""


def corpus_fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-free content fingerprint of a corpus frame: row count plus
    a sum of per-row xxhash64 over ``cols`` (default: all columns).
    One aggregation job; the decimal accumulator avoids ANSI long
    overflow (same trick as connected_components' edge signature)."""
    use = cols or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*use).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"n{row['n']}x{int(row['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


def _fs(spark: SparkSession, path: str):
    hadoop = spark._jvm.org.apache.hadoop.fs
    p = hadoop.Path(path)
    return hadoop, p.getFileSystem(spark._jsc.hadoopConfiguration())


class StateCatalog:
    """Loader/saver over the versioned layout. Cheap to construct —
    holds only the root path; every operation takes the SparkSession
    of the caller (so one catalog value serves batch jobs, streaming
    foreachBatch closures and a fresh session after restart alike)."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def dir(self, op: str, fp: str, version: int) -> str:
        return f"{self.root}/{op}/{fp}/v{version}"

    def versions(self, spark: SparkSession, op: str, fp: str) -> list[int]:
        """Committed (manifest-bearing) versions, ascending."""
        base = f"{self.root}/{op}/{fp}"
        hadoop, fs = _fs(spark, base)
        if not fs.exists(hadoop.Path(base)):
            return []
        out = []
        for st in fs.listStatus(hadoop.Path(base)):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                if fs.exists(hadoop.Path(f"{base}/v{v}/{MANIFEST}")):
                    out.append(v)
        return sorted(out)

    def latest_version(self, spark: SparkSession, op: str, fp: str) -> int | None:
        vs = self.versions(spark, op, fp)
        return vs[-1] if vs else None

    def save(
        self,
        spark: SparkSession,
        op: str,
        fp: str,
        frames: dict[str, DataFrame],
        meta: dict | None = None,
        base_version: int | None = None,
    ) -> int:
        """Write ``frames`` as the version after ``base_version`` (the
        version the caller read; None: after the latest committed one)
        and return its number. The manifest commits the version
        (written last, never overwritten); a target version that is
        already committed raises ``StateConflictError``."""
        if base_version is None:
            base_version = self.latest_version(spark, op, fp) or 0
        v = base_version + 1
        vdir = self.dir(op, fp, v)
        hadoop, fs = _fs(spark, vdir)
        if fs.exists(hadoop.Path(f"{vdir}/{MANIFEST}")):
            raise StateConflictError(
                f"{op}/{fp} v{v} is already committed; this tick read v{base_version}"
            )
        # a crash mid-save leaves a manifest-less (torn) v{N} dir that is
        # invisible to latest_version — so the replayed batch re-targets
        # the SAME v{N} and the errorifexists writes below would wedge
        # until manual cleanup. A torn dir is garbage by the commit
        # protocol's own definition (no manifest == never committed), so
        # clear it before writing.
        vpath = hadoop.Path(vdir)
        if fs.exists(vpath):
            fs.delete(vpath, True)
        # row counts ride the write itself: an Observation fills from the
        # write job's own metrics, so a frame costs one job, not a
        # materialize, a write and a count()
        observed = {name: Observation() for name in frames}
        for name, df in frames.items():
            df.observe(observed[name], F.count(F.lit(1)).alias("rows")).write.mode(
                "errorifexists"
            ).parquet(f"{vdir}/{name}")
        counts = {name: obs.get["rows"] for name, obs in observed.items()}
        manifest = {
            "op": op,
            "corpus_fingerprint": fp,
            "version": v,
            "frames": sorted(frames),
            "row_counts": counts,
            "application_id": spark.sparkContext.applicationId,
            "meta": meta or {},
        }
        out = fs.create(hadoop.Path(f"{vdir}/{MANIFEST}"), False)
        out.write(bytearray(json.dumps(manifest, sort_keys=True).encode("utf-8")))
        out.close()
        return v

    def manifest(self, spark: SparkSession, op: str, fp: str, version: int) -> dict:
        vdir = self.dir(op, fp, version)
        hadoop, fs = _fs(spark, vdir)
        stream = fs.open(hadoop.Path(f"{vdir}/{MANIFEST}"))
        try:
            data = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def load(
        self,
        spark: SparkSession,
        op: str,
        fp: str,
        version: int | None = None,
    ) -> dict[str, DataFrame]:
        """Read a committed version's frames (latest by default)."""
        v = version if version is not None else self.latest_version(spark, op, fp)
        if v is None:
            raise FileNotFoundError(f"no committed state for {op}/{fp} under {self.root}")
        man = self.manifest(spark, op, fp, v)
        vdir = self.dir(op, fp, v)
        return {name: spark.read.parquet(f"{vdir}/{name}") for name in man["frames"]}


def _resolve(
    catalog: StateCatalog, spark: SparkSession, op: str, fp: str, version: int | None
) -> int | None:
    """The version a tick reads and commits on top of: the caller's, or
    the latest committed one."""
    return version if version is not None else catalog.latest_version(spark, op, fp)


# ---------------------------------------------------------------------------
# cluster-state convenience wrappers: the (components, hubs) pair under
# one op name, so the batch ticks, the streaming bridges and a fresh
# session all resolve the same state by (corpus fingerprint, version)
# ---------------------------------------------------------------------------

CLUSTER_OP = "minhash_clusters"


def cluster_state_bootstrap(
    catalog: StateCatalog,
    docs: DataFrame,
    fp: str | None = None,
    meta: dict | None = None,
) -> tuple[str, int]:
    """Build and commit v1 of the cluster state from a docs frame (one
    banding pass feeds both the components and the hubs)."""
    from redcap_omop_etl_spark.operators.dedup import minhash_band_table
    from redcap_omop_etl_spark.operators.graph import _cluster_state_from_bands

    spark = docs.sparkSession
    # fingerprint CONTENT (all columns), not just ids: two corpora with
    # identical doc_ids but different texts must not key the same state
    fp = fp or corpus_fingerprint(docs)
    comp, hubs = _cluster_state_from_bands(minhash_band_table(docs))
    v = catalog.save(
        spark, CLUSTER_OP, fp, {"components": comp, "hubs": hubs}, meta=meta
    )
    return fp, v


def cluster_state_tick(
    catalog: StateCatalog,
    fp: str,
    corpus: DataFrame,
    append_docs: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    meta: dict | None = None,
    base_version: int | None = None,
) -> int:
    """One maintenance tick against committed version ``base_version``
    (None: the latest): optional delete then optional append (the
    upsert composition — see ``dedup_minhash_clusters_upsert``'s
    equivalence argument), committed as the version after it. Works in
    any session — including one started after the session that built
    v1 died — because everything it reads is catalog state plus the
    caller's corpus frame."""
    from redcap_omop_etl_spark.operators.dedup import minhash_band_table
    from redcap_omop_etl_spark.operators.graph import (
        minhash_cluster_state_append,
        minhash_cluster_state_delete,
    )

    spark = corpus.sparkSession
    base_version = _resolve(catalog, spark, CLUSTER_OP, fp, base_version)
    frames = catalog.load(spark, CLUSTER_OP, fp, base_version)
    comp, hubs = frames["components"], frames["hubs"]
    if delete_ids is not None:
        comp, hubs = minhash_cluster_state_delete(comp, hubs, delete_ids, corpus)
        if append_docs is not None:  # the append reads the deleted state again
            comp, hubs = materialize(comp), materialize(hubs)
    if append_docs is not None:
        # Checkpointed: the append transition reads the batch band
        # table twice (shared-bucket join, batch-only anti-join) plus the
        # id guard; the signature fold behind it is a pure projection no
        # ReuseExchange can share, and the plan barrier keeps the tick's
        # downstream actions from re-analyzing the band-table lineage.
        comp, hubs = minhash_cluster_state_append(
            comp, hubs, materialize(minhash_band_table(append_docs))
        )
    return catalog.save(
        spark,
        CLUSTER_OP,
        fp,
        {"components": comp, "hubs": hubs},
        meta=meta,
        base_version=base_version,
    )


# ---------------------------------------------------------------------------
# term-stats state: (terms) under one op name
# ---------------------------------------------------------------------------

TERM_OP = "term_stats"


def term_stats_bootstrap(
    catalog: StateCatalog, docs: DataFrame, fp: str | None = None
) -> tuple[str, int]:
    """Build and commit v1 of the UNFLOORED per-term (df, cf) stats
    (``retrieval._term_stats``, the aggregate behind the frozen stat
    memo)."""
    from redcap_omop_etl_spark.operators.retrieval import _term_stats

    spark = docs.sparkSession
    # content fingerprint, matching cluster_state_bootstrap's contract
    fp = fp or corpus_fingerprint(docs)
    stats = _term_stats(docs)
    # the cumulative takedown set rides in the state: stats subtraction
    # is NOT idempotent per id, so the tick must be able to recognize an
    # id it already removed (opt-out requests repeat in practice)
    no_deleted = spark.createDataFrame([], "doc_id long")
    v = catalog.save(spark, TERM_OP, fp, {"terms": stats, "deleted": no_deleted})
    return fp, v


def term_stats_tick(
    catalog: StateCatalog,
    fp: str,
    corpus: DataFrame,
    append_docs: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    meta: dict | None = None,
    base_version: int | None = None,
) -> int:
    """One maintenance tick on ``base_version`` (None: the latest):
    subtract the takedown batch's aggregate and/or add the ingest
    batch's through ``retrieval._term_stats_merge`` (the merge the
    registered ``retrieval_index_*`` queries run; exact integer
    arithmetic, order irrelevant), committed as the version after it.
    df<=0 terms drop."""
    from redcap_omop_etl_spark.operators.retrieval import _term_stats_merge

    spark = corpus.sparkSession
    base_version = _resolve(catalog, spark, TERM_OP, fp, base_version)
    frames = catalog.load(spark, TERM_OP, fp, base_version)
    out = frames["terms"]
    already = frames.get("deleted")
    if already is None:  # a state saved before the takedown set existed
        already = spark.createDataFrame([], "doc_id long")
    deleted_out = already
    if delete_ids is not None:
        # ids already taken down in an earlier tick must NOT subtract
        # again — filter against the state's cumulative takedown set
        fresh = (
            delete_ids.select(F.col(delete_ids.columns[0]).alias("doc_id"))
            .distinct()
            .join(already, "doc_id", "left_anti")
        )
        batch = corpus.join(fresh, "doc_id", "left_semi")
        # only ids that RESOLVED against the corpus enter the cumulative
        # set: an id whose doc is not (yet) in the corpus subtracts
        # nothing, and recording it would filter out a later retry that
        # could actually apply — the stats would stay permanently
        # unadjusted
        deleted_out = already.unionByName(batch.select("doc_id").distinct())
        out = _term_stats_merge(out, batch, -1)
    if append_docs is not None:
        out = _term_stats_merge(out, append_docs, +1)
    out = out.filter(F.col("df") > 0).select("term", "df", "cf")
    return catalog.save(
        spark,
        TERM_OP,
        fp,
        {"terms": out, "deleted": deleted_out},
        meta=meta,
        base_version=base_version,
    )


# ---------------------------------------------------------------------------
# SemDeDup state: (flags, anchors, centroids) under one op name — the
# centroids ride along because the append transition needs the frozen
# coarse quantizer, and state that a restart can't reconstruct without
# the original training corpus belongs IN the catalog
# ---------------------------------------------------------------------------

SEMDEDUP_OP = "semdedup"


def semdedup_bootstrap(
    catalog: StateCatalog,
    flags: DataFrame,
    anchors: DataFrame,
    centroids: DataFrame,
    fp: str,
) -> int:
    """Commit v1 of the SemDeDup state triple."""
    spark = flags.sparkSession
    return catalog.save(
        spark,
        SEMDEDUP_OP,
        fp,
        {
            "flags": flags,
            "anchors": anchors.select(
                F.col("cluster").cast("bigint").alias("cluster"), "a_id", "a_v"
            ),
            "centroids": centroids,
        },
    )


def semdedup_tick(
    catalog: StateCatalog,
    fp: str,
    embeddings: DataFrame,
    append_vecs: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    meta: dict | None = None,
    base_version: int | None = None,
) -> int:
    """One maintenance tick on ``base_version`` (None: the latest):
    optional delete (anchor-losing cells recompute from survivors) then
    optional append (guarded frozen-centroid assign + roster fill),
    committed as the version after it — the delete-then-append
    composition ``semdedup_flags_upsert``'s oracle proves. Works in any
    session: everything it reads is catalog state plus the caller's
    vector store."""
    from redcap_omop_etl_spark.operators.similarity import (
        semdedup_state_append,
        semdedup_state_delete,
    )

    spark = embeddings.sparkSession
    base_version = _resolve(catalog, spark, SEMDEDUP_OP, fp, base_version)
    frames = catalog.load(spark, SEMDEDUP_OP, fp, base_version)
    flags, anchors, centroids = (
        frames["flags"],
        frames["anchors"],
        frames["centroids"],
    )
    if delete_ids is not None:
        flags, anchors = semdedup_state_delete(flags, anchors, delete_ids, embeddings)
        if append_vecs is not None:  # the append reads the deleted state again
            flags, anchors = materialize(flags), materialize(anchors)
    if append_vecs is not None:
        flags, anchors = semdedup_state_append(flags, anchors, centroids, append_vecs)
    return catalog.save(
        spark,
        SEMDEDUP_OP,
        fp,
        {"flags": flags, "anchors": anchors, "centroids": centroids},
        meta=meta,
        base_version=base_version,
    )


# op name -> its tick: the one implementation every applier drives
TICKS = {
    CLUSTER_OP: cluster_state_tick,
    TERM_OP: term_stats_tick,
    SEMDEDUP_OP: semdedup_tick,
}


def prune_versions(
    catalog: StateCatalog,
    spark: SparkSession,
    op: str,
    fp: str,
    keep_last: int = 2,
) -> list[int]:
    """Retention sweep: delete all but the newest ``keep_last``
    COMMITTED versions (and any torn, manifest-less version dirs older
    than the newest committed one — the leftovers of crashed saves).
    Returns the removed version numbers. The newest versions stay
    untouched, so readers pinned to them are never clobbered; run this
    with a lag (keep_last >= 2) so an in-flight reader of v{N-1}
    finishes before v{N-1} ages out."""
    committed = catalog.versions(spark, op, fp)
    keep = set(committed[-keep_last:]) if keep_last > 0 else set()
    base = f"{catalog.root}/{op}/{fp}"
    hadoop, fs = _fs(spark, base)
    if not fs.exists(hadoop.Path(base)):
        return []
    newest = committed[-1] if committed else 0
    removed = []
    for st in fs.listStatus(hadoop.Path(base)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v") and name[1:].isdigit()):
            continue
        v = int(name[1:])
        torn = v not in committed
        if v in keep or (torn and v >= newest):
            continue  # keep live versions; keep a torn dir NEWER than
            # the last commit (a save may be in flight)
        fs.delete(st.getPath(), True)
        removed.append(v)
    return sorted(removed)
