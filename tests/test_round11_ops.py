"""Round-11 operator tests: runtime guards on the incremental-
maintenance id preconditions (the round-10 verdict's "silent-wrong"
item), exercised both directly and through the production append
entry points with deliberately violating batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestPreconditionGuards:
    def test_monotonic_guard_fires_and_passes(self, spark):
        from redcap_omop_etl_spark.validation import (
            MaintenancePreconditionError,
            require_monotonic_ids,
        )

        base = spark.range(0, 100).select(F.col("id").alias("vec_id"))
        good = spark.range(100, 110).select(F.col("id").alias("vec_id"))
        bad = spark.range(99, 105).select(F.col("id").alias("vec_id"))
        require_monotonic_ids(base, good, "t")  # no raise
        with pytest.raises(MaintenancePreconditionError, match="exceed base"):
            require_monotonic_ids(base, bad, "t")
        # equality is a violation too (same id on both sides)
        with pytest.raises(MaintenancePreconditionError):
            require_monotonic_ids(base, spark.range(99, 100), "t")

    def test_monotonic_guard_empty_sides_pass(self, spark):
        from redcap_omop_etl_spark.validation import require_monotonic_ids

        base = spark.range(0, 100)
        empty = spark.range(0, 0)
        require_monotonic_ids(base, empty, "t")
        require_monotonic_ids(empty, base, "t")

    def test_disjoint_guard_fires_and_passes(self, spark):
        from redcap_omop_etl_spark.validation import (
            MaintenancePreconditionError,
            require_disjoint_ids,
        )

        base = spark.range(0, 100)
        # interleaved-but-disjoint ids are LEGAL under disjointness
        # (the partition-level cluster-append proof permits them)
        interleaved = spark.createDataFrame(
            [(-5,), (150,), (1000,)], "id long"
        )
        require_disjoint_ids(base, interleaved, "t")
        with pytest.raises(MaintenancePreconditionError, match="disjoint"):
            require_disjoint_ids(base, spark.createDataFrame([(42,)], "id long"), "t")

    def test_cluster_append_guard_rejects_colliding_batch(self, spark, sf_dir):
        """A batch band table reusing a BASE doc id must be rejected by
        the append transition's id guard before any merge runs."""
        from redcap_omop_etl_spark.operators.graph import (
            _minhash_cluster_state,
            minhash_cluster_state_append,
        )
        from redcap_omop_etl_spark.validation import MaintenancePreconditionError

        base_comp, hubs = _minhash_cluster_state(spark, sf_dir, family="md5")
        some_base_id = hubs.select(F.col("hub").alias("doc")).limit(1)
        bad_banded = some_base_id.withColumn("band", F.lit(0)).withColumn(
            "bucket", F.lit(123456789)
        )
        with pytest.raises(MaintenancePreconditionError, match="disjoint"):
            minhash_cluster_state_append(base_comp, hubs, bad_banded)

class TestIngestTickRouter:
    """The automated ingest-tick router (round-10 verdict item 1): a
    clean batch takes the exact tick, a template-dominated batch
    degrades to the LSH cluster append, the middle band takes the
    capped tick — decided by the integer density probe, never by hand."""

    def test_clean_batch_routes_exact(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.dedup import ppjoin_ingest_probe

        route, est, nb, _ = ppjoin_ingest_probe(spark, sf_dir)
        assert route == "exact"
        assert est <= 64 * nb

    def test_dense_batch_routes_cluster(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.dedup import (
            _dense_batch,
            ppjoin_ingest_probe,
        )

        route, est, nb, _ = ppjoin_ingest_probe(
            spark, sf_dir, batch=_dense_batch(spark, sf_dir)
        )
        assert route == "cluster"
        assert est > 1024 * nb

    def test_warm_batch_routes_capped(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from redcap_omop_etl_spark.operators.dedup import (
            _DENSE_SUFFIX,
            _PPJ_APPEND_SHIFT,
            _WARM_COPIES,
            ppjoin_ingest_probe,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        docs = Catalog(spark, sf_dir)["documents"]
        tmpl = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
        warm = spark.range(_WARM_COPIES).select(
            (F.col("id") + F.lit(_PPJ_APPEND_SHIFT)).alias("doc_id"),
            F.lit(tmpl + _DENSE_SUFFIX).alias("text"),
        )
        route, est, nb, _ = ppjoin_ingest_probe(spark, sf_dir, batch=warm)
        assert route == "capped"
        assert 64 * nb < est <= 1024 * nb

    def test_routed_output_audit_row_consistent(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.dedup import dedup_ingest_tick_routed

        rows = dedup_ingest_tick_routed(spark, sf_dir).collect()
        probe = [r for r in rows if r["kind"] == "probe"]
        assert len(probe) == 1
        routes = {r["route"] for r in rows}
        assert routes == {probe[0]["route"]}  # every row carries the chosen route
        assert probe[0]["route"] == "exact"
        # exact-route rows mirror the standalone exact tick
        body = {(r["k1"], r["k2"], r["score"]) for r in rows if r["kind"] != "probe"}
        from redcap_omop_etl_spark.operators.dedup import dedup_prefix_jaccard_append

        exact = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup_prefix_jaccard_append(spark, sf_dir).collect()
        }
        assert body == exact

    def test_dense_routed_is_cluster_delta(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.dedup import (
            _DENSE_COPIES,
            dedup_ingest_tick_routed_dense,
        )

        rows = dedup_ingest_tick_routed_dense(spark, sf_dir).collect()
        kinds = {r["kind"] for r in rows}
        assert kinds <= {"probe", "batch", "base"}
        batch_rows = [r for r in rows if r["kind"] == "batch"]
        # all identical copies must land in ONE cluster labeled by min id
        assert len(batch_rows) == _DENSE_COPIES
        assert len({r["k2"] for r in batch_rows}) == 1


class TestIvfpqDriftAudit:
    """The staleness audit: generation 0 is its own retrained arm
    (delta exactly 0), staleness vs the gen-0 baseline is monotone on
    the drift construction, and the advisory flag is a pure function of
    the reported metrics."""

    def test_gen0_identity_and_monotone_staleness(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.similarity import (
            _DRIFT_ADVISE_PPM,
            _DRIFT_DELTA_PPM,
            ivfpq_drift_audit,
        )

        rows = {r["generation"]: r for r in ivfpq_drift_audit(spark, sf_dir).collect()}
        assert set(rows) == {0, 1, 2}
        g0 = rows[0]
        assert g0["recall_delta_ppm"] == 0
        assert g0["staleness_ppm"] == 0
        assert g0["frozen_recall_ppm"] == g0["retrained_recall_ppm"]
        assert g0["frozen_occ_max"] == g0["retrained_occ_max"]
        assert not g0["rebuild_advised"]
        # staleness (frozen recall deficit vs gen 0) grows with drift
        assert 0 <= rows[1]["staleness_ppm"] <= rows[2]["staleness_ppm"]
        # the corpus grows by one batch per generation
        assert g0["n_total"] < rows[1]["n_total"] < rows[2]["n_total"]
        # the flag trips somewhere on this drift construction, and is
        # always consistent with the reported metrics
        assert any(r["rebuild_advised"] for r in rows.values())
        for r in rows.values():
            expect = (
                r["staleness_ppm"] >= _DRIFT_ADVISE_PPM
                or r["recall_delta_ppm"] >= _DRIFT_DELTA_PPM
                or r["frozen_occ_max"] >= 2 * r["retrained_occ_max"]
                or r["frozen_cand"] >= 2 * r["retrained_cand"]
            )
            assert r["rebuild_advised"] == expect


class TestUpsertFamily:
    """The IVF-PQ upsert: delete + append in one tick over the frozen
    index (the SemDeDup and term-stats upserts are tested with their
    families in ``test_semdedup.py`` and ``test_term_stats.py``)."""

    def test_ivfpq_upsert_excludes_deleted_includes_appended(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.similarity import (
            _APPEND_SHIFT,
            _DELETE_MOD,
            _DELETE_RES,
            ivfpq_upsert_search,
        )

        rows = ivfpq_upsert_search(spark, sf_dir).collect()
        assert len(rows) == 10
        for r in rows:
            v = r["vec_id"]
            if v < _APPEND_SHIFT:
                assert v % _DELETE_MOD != _DELETE_RES
        assert {r["adc_rank"] for r in rows} == set(range(1, 11))
