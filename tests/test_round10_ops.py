"""Round-10 operator tests: deletion maintenance (cluster table +
IVF-PQ index), the multimodal decode option, the IVF-PQ recall sweep,
and the connected-components neighborhood minimum. The SemDeDup and
term-stats maintenance tests live in ``test_semdedup.py`` and
``test_term_stats.py``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


class TestCcNeighborhoodMinKnob:
    """The keyed-window neighborhood minimum labels every component by
    its minimum node on a hub-heavy graph, a chain, a self-loop and a
    2-cycle."""

    def test_fallback_matches_window_on_hub_and_chain(self, spark):
        from redcap_omop_etl_spark.operators.graph import connected_components

        # one giant hub (0 - 1..200), one chain (300-301-...-320),
        # one isolated self-loop, plus a 2-cycle
        edges = (
            [(0, i) for i in range(1, 201)]
            + [(300 + i, 301 + i) for i in range(20)]
            + [(400, 400), (500, 501), (501, 500)]
        )
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        lbl = {r["node"]: r["component"] for r in connected_components(df).collect()}
        # hub family all labeled 0; chain labeled by its min
        assert all(lbl[i] == 0 for i in range(201))
        assert all(lbl[300 + i] == 300 for i in range(21))
        assert lbl[400] == 400 and lbl[500] == 500 and lbl[501] == 500
        assert len(lbl) == 201 + 21 + 1 + 2


class TestClustersDelete:
    """dedup_minhash_clusters_delete: untouched components' labels pass
    through the frozen state verbatim (value equality with the full
    rebuild is the registered oracle's job — this pins the STRUCTURAL
    claim that only touched components are recomputed)."""

    def test_untouched_labels_identical_to_base_table(self, spark):
        from redcap_omop_etl_spark.operators.graph import (
            _CLUSTER_DELETE_MOD,
            _CLUSTER_DELETE_RES,
            _minhash_cluster_state,
            dedup_minhash_clusters,
            dedup_minhash_clusters_delete,
        )

        base = {
            r["doc_id"]: r["cluster_rep"]
            for r in dedup_minhash_clusters(spark, SF_SMOKE).collect()
        }
        after = {
            r["doc_id"]: r["cluster_rep"]
            for r in dedup_minhash_clusters_delete(spark, SF_SMOKE).collect()
        }
        deleted = {
            d
            for d in base
            if d % _CLUSTER_DELETE_MOD == _CLUSTER_DELETE_RES
        }
        assert deleted and not (set(after) & deleted)
        # components with no deleted member: labels must be EXACTLY the
        # frozen base labels (the pass-through path)
        comp, _hubs = _minhash_cluster_state(spark, SF_SMOKE, family="md5")
        comp_of = {r["node"]: r["component"] for r in comp.collect()}
        touched = {comp_of[d] for d in deleted if d in comp_of}
        for doc, rep in after.items():
            if comp_of.get(doc, doc) not in touched:
                assert rep == base[doc], f"untouched doc {doc} relabeled"

    def test_some_cluster_loses_its_min_and_relabels(self, spark):
        # a synthetic 3-doc exact-dup family whose min id is deleted:
        # survivors must re-label to the next-lowest id
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(3, base), (13, base), (23, base)], "doc_id long, text string"
        )
        comp = connected_components(minhash_star_edges(docs))
        assert {r["component"] for r in comp.collect()} == {3}
        survivors = docs.filter(F.col("doc_id") != 3)
        comp2 = connected_components(minhash_star_edges(survivors))
        assert {r["component"] for r in comp2.collect()} == {13}


class TestIvfPqDelete:
    """ivfpq_delete_from_index: frozen codebook/centroids, only the
    affected cluster partitions rewritten, deleted ids invisible to the
    partition-pruned search."""

    def _file_state(self, root):
        import glob as g
        import os as o

        out = {}
        for p in g.glob(root + "/**/*.parquet", recursive=True):
            st = o.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def test_delete_touches_only_affected_partitions(self, spark, tmp_path):
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            ivfpq_adc_from_index,
            ivfpq_delete_from_index,
            ivfpq_write_index,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        q = emb.filter(F.col("vec_id") == 0).head()
        qv = [float(x) for x in q["embedding"]]
        assignments, centroids = ivf_build(emb, n_clusters=8, n_iters=2)
        path = str(tmp_path / "ivfpq")
        ivfpq_write_index(emb, assignments, centroids, path)

        # delete the current top hit (guaranteed in a probed cluster)
        top = ivfpq_adc_from_index(spark, path, qv, k=3).collect()
        victim = top[0]["vec_id"]
        victim_cluster = (
            assignments.filter(F.col("vec_id") == victim).head()["cluster"]
        )
        before_codes = self._file_state(path + "/codes")
        before_codebook = self._file_state(path + "/codebook")
        before_centroids = self._file_state(path + "/centroids")

        ivfpq_delete_from_index(
            spark, path, spark.createDataFrame([(victim,)], "vec_id long")
        )

        # frozen state untouched
        assert self._file_state(path + "/codebook") == before_codebook
        assert self._file_state(path + "/centroids") == before_centroids
        # only the victim's cluster partition changed
        after_codes = self._file_state(path + "/codes")
        for p, st in before_codes.items():
            if f"cluster={victim_cluster}/" in p:
                continue
            assert after_codes.get(p) == st, f"unaffected file rewritten: {p}"
        # the victim's partition WAS rewritten
        changed = {
            p
            for p in set(before_codes) | set(after_codes)
            if before_codes.get(p) != after_codes.get(p)
        }
        assert changed and all(f"cluster={victim_cluster}/" in p for p in changed)
        # deleted id invisible to search; survivors unchanged
        after_top = ivfpq_adc_from_index(spark, path, qv, k=3).collect()
        assert victim not in {r["vec_id"] for r in after_top}
        assert {r["vec_id"] for r in top[1:3]} <= {
            r["vec_id"] for r in after_top
        }
        # codes table no longer contains the id anywhere
        assert (
            spark.read.parquet(path + "/codes")
            .filter(F.col("vec_id") == victim)
            .count()
            == 0
        )


class TestMultimodalDecodeKnob:
    """The round-9 landmine (has_pil=True RAISED in the featurize
    closure, so installing pillow would have broken the registered
    query at runtime) is defused: the default byte-stub path is
    independent of PIL availability, and the real-decode path is an
    explicit opt-in that fails at PLAN time, not per-row in a worker."""

    def test_bytes_mode_ignores_pil_availability(self, spark, monkeypatch):
        from redcap_omop_etl_spark.operators import multimodal

        docs = spark.createDataFrame(
            [(1, "hello world", "en", "web", 11)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        monkeypatch.setattr(multimodal, "_HAS_PIL", True)  # simulate install
        out = multimodal.extract_features(multimodal.synth_media(docs)).collect()
        assert len(out) == 1 and out[0]["n_bytes"] > 0

    def test_pil_mode_fails_at_plan_time_without_pillow(self, spark):
        from redcap_omop_etl_spark.operators import multimodal

        if multimodal._HAS_PIL:
            pytest.skip("pillow present in this environment")
        docs = spark.createDataFrame(
            [(1, "hello world", "en", "web", 11)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with pytest.raises(ImportError):
            multimodal.extract_features(multimodal.synth_media(docs), decode="pil")

    def test_bogus_mode_rejected(self, spark):
        from redcap_omop_etl_spark.operators import multimodal

        docs = spark.createDataFrame(
            [(1, "x", "en", "web", 1)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with pytest.raises(ValueError):
            multimodal.extract_features(multimodal.synth_media(docs), decode="gif")


class TestRecallSweep:
    def test_monotone_and_consistent_with_single_audit(self, spark):
        from redcap_omop_etl_spark.operators.similarity import (
            ivfpq_recall_audit,
            ivfpq_recall_sweep,
        )

        rows = {
            r["n_probes"]: r
            for r in ivfpq_recall_sweep(spark, SF_SMOKE).collect()
        }
        assert sorted(rows) == [1, 2, 4, 8]
        # candidates grow with probes (strict superset). Recall is NOT
        # asserted monotone: a newly probed cell can inject codes whose
        # QUANTIZED distance underestimates the true distance, evicting
        # true neighbors from the ADC top-10 (quantization loss) — the
        # smoke corpus actually exhibits this (np=1 recall 0.5 > np=2
        # recall 0.2), which is exactly why the sweep exists.
        for lo, hi in [(1, 2), (2, 4), (4, 8)]:
            assert rows[lo]["n_candidates"] <= rows[hi]["n_candidates"]
        assert all(0 <= r["recall_ppm"] <= 1_000_000 for r in rows.values())
        # the np=4 arm IS the registered single-point audit
        audit = ivfpq_recall_audit(spark, SF_SMOKE).head()
        assert rows[4]["n_candidates"] == audit["n_candidates"]
        assert rows[4]["recall_ppm"] == audit["recall_ppm"]
