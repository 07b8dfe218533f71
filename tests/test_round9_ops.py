"""Round-9 operator tests: the xxHash64 fast-twin cluster path (hash
family swapped, star/CC plan identical), the shared family-keyed
component memo, and frozen-codebook IVF-PQ index append."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


class TestClusterFastTwin:
    """dedup_minhash_clusters_fast must be the SAME clustering semantics
    as the md5 twin — only the per-shingle hash family differs, so
    exact-duplicate documents (identical shingle sets -> identical
    signatures under ANY hash family) must co-cluster under both."""

    @pytest.fixture(scope="class")
    def dup_docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        other = "completely unrelated content about distributed query engines"
        rows = [
            (1, base), (2, base), (3, base),       # exact-dup family
            (4, other), (5, other),                 # second family
            (6, "a lone singleton document with its very own words here"),
        ]
        return spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    @pytest.mark.parametrize("family", ["md5", "xxh"])
    def test_exact_dups_co_cluster_under_both_families(self, spark, dup_docs, family):
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components

        comp = connected_components(minhash_star_edges(dup_docs, family=family))
        label = {r.node: r.component for r in comp.collect()}
        # exact dups transitively connected, families separated
        assert label.get(1) == label.get(2) == label.get(3) == 1
        assert label.get(4) == label.get(5) == 4
        assert label.get(6, 6) not in (label[1], label[4])

    def test_registered_fast_twin_invariants(self, spark):
        from redcap_omop_etl_spark import workload

        qs = workload.queries()
        out = qs["dedup_minhash_clusters_fast"](spark, SF_SMOKE)
        rows = out.collect()
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        assert len(rows) == docs.count()  # one row per document
        by_rep: dict[int, list] = {}
        for r in rows:
            by_rep.setdefault(r.cluster_rep, []).append(r)
        for rep, members in by_rep.items():
            # the representative is the cluster min and the only survivor
            assert rep == min(m.doc_id for m in members)
            assert sum(m.is_survivor for m in members) == 1
            assert all(m.cluster_size == len(members) for m in members)

    def test_fast_twins_share_family_keyed_memo(self, spark):
        from redcap_omop_etl_spark import caching
        from redcap_omop_etl_spark.operators import graph as g

        def state_entries() -> int:
            # session-memo keys are (applicationId, memo name, *key)
            return sum(k[1] == "minhash_cluster_state" for k in caching._MEMOS)

        caching.clear_session_memos()
        g._cluster_table_frame(spark, SF_SMOKE, family="xxh").count()
        assert state_entries() == 1
        # the soft-weight twin reuses the same entry — no second build
        g._soft_dedup_frame(spark, SF_SMOKE, family="xxh").count()
        assert state_entries() == 1
        # the md5 family is a SEPARATE memo entry (different signatures)
        g._soft_dedup_frame(spark, SF_SMOKE, family="md5").count()
        assert state_entries() == 2
        caching.clear_session_memos()

    def test_soft_weights_fast_consistent_with_cluster_table(self, spark):
        from redcap_omop_etl_spark import workload

        qs = workload.queries()
        weights = {r.source: r for r in qs["corpus_soft_dedup_weights_fast"](spark, SF_SMOKE).collect()}
        clusters = qs["dedup_minhash_clusters_fast"](spark, SF_SMOKE).collect()
        docs = {
            r.doc_id: r.source
            for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "source")
            .collect()
        }
        # recompute the per-source ppm rollup from the cluster table
        agg: dict[str, int] = {}
        n: dict[str, int] = {}
        for r in clusters:
            src = docs[r.doc_id]
            agg[src] = agg.get(src, 0) + 1_000_000 // r.cluster_size
            n[src] = n.get(src, 0) + 1
        for src, w in weights.items():
            assert w.n_docs == n[src]
            assert w.effective_docs_ppm == agg[src]


class TestIvfPqAppend:
    """Frozen-codebook incremental append to the persisted IVF-PQ index:
    the append must (a) never retrain (codebook/centroid files stay
    byte-identical), (b) write ONLY the cluster partitions the batch
    lands in, and (c) be immediately visible to the partition-pruned
    ADC search."""

    def _file_state(self, root):
        import glob as g
        import os as o

        out = {}
        for p in g.glob(root + "/**/*.parquet", recursive=True):
            st = o.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def test_append_touches_only_affected_partitions_and_search_sees_new(
        self, spark, tmp_path
    ):
        from redcap_omop_etl_spark.operators.similarity import (
            _nearest_cells,
            ivf_build,
            ivfpq_adc_from_index,
            ivfpq_append_index,
            ivfpq_write_index,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        q = emb.filter(F.col("vec_id") == 0).head()
        qv = [float(x) for x in q["embedding"]]
        assignments, centroids = ivf_build(emb, n_clusters=8, n_iters=2)
        path = str(tmp_path / "ivfpq")
        ivfpq_write_index(emb, assignments, centroids, path)

        before_codes = self._file_state(path + "/codes")
        before_codebook = self._file_state(path + "/codebook")
        before_centroids = self._file_state(path + "/centroids")

        # append an exact twin of the query vector (lands in the query's
        # own nearest cell by construction) under a fresh id
        twin_id = 9_000_000
        batch = spark.createDataFrame(
            [(twin_id, [float(x) for x in q["embedding"]], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        ivfpq_append_index(spark, path, batch)

        # (a) frozen index state: codebook + centroids byte-identical
        assert self._file_state(path + "/codebook") == before_codebook
        assert self._file_state(path + "/centroids") == before_centroids
        # (b) only the twin's cluster partition gained files; every
        # pre-existing file is untouched (size AND mtime)
        after_codes = self._file_state(path + "/codes")
        assert set(before_codes) <= set(after_codes)
        for p, st in before_codes.items():
            assert after_codes[p] == st, f"pre-existing file rewritten: {p}"
        new_files = set(after_codes) - set(before_codes)
        assert new_files, "append wrote nothing"
        new_parts = {f.split("cluster=")[1].split("/")[0] for f in new_files}
        assert len(new_parts) == 1  # one appended vector -> one cell
        # the twin of the query landed in the query's nearest cell
        assert new_parts == {str(_nearest_cells(centroids.collect(), qv, 1)[0])}

        # (c) search sees old + new: the appended twin carries the SAME
        # codes as vec 0, so it ties vec 0's ADC distance at the top
        got = ivfpq_adc_from_index(spark, path, qv, k=10, n_probes=3).collect()
        by_id = {r.vec_id: r for r in got}
        assert twin_id in by_id
        assert by_id[twin_id].adc_d2q == by_id[0].adc_d2q
        assert {by_id[0].adc_rank, by_id[twin_id].adc_rank} <= {1, 2}

    def test_registered_append_search_sees_both_generations(self, spark):
        from redcap_omop_etl_spark import workload
        from redcap_omop_etl_spark.operators.similarity import (
            _APPEND_MOD,
            _APPEND_RES,
            _APPEND_SHIFT,
        )

        out = sorted(
            workload.queries()["ivfpq_append_search"](spark, SF_SMOKE).collect(),
            key=lambda r: r.adc_rank,
        )
        assert len(out) == 10
        assert [r.adc_rank for r in out] == list(range(1, 11))
        # every appended id decodes back to a real base vector
        for r in out:
            if r.is_appended:
                base = r.vec_id - _APPEND_SHIFT
                assert base % _APPEND_MOD == _APPEND_RES
        # ADC distance is monotone in rank
        d = [r.adc_d2q for r in out]
        assert d == sorted(d)
