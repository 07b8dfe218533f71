"""SemDeDup family tests: the registered append, delete and upsert
maintenance queries over the frozen (flags, anchors) state, the append
id guard, and the lint that keeps the SemDeDup and frozen IVF-PQ steps
defined once."""

from __future__ import annotations

import inspect
import pathlib

import pytest

from tests.conftest import SF_SMOKE


class TestSemDeDupAppend:
    """semdedup_flags_append: the memoized base flags pass through
    bit-identically, and batch flags land in frozen cells."""

    def test_base_flags_invariant_and_batch_marked(self, spark):
        from redcap_omop_etl_spark.operators.similarity import (
            _SEM_APPEND_SHIFT,
            semdedup_flags_append,
            semdedup_flags_memo,
        )

        base = {
            r["vec_id"]: (r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in semdedup_flags_memo(spark, SF_SMOKE).collect()
        }
        rows = semdedup_flags_append(spark, SF_SMOKE).collect()
        out_base = {
            r["vec_id"]: (r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in rows
            if not r["is_appended"]
        }
        assert out_base == base
        appended = [r for r in rows if r["is_appended"]]
        assert appended
        assert all(r["vec_id"] >= _SEM_APPEND_SHIFT for r in appended)

    def test_anchor_memo_is_per_cell_lowest_ids(self, spark):
        from redcap_omop_etl_spark.operators.similarity import (
            SEMDEDUP_ANCHORS,
            ivf_build,
            semdedup_anchors_memo,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        anchors = semdedup_anchors_memo(spark, SF_SMOKE).collect()
        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        assignments, _ = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=SF_SMOKE)
        by_cell = {}
        for r in assignments.collect():
            by_cell.setdefault(r["cluster"], []).append(r["vec_id"])
        got = {}
        for r in anchors:
            got.setdefault(r["cluster"], []).append(r["a_id"])
        for c, ids in got.items():
            assert sorted(ids) == sorted(by_cell[c])[: SEMDEDUP_ANCHORS]


class TestSemDeDupAppendGuard:
    def test_semdedup_append_guard_rejects_low_id_batch(self, spark, sf_dir):
        """A batch vec_id at/below the base range could displace a
        frozen anchor — the append transition must refuse it."""
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            semdedup_anchors_memo,
            semdedup_flags_memo,
            semdedup_state_append,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog
        from redcap_omop_etl_spark.validation import MaintenancePreconditionError

        emb = Catalog(spark, sf_dir)["embeddings"]
        _a, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=sf_dir)
        bad_batch = emb.limit(3).select("vec_id", "embedding")  # base ids verbatim
        with pytest.raises(MaintenancePreconditionError, match="exceed base"):
            semdedup_state_append(
                semdedup_flags_memo(spark, sf_dir),
                semdedup_anchors_memo(spark, sf_dir),
                centroids,
                bad_batch,
            )


class TestSemDeDupDelete:
    """semdedup_flags_delete: pass-through for cells that lost no
    anchor; full recompute only inside anchor-losing cells."""

    def test_untouched_cells_pass_through_and_deleted_gone(self, spark):
        from redcap_omop_etl_spark.operators.similarity import (
            _SEM_DELETE_MOD,
            _SEM_DELETE_RES,
            semdedup_anchors_memo,
            semdedup_flags_delete,
            semdedup_flags_memo,
        )

        base = {
            r["vec_id"]: (r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in semdedup_flags_memo(spark, SF_SMOKE).collect()
        }
        anchors = semdedup_anchors_memo(spark, SF_SMOKE).collect()
        deleted = {
            v for v in base if v % _SEM_DELETE_MOD == _SEM_DELETE_RES
        }
        touched_cells = {
            r["cluster"] for r in anchors if r["a_id"] in deleted
        }
        # the derived batch must exercise the anchor-promotion path
        assert deleted and touched_cells
        after = {
            r["vec_id"]: (r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in semdedup_flags_delete(spark, SF_SMOKE).collect()
        }
        assert not (set(after) & deleted)
        assert set(after) == set(base) - deleted
        for v, row in after.items():
            if row[0] not in touched_cells:
                assert row == base[v], f"untouched-cell vec {v} changed"


class TestSemDeDupUpsert:
    def test_semdedup_upsert_composition(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.similarity import (
            _SEM_APPEND_SHIFT,
            _SEM_DELETE_MOD,
            _SEM_DELETE_RES,
            semdedup_flags_delete,
            semdedup_flags_upsert,
        )

        rows = semdedup_flags_upsert(spark, sf_dir).collect()
        ids = {r["vec_id"] for r in rows}
        # takedown batch gone, ingest batch present and flagged
        assert not any(
            v % _SEM_DELETE_MOD == _SEM_DELETE_RES
            for v in ids
            if v < _SEM_APPEND_SHIFT
        )
        appended = [r for r in rows if r["is_appended"]]
        assert appended and all(r["vec_id"] >= _SEM_APPEND_SHIFT for r in appended)
        # the survivor half IS the delete tick's output (append cannot
        # change survivor flags: batch ids exceed every live id)
        del_rows = {
            (r["vec_id"], r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in semdedup_flags_delete(spark, sf_dir).collect()
        }
        surv_rows = {
            (r["vec_id"], r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in rows
            if not r["is_appended"]
        }
        assert surv_rows == del_rows


def test_semdedup_and_ivfpq_steps_defined_once():
    """Convention lint: the SemDeDup roster, hit rule and frozen-state
    IVF-PQ steps exist once, so the registered maintenance queries run
    the transitions ``state.semdedup_tick`` and the on-disk index
    appliers run."""
    from redcap_omop_etl_spark.operators import similarity

    pkg = pathlib.Path(__file__).resolve().parents[1] / "redcap_omop_etl_spark"
    sources = {py: py.read_text() for py in sorted(pkg.rglob("*.py"))}

    def sites(needle):
        return [
            f"{py.relative_to(pkg)}:{i}"
            for py, text in sources.items()
            for i, line in enumerate(text.splitlines(), 1)
            if needle in line
        ]

    counts = {
        # the hit rule, in _semdedup_flag
        'cosine(F.col("__v"), F.col("a_v"))': 1,
        # the per-cell lowest-n roster, in _semdedup_roster
        '["cluster"], [F.col(': 1,
        # the def, two in ivf_build, one in _frozen_assign
        "_ivf_assign(": 4,
        # pq_assign's training split and _pq_encode
        '_pq_sub_struct("embedding", "sv")': 2,
    }
    for needle, want in counts.items():
        got = sites(needle)
        assert len(got) == want, f"{needle}: " + ", ".join(got)
    assert not sites("check_ids")
    assert list(inspect.signature(similarity.semdedup_flags_append).parameters) == [
        "spark",
        "sf_dir",
    ]
