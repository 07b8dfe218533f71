"""Term-stats family tests: the registered append, delete and upsert
maintenance queries over the frozen per-term (df, cf) memo, and the lint
that keeps the term-stats steps defined once."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


class TestRetrievalIndexAppend:
    def test_new_terms_enter_via_outer_join(self, spark):
        from redcap_omop_etl_spark.operators.retrieval import (
            _IDX_APPEND_MOD,
            _IDX_APPEND_RES,
            retrieval_index_append,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        rows = {r["term"]: r for r in retrieval_index_append(spark, SF_SMOKE).collect()}
        n_batch = (
            Catalog(spark, SF_SMOKE)["documents"]
            .filter(
                F.pmod(F.col("doc_id"), F.lit(_IDX_APPEND_MOD)) == _IDX_APPEND_RES
            )
            .count()
        )
        if n_batch >= 3:  # suffix terms pass the df>=3 floor
            for t in ("zzqterm", "zzidxterm"):
                assert rows[t]["df"] == n_batch == rows[t]["df_appended"]
        # batch contribution is bounded by the batch, and shared terms
        # carry a base contribution on top of it (the synthetic corpus's
        # word pool is small, so every common term also appears in the
        # batch — a df_appended==0 row is NOT guaranteed here)
        assert all(r["df_appended"] <= n_batch for r in rows.values())
        assert any(r["df"] - r["df_appended"] > 0 for r in rows.values())

    def test_stats_memo_matches_direct_aggregate(self, spark):
        from redcap_omop_etl_spark.operators.retrieval import _tokens, term_stats_memo
        from redcap_omop_etl_spark.sources.readers import Catalog

        memo = {
            r["term"]: (r["df"], r["cf"])
            for r in term_stats_memo(spark, SF_SMOKE).collect()
        }
        d = Catalog(spark, SF_SMOKE)["documents"]
        tf = _tokens(d).groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        direct = {
            r["term"]: (r["df"], r["cf"])
            for r in tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            .collect()
        }
        assert memo == direct


class TestRetrievalIndexDelete:
    def test_subtraction_consistent_with_rebuild(self, spark):
        from redcap_omop_etl_spark.operators.retrieval import (
            _IDX_DELETE_MOD,
            _IDX_DELETE_RES,
            _tokens,
            retrieval_index_delete,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        rows = {
            r["term"]: r for r in retrieval_index_delete(spark, SF_SMOKE).collect()
        }
        assert rows and all(
            r["df"] >= 3 and r["df_deleted"] >= 0 for r in rows.values()
        )
        # direct rebuild over survivors must agree term-for-term
        d = Catalog(spark, SF_SMOKE)["documents"].filter(
            F.pmod(F.col("doc_id"), F.lit(_IDX_DELETE_MOD)) != _IDX_DELETE_RES
        )
        tf = _tokens(d).groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        direct = {
            r["term"]: (r["df"], r["cf"])
            for r in tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            .filter(F.col("df") >= 3)
            .collect()
        }
        assert {t: (r["df"], r["cf"]) for t, r in rows.items()} == direct


class TestRetrievalIndexUpsert:
    def test_retrieval_upsert_floor_applies_to_net_counts(self, spark, sf_dir):
        """The floor subtlety: net df must equal rebuild df exactly, and
        any term at the floor must owe its survival to the NET count
        (base - del + add), not the pre-add count."""
        from redcap_omop_etl_spark.operators.retrieval import (
            _IDX_APPEND_MOD,
            _IDX_APPEND_RES,
            _IDX_APPEND_SHIFT,
            _IDX_DELETE_MOD,
            _IDX_DELETE_RES,
            _tokens,
            retrieval_index_upsert,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        d = Catalog(spark, sf_dir)["documents"]
        net = d.select("doc_id", "text").filter(
            F.pmod(F.col("doc_id"), F.lit(_IDX_DELETE_MOD)) != _IDX_DELETE_RES
        ).unionByName(
            d.filter(
                F.pmod(F.col("doc_id"), F.lit(_IDX_APPEND_MOD)) == _IDX_APPEND_RES
            ).select(
                (F.col("doc_id") + F.lit(_IDX_APPEND_SHIFT)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzqterm zzidxterm")).alias("text"),
            )
        )
        tf = _tokens(net).groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        want = {
            (r["term"], r["df"], r["cf"])
            for r in tf.groupBy("term")
            .agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("tf").cast("long").alias("cf"),
            )
            .filter(F.col("df") >= 3)
            .collect()
        }
        got = {
            (r["term"], r["df"], r["cf"])
            for r in retrieval_index_upsert(spark, sf_dir).collect()
        }
        assert got == want


def test_term_stats_steps_defined_once():
    """Convention lint: the ``(term, doc_id, tf)`` aggregate and the
    batch merge exist once in the package, so the registered
    ``retrieval_index_*`` queries, the inverted index, the stat memo and
    the catalog ticks in ``state.py`` all run the same steps."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "redcap_omop_etl_spark"
    sources = {py: py.read_text() for py in sorted(pkg.rglob("*.py"))}

    def sites(needle):
        return [
            f"{py.relative_to(pkg)}:{i}"
            for py, text in sources.items()
            for i, line in enumerate(text.splitlines(), 1)
            if needle in line
        ]

    tf = sites('groupBy("term", "doc_id")')
    assert len(tf) == 1, "(term, doc_id) aggregates: " + ", ".join(tf)
    joins = sites('join(d, "term"') + sites('join(a, "term"') + sites('"term", "full_outer")')
    assert not joins, "private stat merges: " + ", ".join(joins)
    state = sources[pkg / "state.py"]
    assert "_term_stats_merge(" in state and "_term_stats(" in state
