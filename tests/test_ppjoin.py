"""PPJoin family tests: the incremental append tick (exact and capped),
its batch id guard, and the lint that keeps the shingle explode, the
prefix ranking and the candidate verify defined once."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


class TestPpjoinAppend:
    """dedup_prefix_jaccard_append: incremental exact pairs against the
    frozen prefix index — every output pair involves a batch doc, the
    guaranteed batch structure (source pair + twin pair) is found, and
    the frozen-order extension leaves base prefixes untouched."""

    def test_batch_pairs_found_and_no_base_base(self, spark):
        from redcap_omop_etl_spark.operators.dedup import (
            _PPJ_APPEND_MOD,
            _PPJ_APPEND_RES,
            _PPJ_APPEND_SHIFT,
            dedup_prefix_jaccard_append,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog

        rows = dedup_prefix_jaccard_append(spark, SF_SMOKE).collect()
        assert rows
        # every pair involves a batch doc; d1 < d2 by construction
        assert all(r["d2"] >= _PPJ_APPEND_SHIFT and r["d1"] < r["d2"] for r in rows)
        srcs = [
            r["doc_id"]
            for r in Catalog(spark, SF_SMOKE)["documents"]
            .filter(F.pmod(F.col("doc_id"), F.lit(_PPJ_APPEND_MOD)) == _PPJ_APPEND_RES)
            .select("doc_id")
            .collect()
        ]
        assert srcs
        pairs = {(r["d1"], r["d2"]): r["pair_kind"] for r in rows}
        for s in srcs:
            # twin pair (new_new) is J=1 and must always be found
            assert (
                pairs.get((s + _PPJ_APPEND_SHIFT, s + 2 * _PPJ_APPEND_SHIFT))
                == "new_new"
            )

    def test_frozen_state_prefix_matches_uncapped_pipeline_order(self, spark):
        # the memoized prefix must be the same (dfr, t)-ordered prefix the
        # uncapped pipeline derives — spot-check sizes and per-doc counts
        from redcap_omop_etl_spark.operators.dedup import ppjoin_frozen_state
        from redcap_omop_etl_spark.sources.readers import Catalog
        from redcap_omop_etl_spark.operators.dedup import shingles

        dfreq, prefix = ppjoin_frozen_state(spark, SF_SMOKE)
        docs = Catalog(spark, SF_SMOKE)["documents"]
        sz = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id", F.size(shingles(F.col("text"), 3)).alias("n")
            ).collect()
        }
        import math

        got = {}
        for r in prefix.collect():
            got[r["doc"]] = got.get(r["doc"], 0) + 1
            assert r["sz"] == sz[r["doc"]]
        for doc, n_prefix in got.items():
            expected = sz[doc] - math.ceil(sz[doc] * 0.6) + 1
            assert n_prefix == expected, (doc, n_prefix, expected)


class TestPpjoinAppendCapped:
    """dedup_prefix_jaccard_append_capped: batch additions can push a
    base prefix bucket over the cap, so BASE docs appear as newly-routed
    overflow rows (the retraction signal) — and clean candidates stay
    cap-bounded."""

    def test_newly_hot_base_docs_are_routed(self, spark):
        from redcap_omop_etl_spark.operators.dedup import (
            _PPJ_APPEND_SHIFT,
            dedup_prefix_jaccard_append_capped,
        )

        rows = dedup_prefix_jaccard_append_capped(spark, SF_SMOKE).collect()
        over = [r["d1"] for r in rows if r["kind"] == "overflow"]
        assert over
        # the registered cap (2) plus the two appended copies per source
        # guarantees some BASE doc's prefix bucket crosses the cap
        assert any(d < _PPJ_APPEND_SHIFT for d in over)
        # overflow rows carry null pair fields; pair rows involve a batch doc
        for r in rows:
            if r["kind"] == "overflow":
                assert r["d2"] is None and r["jaccard"] is None
            else:
                assert r["d2"] >= _PPJ_APPEND_SHIFT and r["jaccard"] >= 0.6


class TestPpjoinAppendGuard:
    """The batch derivation shared by every incremental PPJoin route
    enforces id disjointness against the frozen prefix index."""

    def test_ppjoin_append_guard_rejects_colliding_batch(self, spark, sf_dir):
        from redcap_omop_etl_spark.operators.dedup import _ppj_append_batch
        from redcap_omop_etl_spark.sources.readers import Catalog
        from redcap_omop_etl_spark.validation import MaintenancePreconditionError

        docs = Catalog(spark, sf_dir)["documents"]
        bad_batch = docs.limit(2).select("doc_id", "text")
        with pytest.raises(MaintenancePreconditionError, match="disjoint"):
            _ppj_append_batch(spark, sf_dir, batch=bad_batch)

    def test_ppjoin_append_batch_override_disjoint_ok(self, spark, sf_dir):
        """A caller-supplied disjoint batch flows through the shared
        derivation (the production ingest path)."""
        from redcap_omop_etl_spark.operators.dedup import _ppj_append_batch

        batch = spark.createDataFrame(
            [(50_000_000, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        _docs, b, btoks, bprefix = _ppj_append_batch(spark, sf_dir, batch=batch)
        assert b.count() == 1
        assert bprefix.count() >= 1


class TestPpjoinAppendHighIds:
    def test_base_docs_above_batch_shift_are_verified(self, spark, tmp_path):
        """The verify re-shingles the candidate base docs picked by the
        semi-join against the base documents, so a base whose ids sit at
        or above the registered batch shift still yields its pairs."""
        from redcap_omop_etl_spark.operators.dedup import _ppj_append_batch, _ppj_append_tick

        words = " ".join(f"w{i}" for i in range(40))
        sf = str(tmp_path / "sf")
        spark.createDataFrame(
            [
                (20_000_000_001, words, "en", "web", len(words)),
                (20_000_000_002, "an unrelated short note about gardens", "en", "web", 37),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{sf}/documents.parquet")
        batch = spark.createDataFrame(
            [(30_000_000_000, words + " w40")], "doc_id long, text string"
        )
        parts = _ppj_append_batch(spark, sf, batch=batch)
        pairs, _overflow = _ppj_append_tick(spark, sf, parts=parts)
        got = [(r["d1"], r["d2"]) for r in pairs.collect()]
        assert got == [(20_000_000_001, 30_000_000_000)]


def test_ppjoin_steps_defined_once():
    """Convention lint: every doc-keyed shingle explode goes through
    ``_shingle_table`` (the two source-keyed explodes stay), the PPJoin
    prefix ranking and the candidate verify join exist once, and the
    exact append tick is the capped tick body with no cap."""
    text = (
        pathlib.Path(__file__).resolve().parents[1]
        / "redcap_omop_etl_spark"
        / "operators"
        / "dedup.py"
    ).read_text()
    assert text.count("explode(shingles(") == 3
    assert text.count("row_number().over(wdoc.orderBy(") == 1
    assert text.count('F.col("y.t") == F.col("x.t")') == 1
    assert "_ppj_append_exact" not in text
