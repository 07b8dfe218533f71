"""MinHash cluster-state tests: the append transition, delete/append
tick composition, and the lint that keeps the band rows and the
bucket-minimum window defined once."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


class TestIncrementalClusterAppend:
    """The append transition must (a) resolve cross-base-cluster merges
    exactly, (b) star batch-only buckets among new docs, and (c) make
    the registered append query equal a FULL Spark rebuild over the
    union corpus (the DuckDB oracle already pins the same equality
    cross-engine)."""

    def test_bridging_batch_doc_merges_two_base_clusters(self, spark):
        from redcap_omop_etl_spark.operators.graph import (
            minhash_cluster_state_append,
        )

        base_comp = spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5), (6, 5)], "node long, component long"
        )
        hubs = spark.createDataFrame(
            [(0, "b1", 1), (1, "b2", 5), (2, "b3", 6)],
            "band int, bucket string, hub long",
        )
        batch_banded = spark.createDataFrame(
            # doc 100 bridges cluster {1,2} (via b1) and {5,6} (via b2,
            # where the hub 5 maps to rep 5; b3's hub 6 also maps to 5)
            [(100, 0, "b1"), (100, 1, "b2"), (100, 2, "b3"),
             # docs 200/201 share a batch-only bucket -> new cluster
             (200, 3, "b9"), (201, 3, "b9")],
            "doc long, band int, bucket string",
        )
        comp_out, hubs_out = minhash_cluster_state_append(base_comp, hubs, batch_banded)
        got = {r.node: r.component for r in comp_out.collect()}
        assert got[100] == 1  # the bridge doc joins the merged cluster
        assert got[5] == 1  # cluster {5,6}'s rep REMAPPED onto rep 1
        assert got.get(1, 1) == 1
        assert got[200] == 200 and got[201] == 200  # batch-only star
        assert got[6] == 1  # base members follow their remapped rep
        # the batch-only bucket's minimum extends the frozen hub table
        assert {(r.band, r.bucket, r.hub) for r in hubs_out.collect()} == {
            (0, "b1", 1), (1, "b2", 5), (2, "b3", 6), (3, "b9", 200)
        }

    def test_registered_append_equals_full_spark_rebuild(self, spark):
        from pyspark.sql import functions as F

        from redcap_omop_etl_spark import workload
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import (
            _CLUSTER_APPEND_MOD,
            _CLUSTER_APPEND_RES,
            _CLUSTER_APPEND_SHIFT,
            _CLUSTER_APPEND_SUFFIX,
            connected_components,
        )

        out = workload.queries()["dedup_minhash_clusters_append"](spark, SF_SMOKE)
        got = {(r.doc_id): (r.cluster_rep, r.is_survivor, r.cluster_size, r.is_appended)
               for r in out.collect()}

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        one = docs.filter(
            F.pmod(F.col("doc_id"), F.lit(_CLUSTER_APPEND_MOD)) == _CLUSTER_APPEND_RES
        ).select("doc_id", F.concat(F.col("text"), F.lit(_CLUSTER_APPEND_SUFFIX)).alias("text"))
        union = (
            docs.select("doc_id", "text")
            .unionByName(one.select((F.col("doc_id") + _CLUSTER_APPEND_SHIFT).alias("doc_id"), "text"))
            .unionByName(one.select((F.col("doc_id") + 2 * _CLUSTER_APPEND_SHIFT).alias("doc_id"), "text"))
        )
        comp = connected_components(minhash_star_edges(union))
        label = {r.node: r.component for r in comp.collect()}
        want_rep = {
            r.doc_id: label.get(r.doc_id, r.doc_id) for r in union.select("doc_id").collect()
        }
        assert len(got) == len(want_rep)
        sizes: dict[int, int] = {}
        for _, rep in want_rep.items():
            sizes[rep] = sizes.get(rep, 0) + 1
        for doc, rep in want_rep.items():
            assert got[doc] == (
                rep,
                1 if doc == rep else 0,
                sizes[rep],
                doc >= _CLUSTER_APPEND_SHIFT,
            ), f"divergence at doc {doc}"
        # the batch genuinely exercised both paths: appended docs exist,
        # some co-cluster with their base source (shared-bucket path) and
        # every appended pair co-clusters with its twin via the suffix
        # shingles (batch-bucket path exercises when base buckets differ)
        appended = [d for d in got if d >= _CLUSTER_APPEND_SHIFT]
        assert appended
        joined_base = [
            d for d in appended if got[d][0] < _CLUSTER_APPEND_SHIFT
        ]
        assert joined_base, "no appended doc joined an existing cluster"

    def test_mistyped_band_table_rejected_by_name(self, spark):
        """A band table whose bucket is not a string fails up front with
        an error naming the column, not deep inside the merge plan."""
        from redcap_omop_etl_spark.operators.graph import (
            minhash_cluster_state_append,
        )
        from redcap_omop_etl_spark.validation import SchemaValidationError

        base_comp = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
        hubs = spark.createDataFrame([(0, "b1", 1)], "band int, bucket string, hub long")
        banded = spark.createDataFrame([(100, 0, 7)], "doc long, band int, bucket long")
        with pytest.raises(SchemaValidationError, match="bucket"):
            minhash_cluster_state_append(base_comp, hubs, banded)


class TestUpsertMultiTick:
    """The mixed-transaction composition claim: >= 4 alternating
    delete/append ticks over shared (components, hubs) state equal the
    one-shot rebuild over the net corpus."""

    def test_alternating_ticks_equal_rebuild(self, spark):
        from redcap_omop_etl_spark.operators.dedup import (
            minhash_band_table,
            minhash_star_edges,
        )
        from redcap_omop_etl_spark.operators.graph import (
            connected_components,
            minhash_cluster_state_append,
            minhash_cluster_state_delete,
        )

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        fam_c = "red orange yellow green blue indigo violet pink brown black"
        base = spark.createDataFrame(
            [(1, fam_a), (2, fam_a), (3, fam_a), (10, fam_b), (11, fam_b),
             (20, "a lone unrelated document with its very own words here")],
            "doc_id long, text string",
        )
        comp = connected_components(minhash_star_edges(base))
        hubs = (
            minhash_band_table(base)
            .groupBy("band", "bucket")
            .agg(F.min("doc").alias("hub"))
        )
        corpus = base
        live = base

        def tick_delete(ids):
            nonlocal comp, hubs, live
            deln = spark.createDataFrame([(x,) for x in ids], "doc_id long")
            comp, hubs = minhash_cluster_state_delete(comp, hubs, deln, corpus)
            comp = comp.localCheckpoint(eager=True)
            hubs = hubs.localCheckpoint(eager=True)
            live = live.join(deln, "doc_id", "left_anti").localCheckpoint(eager=True)

        def tick_append(rows):
            nonlocal comp, hubs, live, corpus
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            comp, hubs = minhash_cluster_state_append(
                comp, hubs, minhash_band_table(batch)
            )
            comp = comp.localCheckpoint(eager=True)
            hubs = hubs.localCheckpoint(eager=True)
            live = live.unionByName(batch).localCheckpoint(eager=True)
            corpus = corpus.unionByName(batch).localCheckpoint(eager=True)

        # 5 alternating ticks: delete a fam-A member, append a new fam-C
        # pair, delete a fam-B member AND a fresh fam-C member (cross-
        # generation takedown), append an exact fam-A copy (re-attach),
        # delete the singleton
        tick_delete([2])
        tick_append([(100, fam_c), (101, fam_c)])
        tick_delete([10, 101])
        tick_append([(200, fam_a)])
        tick_delete([20])

        got = {(r["node"], r["component"]) for r in comp.collect()}
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(live)).collect()
        }
        assert got == want
        got_hubs = {
            (r["band"], r["bucket"], r["hub"]) for r in hubs.collect()
        }
        # hub invariant the composition proof reads off the state: after
        # any tick sequence, hubs are EXACTLY the per-bucket minima of
        # the live corpus for buckets untouched since their last repair,
        # and at minimum a live MEMBER for every bucket; the delete tick
        # restores exact minima for touched buckets. Verify membership:
        live_banded = {
            (r["band"], r["bucket"], r["doc"])
            for r in minhash_band_table(live).collect()
        }
        assert got_hubs <= live_banded  # every hub is a live bucket member
        assert {(b, k) for b, k, _ in got_hubs} == {
            (b, k) for b, k, _ in live_banded
        }  # every live bucket has a hub


def test_minhash_bands_and_signature_match_duckdb(spark):
    """The band rows and the full-signature key, value for value, against
    the DuckDB replay every MinHash oracle splices
    (``minhash_banded_sql_cte``) over ~200 corpus documents."""
    import duckdb

    from redcap_omop_etl_spark.operators.dedup import (
        minhash_band_table,
        minhash_banded_sql_cte,
        near_dup_signature,
        shingle_sql_cte,
    )
    from redcap_omop_etl_spark.sources.readers import Catalog

    docs = Catalog(spark, SF_CORRECT)["documents"].select("doc_id", "text")
    docs = docs.orderBy("doc_id").limit(200)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    assert len(rows) == 200
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    cte = f"WITH {shingle_sql_cte()}, {minhash_banded_sql_cte()}"
    want_bands = set(con.execute(f"{cte} SELECT doc, band, bucket FROM banded").fetchall())
    want_sigs = set(
        con.execute(
            f"{cte} SELECT doc, string_agg(sig::VARCHAR, '_' ORDER BY i) FROM sigs GROUP BY doc"
        ).fetchall()
    )

    got_bands = {
        (r["doc"], r["band"], r["bucket"]) for r in minhash_band_table(docs).collect()
    }
    got_sigs = {
        (r["doc_id"], r["k"])
        for r in docs.select("doc_id", near_dup_signature(F.col("text")).alias("k")).collect()
    }
    assert len(got_bands) == 200 * 16
    assert got_bands == want_bands
    assert got_sigs == want_sigs


def test_minhash_band_window_defined_once():
    """Convention lint: every MinHash cluster path (LSH pairs, star
    edges, bootstrap, append, delete, routed ingest) goes through one
    band-row explode and one bucket-minimum window in ``dedup.py``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "redcap_omop_etl_spark"
    sources = {py: py.read_text() for py in sorted(pkg.rglob("*.py"))}

    def sites(needle):
        return [
            f"{py.relative_to(pkg)}:{i}"
            for py, text in sources.items()
            for i, line in enumerate(text.splitlines(), 1)
            if needle in line
        ]

    window = sites('Window.partitionBy("band", "bucket")')
    assert len(window) == 1, "bucket-minimum windows: " + ", ".join(window)
    explode = sites("element_at(sig, {bi * rows + r + 1})")
    assert len(explode) == 1, "band-row explodes: " + ", ".join(explode)
