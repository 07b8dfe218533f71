"""Index-state tests: the versioned ``state.StateCatalog`` (commit
protocol, fingerprints, restart), each family's bootstrap/tick pair,
the catalog-backed ingest stream, and the lint that keeps the catalog
the only writer of index state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, term_stats_rebuild


class TestStateCatalog:
    """The versioned persisted-state catalog (round-10 verdict stretch
    item): commit-marker protocol, fingerprint stability, and the
    restart guarantee — a maintenance tick in a FRESH PROCESS over
    catalog state equals the rebuild."""

    def test_fingerprint_order_free(self, spark):
        from redcap_omop_etl_spark.state import corpus_fingerprint

        df = spark.range(100).selectExpr("id as doc_id", "cast(id*7 as string) as text")
        a = corpus_fingerprint(df)
        b = corpus_fingerprint(df.orderBy(F.desc("doc_id")).repartition(7))
        assert a == b
        c = corpus_fingerprint(df.limit(99))
        assert a != c

    def test_uncommitted_version_invisible(self, spark, tmp_path):
        from redcap_omop_etl_spark.state import StateCatalog

        cat = StateCatalog(str(tmp_path / "state"))
        df = spark.range(5).selectExpr("id as doc_id")
        v = cat.save(spark, "toy", "fp1", {"a": df})
        assert v == 1
        # fake a torn write: a v2 dir with parquet but NO manifest
        df.write.parquet(str(tmp_path / "state/toy/fp1/v2/a"))
        assert cat.latest_version(spark, "toy", "fp1") == 1
        assert cat.load(spark, "toy", "fp1")["a"].count() == 5
        # round-12 fix: the next save re-targets v2, clears the torn
        # (manifest-less == never committed) leftovers and COMMITS —
        # crash replay recovers instead of wedging on errorifexists
        v2 = cat.save(spark, "toy", "fp1", {"a": df.limit(3)})
        assert v2 == 2
        assert cat.latest_version(spark, "toy", "fp1") == 2
        assert cat.load(spark, "toy", "fp1")["a"].count() == 3

    def test_manifest_row_counts_are_the_saved_rows(self, spark, tmp_path):
        """The manifest's ``row_counts`` (observed on the write itself)
        equal the row counts of the frames a load reads back, after a
        bootstrap, after a delete+append tick and for an empty frame."""
        from redcap_omop_etl_spark.state import (
            CLUSTER_OP,
            StateCatalog,
            cluster_state_bootstrap,
            cluster_state_tick,
        )

        fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(1, fam), (2, fam), (3, fam), (10, "one two three four five six")],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "state"))
        fp, v1 = cluster_state_bootstrap(cat, docs)
        v2 = cluster_state_tick(
            cat,
            fp,
            docs,
            append_docs=spark.createDataFrame([(100, fam)], "doc_id long, text string"),
            delete_ids=spark.createDataFrame([(2,)], "doc_id long"),
        )
        v3 = cat.save(spark, "toy", "fp1", {"a": docs, "empty": docs.limit(0)})
        for op, key, v in ((CLUSTER_OP, fp, v1), (CLUSTER_OP, fp, v2), ("toy", "fp1", v3)):
            counts = cat.manifest(spark, op, key, v)["row_counts"]
            frames = cat.load(spark, op, key, v)
            assert counts == {name: df.count() for name, df in frames.items()}, (op, v)
        assert cat.manifest(spark, CLUSTER_OP, fp, v2)["row_counts"]["components"] == 3
        assert cat.manifest(spark, "toy", "fp1", v3)["row_counts"] == {"a": 4, "empty": 0}

    def test_tick_in_fresh_process_equals_rebuild(self, spark, tmp_path):
        """Session A bootstraps v1; a SUBPROCESS with its own fresh
        SparkSession loads the catalog, applies a delete+append tick and
        commits v2; session A then loads v2 and compares against the
        one-shot rebuild over the net corpus."""
        import os
        import subprocess
        import sys as _sys

        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import StateCatalog, cluster_state_bootstrap

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        docs = spark.createDataFrame(
            [(1, fam_a), (2, fam_a), (3, fam_a), (10, fam_b), (11, fam_b)],
            "doc_id long, text string",
        )
        corpus_dir = str(tmp_path / "corpus")
        docs.write.parquet(corpus_dir)
        root = str(tmp_path / "state")
        cat = StateCatalog(root)
        fp, v1 = cluster_state_bootstrap(cat, docs)
        assert v1 == 1

        script = f"""
import sys
sys.path.insert(0, {repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))})
from pyspark.sql import SparkSession, functions as F
from redcap_omop_etl_spark.state import StateCatalog, cluster_state_tick
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
corpus = spark.read.parquet({repr(corpus_dir)})
cat = StateCatalog({repr(root)})
append = spark.createDataFrame(
    [(100, {repr(fam_b)}), (101, {repr(fam_b)})], "doc_id long, text string")
delete = spark.createDataFrame([(2,)], "doc_id long")
v = cluster_state_tick(cat, {repr(fp)}, corpus, append_docs=append, delete_ids=delete)
print("TICK_OK", v)
"""
        res = subprocess.run(
            [_sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=300,
            cwd="/tmp",  # foreign cwd, like the driver
        )
        assert "TICK_OK 2" in res.stdout, res.stderr[-2000:]

        got = {
            (r["node"], r["component"])
            for r in cat.load(spark, "minhash_clusters", fp, version=2)[
                "components"
            ].collect()
        }
        live = docs.filter(F.col("doc_id") != 2).unionByName(
            spark.createDataFrame(
                [(100, fam_b), (101, fam_b)], "doc_id long, text string"
            )
        )
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(live)).collect()
        }
        assert got == want


class TestStateCatalogFamilies:
    """Catalog coverage for the remaining state families: term stats
    and SemDeDup (flags + anchors + frozen centroids ride in the
    version). The transition correctness is pinned by the registered
    upsert oracles; these pin the catalog plumbing — versioning,
    frame-roundtrip fidelity, and tick == expected over catalog state."""

    def test_term_stats_tick_equals_rebuild(self, spark, tmp_path):
        from redcap_omop_etl_spark.sources.readers import Catalog
        from redcap_omop_etl_spark.state import (
            StateCatalog,
            term_stats_bootstrap,
            term_stats_tick,
        )

        docs = Catalog(spark, SF_SMOKE)["documents"].select("doc_id", "text")
        cat = StateCatalog(str(tmp_path / "state"))
        fp, v1 = term_stats_bootstrap(cat, docs)
        assert v1 == 1
        dele = spark.createDataFrame([(i,) for i in range(0, 40, 3)], "doc_id long")
        add = spark.createDataFrame(
            [(77_000_000, "zz new doc text alpha beta"),
             (77_000_001, "zz new doc text gamma delta")],
            "doc_id long, text string",
        )
        v2 = term_stats_tick(cat, fp, docs, append_docs=add, delete_ids=dele)
        assert v2 == 2
        net = docs.join(dele, "doc_id", "left_anti").unionByName(add)
        got = {
            (r["term"], r["df"], r["cf"])
            for r in cat.load(spark, "term_stats", fp)["terms"].collect()
        }
        assert got == term_stats_rebuild(net)
        # v1 still loadable (versions never clobbered)
        assert cat.load(spark, "term_stats", fp, version=1)["terms"].count() > 0

    def test_semdedup_tick_matches_inmemory_transition(self, spark, tmp_path):
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            semdedup_anchors_memo,
            semdedup_flags_memo,
            semdedup_state_append,
            semdedup_state_delete,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog
        from redcap_omop_etl_spark.state import (
            StateCatalog,
            semdedup_bootstrap,
            semdedup_tick,
        )

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        flags = semdedup_flags_memo(spark, SF_SMOKE)
        anchors = semdedup_anchors_memo(spark, SF_SMOKE)
        _a, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=SF_SMOKE)
        cat = StateCatalog(str(tmp_path / "state"))
        fp = "testcorpus"
        assert semdedup_bootstrap(cat, flags, anchors, centroids, fp) == 1
        dele = spark.createDataFrame([(2,), (32,)], "vec_id long")  # anchors
        add = emb.filter(F.col("vec_id") % 50 == 13).select(
            (F.col("vec_id") + F.lit(20_000_000_000)).alias("vec_id"), "embedding"
        )
        v2 = semdedup_tick(cat, fp, emb, append_vecs=add, delete_ids=dele)
        assert v2 == 2
        f1, a1 = semdedup_state_delete(flags, anchors, dele, emb)
        f2, _a2 = semdedup_state_append(
            f1.localCheckpoint(eager=True),
            a1.localCheckpoint(eager=True),
            centroids,
            add,
        )
        want = {
            (r["vec_id"], r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in f2.collect()
        }
        got = {
            (r["vec_id"], r["cluster"], r["n_dup_anchors"], r["is_kept"])
            for r in cat.load(spark, "semdedup", fp, version=2)["flags"].collect()
        }
        assert got == want
        assert not ({r[0] for r in got} & {2, 32})

    def test_term_stats_tick_keeps_unresolved_ids_retryable(self, spark, tmp_path):
        """A takedown id with no corpus row subtracts nothing, so the tick
        must not record it in the cumulative deleted set: a retry once the
        corpus has the doc has to actually apply."""
        from redcap_omop_etl_spark.state import (
            StateCatalog,
            term_stats_bootstrap,
            term_stats_tick,
        )

        full = spark.createDataFrame(
            [(1, "aa bb cc"), (2, "bb cc dd"), (3, "cc dd ee")],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "tstate"))
        fp, _v1 = term_stats_bootstrap(cat, full)
        dele = spark.createDataFrame([(3,)], "doc_id long")
        # a corpus view missing doc 3: the id does not resolve
        term_stats_tick(cat, fp, full.filter(F.col("doc_id") != 3), delete_ids=dele)
        deleted = {r["doc_id"] for r in cat.load(spark, "term_stats", fp)["deleted"].collect()}
        assert 3 not in deleted
        # the retry against the full corpus subtracts doc 3
        term_stats_tick(cat, fp, full, delete_ids=dele)
        got = {
            (r["term"], r["df"], r["cf"])
            for r in cat.load(spark, "term_stats", fp)["terms"].collect()
        }
        assert got == term_stats_rebuild(full.filter(F.col("doc_id") != 3))


class TestStateCommitBase:
    def test_tick_refuses_to_commit_over_an_unread_version(
        self, spark, tmp_path, monkeypatch
    ):
        """A delete applier reads v1; another tick commits v2 before the
        applier saves. The applier's tick must fail rather than commit
        v3 built from v1 without v2's batch."""
        from redcap_omop_etl_spark.streaming import retraction
        from redcap_omop_etl_spark.state import (
            TERM_OP,
            StateCatalog,
            StateConflictError,
            term_stats_bootstrap,
            term_stats_tick,
        )

        docs = spark.createDataFrame(
            [(1, "aa bb cc"), (2, "bb cc dd"), (3, "cc dd ee")],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "state"))
        fp, _v1 = term_stats_bootstrap(cat, docs)
        other = spark.createDataFrame([(9, "ff gg")], "doc_id long, text string")
        read_meta = retraction._next_epoch_meta

        def meta_then_other_commit(*args):
            meta = read_meta(*args)
            term_stats_tick(cat, fp, docs, append_docs=other)  # commits v2
            return meta

        monkeypatch.setattr(retraction, "_next_epoch_meta", meta_then_other_commit)
        apply = retraction.catalog_delete_applier(cat, TERM_OP, fp, docs)
        with pytest.raises(StateConflictError):
            apply(spark, spark.createDataFrame([(3,)], "doc_id long"), 0)
        assert cat.versions(spark, TERM_OP, fp) == [1, 2]
        terms = {r["term"] for r in cat.load(spark, TERM_OP, fp)["terms"].collect()}
        assert {"ff", "gg", "ee"} <= terms


class TestStreamClusterIndex:
    """stream_to_cluster_index: micro-batched ingest into the versioned
    cluster state must equal the one-shot rebuild over everything
    ingested — including a cluster MERGE caused by a later batch
    bridging two earlier families."""

    def test_multibatch_stream_equals_rebuild(self, spark, tmp_path):
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import CLUSTER_OP, StateCatalog
        from redcap_omop_etl_spark.streaming.retraction import stream_to_cluster_index

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        # the concatenation has J~0.43 to each family: whether it bridges
        # them is an LSH coin flip — it exercises the merge code path,
        # and the rebuild-equality assertion holds EITHER way (both
        # sides see the same bucket graph)
        bridge = fam_a + " " + fam_b
        batches = [
            # batch 0: two separate families + a singleton
            [(1, fam_a), (2, fam_a), (10, fam_b), (11, fam_b),
             (20, "a lone unrelated document with its very own words here")],
            # batch 1: EXACT copy of a family-A member — identical shingle
            # set => identical signature => co-buckets in every band:
            # the cross-batch attach is deterministic
            [(30, fam_a)],
            # batch 2: the probabilistic bridge
            [(40, bridge)],
        ]
        src = tmp_path / "incoming"
        src.mkdir()
        # one parquet part-file per batch so maxFilesPerTrigger=1 yields
        # one micro-batch per ingest batch
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.parquet(str(tmp_path / f"stage{i}"))
            import glob, shutil

            part = glob.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"batch{i:03d}.parquet"))

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        cat = StateCatalog(str(tmp_path / "cluster_state"))
        fp = "ingest-corpus"
        q = stream_to_cluster_index(stream, cat, fp, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        # one committed version per micro-batch: bootstrap, then 2 ticks
        assert cat.latest_version(spark, CLUSTER_OP, fp) == 3
        got = {
            (r["node"], r["component"])
            for r in cat.load(spark, CLUSTER_OP, fp)["components"].collect()
        }
        all_docs = spark.createDataFrame(
            [r for b in batches for r in b], "doc_id long, text string"
        )
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(all_docs)).collect()
        }
        assert got == want
        lbl = dict(got)
        # deterministic pins: the exact-copy attach joined family A
        # across batches, and family B stayed internally clustered
        assert lbl[2] == 1 and lbl[30] == 1
        assert lbl[11] == lbl[10]
        assert 20 not in lbl  # singleton never entered the edge graph


def test_index_state_written_only_through_catalog():
    """Convention lint: nothing under streaming/ writes a DataFrame or a
    file, and in state.py ``.write`` appears only inside
    ``StateCatalog.save`` — index state has one store, the versioned
    catalog."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "redcap_omop_etl_spark"

    def write_sites(py):
        """(enclosing class/function path, line) of every ``.write``."""
        sites = []

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner = (*scope, child.name)
                elif isinstance(child, ast.Attribute) and child.attr == "write":
                    sites.append((".".join(scope), child.lineno))
                visit(child, inner)

        visit(ast.parse(py.read_text()), ())
        return sites

    streaming = [
        f"{py.name}:{line}"
        for py in sorted((pkg / "streaming").glob("*.py"))
        for _scope, line in write_sites(py)
    ]
    assert not streaming, "writes under streaming/: " + ", ".join(streaming)
    state_sites = write_sites(pkg / "state.py")
    outside = [f"state.py:{line} ({scope})" for scope, line in state_sites if scope != "StateCatalog.save"]
    assert not outside, "state writes outside StateCatalog.save: " + ", ".join(outside)
    assert state_sites  # the lint sees the catalog's own writes
