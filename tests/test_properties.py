"""Property-based tests (hypothesis) for the semantics SURVEY §5 calls out
as easy to get subtly wrong: the four date-granularity formats (minute
precision is HH:mm, NOT HH:mm:ss), first-seen dedup, error-channel
completeness (clean + errors == input), and the pivot/unpivot round trip.

Examples are deliberately few (each drives a real Spark job); the
generators aim at the edges — midnight timestamps, empty strings,
duplicate keys, all-null fields.
"""

from __future__ import annotations

from datetime import datetime, timezone

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from redcap_omop_etl_spark.functions.dates import GRANULARITIES, format_granularity, seconds_between
from redcap_omop_etl_spark.functions.errors import split_errors, try_timestamp
from redcap_omop_etl_spark.operators.eav import pivot_from_eav, unpivot_to_eav
from redcap_omop_etl_spark.operators.windows import first_seen_dedup

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# timestamps within the sane range, second precision (the EAV contract
# carries second-resolution strings; sub-second is out of scope)
_TS = st.datetimes(
    min_value=datetime(1971, 1, 1),
    max_value=datetime(2037, 12, 31),
).map(lambda d: d.replace(microsecond=0))

_PY_FMT = {
    "Date": "%Y-%m-%d",
    "DateTime": "%Y-%m-%d %H:%M",
    "DateTimeSeconds": "%Y-%m-%d %H:%M:%S",
    "DateYear": "%Y",
}


class TestDateGranularityProperties:
    @given(ts=st.lists(_TS, min_size=1, max_size=8))
    @settings(**_SETTINGS)
    def test_formats_match_strftime_all_granularities(self, spark, ts):
        df = spark.createDataFrame([(t,) for t in ts], "ts timestamp")
        out = df.select(
            *[format_granularity(F.col("ts"), g).alias(g) for g in GRANULARITIES]
        ).collect()
        for t, row in zip(ts, out):
            for g, fmt in _PY_FMT.items():
                assert row[g] == t.strftime(fmt), (g, t)

    @given(a=_TS, b=_TS)
    @settings(**_SETTINGS)
    def test_seconds_between_signed_roundtrip(self, spark, a, b):
        df = spark.createDataFrame([(a, b)], "a timestamp, b timestamp")
        got = df.select(seconds_between(F.col("a"), F.col("b")).alias("s")).head()["s"]
        want = int(
            (a.replace(tzinfo=timezone.utc) - b.replace(tzinfo=timezone.utc)).total_seconds()
        )
        assert got == want


class TestDedupProperties:
    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 100), st.text("ab", max_size=3)),
            min_size=1,
            max_size=30,
        )
    )
    @settings(**_SETTINGS)
    def test_first_seen_keeps_exactly_min_order_row(self, spark, rows):
        # make (key, seq) unique so "first" is well-defined
        uniq = {(k, s): v for k, s, v in rows}
        rows = [(k, s, v) for (k, s), v in uniq.items()]
        df = spark.createDataFrame(rows, "k int, seq int, v string")
        got = {
            (r["k"], r["seq"], r["v"])
            for r in first_seen_dedup(df, keys=["k"], order_cols=[F.col("seq")]).collect()
        }
        first = {}
        for k, s, v in sorted(rows, key=lambda r: (r[0], r[1])):
            first.setdefault(k, (k, s, v))
        assert got == set(first.values())


class TestErrorChannelProperties:
    @given(
        vals=st.lists(
            st.one_of(
                st.just("2020-01-02 03:04:05"),
                st.just("not a date"),
                st.just(""),
                st.text(max_size=12),
                _TS.map(lambda t: t.isoformat(sep=" ")),
            ),
            min_size=1,
            max_size=25,
        )
    )
    @settings(**_SETTINGS)
    def test_clean_plus_errors_is_total(self, spark, vals):
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, raw string")
        clean, errors = split_errors(df, try_timestamp("raw").isNotNull(), "bad timestamp")
        n_clean, n_err = clean.count(), errors.count()
        assert n_clean + n_err == len(vals)
        # the split is a partition: no id in both sides
        both = clean.select("id").intersect(errors.select("id")).count()
        assert both == 0


class TestPivotRoundtripProperties:
    @given(
        cells=st.dictionaries(
            st.tuples(st.integers(0, 3), st.sampled_from(["f1", "f2", "f3"])),
            st.text("xyz", min_size=1, max_size=4),
            min_size=1,
            max_size=12,
        )
    )
    @settings(**_SETTINGS)
    def test_unpivot_then_pivot_restores_cells(self, spark, cells):
        eav_rows = [(rid, fname, val) for (rid, fname), val in cells.items()]
        eav = spark.createDataFrame(eav_rows, "record_id int, field_name string, value string")
        wide = pivot_from_eav(eav, ["record_id"], ["f1", "f2", "f3"])
        back = unpivot_to_eav(wide, ["record_id"], ["f1", "f2", "f3"])
        got = {
            (r["record_id"], r["field_name"]): r["value"]
            for r in back.collect()
            if r["value"] is not None
        }
        assert got == cells


class TestDeterministicSplit:
    def test_split_partitions_and_is_layout_stable(self, spark):
        from redcap_omop_etl_spark.operators.sampling import hash_bucket, split_assign

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        cuts = {"train": 80, "val": 10, "test": 10}
        out = df.select("k", split_assign(F.col("k"), cuts).alias("s"))
        counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
        # every row lands in exactly one split; proportions near the cuts
        assert sum(counts.values()) == 2000
        assert abs(counts["train"] - 1600) < 120 and abs(counts["val"] - 200) < 80
        # layout-independence: any repartitioning yields the SAME assignment
        again = {
            r["k"]: r["s"]
            for r in df.repartition(13).select("k", split_assign(F.col("k"), cuts).alias("s")).collect()
        }
        first = {r["k"]: r["s"] for r in out.collect()}
        assert first == again
        # bucket range invariant
        bad = df.select(hash_bucket(F.col("k")).alias("b")).filter(
            (F.col("b") < 0) | (F.col("b") >= 100)
        )
        assert bad.count() == 0

    def test_split_percents_must_sum(self, spark):
        from redcap_omop_etl_spark.operators.sampling import split_assign
        import pytest as _pytest

        with _pytest.raises(ValueError):
            split_assign(F.lit("x"), {"a": 50, "b": 20})


class TestWinnowGuarantee:
    """MOSS guarantee: any shared token run of length >= w + k - 1
    (window w=4, gram k=3 → 6 tokens) yields >= 1 shared fingerprint,
    regardless of surrounding text."""

    def test_planted_overlap_always_detected(self, spark):
        from hypothesis import given, settings, strategies as st

        from redcap_omop_etl_spark.operators.textstats import winnow_fingerprints

        words = st.sampled_from(
            ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]
        )

        @settings(max_examples=8, deadline=None)
        @given(
            prefix=st.lists(words, min_size=0, max_size=6),
            shared=st.lists(words, min_size=6, max_size=9),
            suffix=st.lists(words, min_size=0, max_size=6),
        )
        def check(prefix, shared, suffix):
            doc_a = " ".join(prefix + shared)
            doc_b = " ".join(shared + suffix)
            df = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
            fps = winnow_fingerprints(df)
            a = {r["fp"] for r in fps.filter(F.col("doc_id") == 1).collect()}
            b = {r["fp"] for r in fps.filter(F.col("doc_id") == 2).collect()}
            assert a & b, f"no shared fingerprint for shared run {shared}"

        check()


def _union_find(edges) -> dict:
    """Reference labels: every node of ``edges`` -> its component's
    minimum node, by a sequential union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestConnectedComponentsProperty:
    """Both connected-components kernels — the driver union-find below
    the size gate and the distributed star-contraction loop above it —
    must agree with a sequential union-find on arbitrary small graphs:
    chains, cliques, duplicate and reversed edges, self-loop-only nodes,
    disjoint parts."""

    def test_matches_union_find(self, spark):
        from redcap_omop_etl_spark.operators import graph

        edge = st.tuples(st.integers(0, 14), st.integers(0, 14))

        @settings(max_examples=8, deadline=None)
        @given(
            edges=st.lists(edge, min_size=1, max_size=20),
            pick=st.integers(0, 19),
            lone=st.lists(st.integers(20, 24), max_size=3),
        )
        def check(edges, pick, lone):
            # one edge again and reversed, plus nodes whose only edges
            # are self-loops (singleton components)
            a, b = edges[pick % len(edges)]
            edges = edges + [(a, b), (b, a)] + [(x, x) for x in lone]
            expected = sorted(_union_find(edges).items())

            df = spark.createDataFrame(edges, "d1 long, d2 long")
            local = graph.connected_components(df)
            assert graph.CC_LAST_ROUNDS == 0  # below the gate: the local kernel
            loop, rounds = graph._star_contraction_components(
                df.select(F.col("d1").alias("u"), F.col("d2").alias("v")), 30
            )
            for kernel, comp in (("local", local), ("loop", loop)):
                got = sorted((r["node"], r["component"]) for r in comp.collect())
                assert got == expected, (kernel, edges, got, expected)

        check()

    def test_gate_dispatches_between_kernels(self, spark, monkeypatch):
        from redcap_omop_etl_spark.operators import graph

        monkeypatch.setattr(graph, "_SMALL_PLAN_ROWS", 4)
        for edges, local in (
            ([(1, 2), (2, 3), (7, 7)], True),  # 3 rows: under the gate
            ([(1, 2), (2, 3), (3, 4), (7, 7)], False),  # 4 rows: at the gate
            ([(5, 4), (4, 3), (3, 2), (2, 1), (9, 8), (8, 8)], False),
        ):
            df = spark.createDataFrame(edges, "d1 long, d2 long")
            got = sorted(
                (r["node"], r["component"])
                for r in graph.connected_components(df).collect()
            )
            assert got == sorted(_union_find(edges).items()), edges
            assert (graph.CC_LAST_ROUNDS == 0) == local, (edges, graph.CC_LAST_ROUNDS)


class TestPennyAllocationProperties:
    """The allocation formula (cumulative floor(x·100+0.5) differences) —
    pure-Python mirror of the kernel in operators/pandas_ops.py — must be
    sum-preserving and non-negative for ANY positive total and positive
    integer quantities. Checked here without a Spark job so hypothesis
    can afford hundreds of examples; the Spark/DuckDB agreement is pinned
    separately by the oracle and TestPandasOps."""

    @given(
        total=st.floats(min_value=0.01, max_value=1e7, allow_nan=False, allow_infinity=False),
        qs=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=12),
    )
    @settings(max_examples=300, deadline=None)
    def test_sum_preserving_and_nonnegative(self, total, qs):
        import math

        qcum = 0.0
        qtot = float(sum(qs))
        prev = 0.0
        allocs = []
        for q in qs:
            qcum += q
            c = math.floor(total * (qcum / qtot) * 100 + 0.5)
            allocs.append(int(c - prev))
            prev = c
        assert sum(allocs) == math.floor(total * 100 + 0.5)
        assert all(a >= 0 for a in allocs)
        # monotone shares: a line with more quantity never gets fewer
        # cents than floor/ceil rounding can explain (within 1 cent of
        # the exact proportional share)
        for q, a in zip(qs, allocs):
            exact = total * (q / qtot) * 100
            assert abs(a - exact) <= 1.0 + 1e-9


class TestRecursiveHierarchy:
    def test_closure_shape_and_counts(self, spark):
        from redcap_omop_etl_spark import workload
        from redcap_omop_etl_spark.sources.readers import Catalog
        from tests.conftest import SF_SMOKE

        got = {
            (r.node_kind, r.ancestor_kind, r.depth): r.n_paths
            for r in workload.queries()["sql_api_recursive_hierarchy"](spark, SF_SMOKE).collect()
        }
        cat = Catalog(spark, SF_SMOKE)
        n_cust = cat["customer"].count()
        n_supp = cat["supplier"].count()
        n_nat = cat["nation"].count()
        # exact closure of the 3-level hierarchy: every customer/supplier
        # reaches its nation at depth 1 and its region at depth 2; every
        # nation reaches its region at depth 1; recursion then terminates
        # (regions are roots), so exactly these five groups exist.
        assert got == {
            ("C", "N", 1): n_cust,
            ("C", "R", 2): n_cust,
            ("S", "N", 1): n_supp,
            ("S", "R", 2): n_supp,
            ("N", "R", 1): n_nat,
        }


class TestContainmentPairs:
    def test_subset_doc_detected(self, spark, tmp_path):
        # doc 2 is a strict prefix of doc 1: containment(2 in 1) == 1.0
        # while Jaccard is low — the case the asymmetric metric exists for.
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "A"),
            (2, "alpha beta gamma delta epsilon", "A"),
            (3, "totally different words here entirely", "B"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        path = str(tmp_path / "cont")
        df.write.parquet(f"{path}/documents.parquet")
        from redcap_omop_etl_spark.operators.dedup import dedup_containment

        got = {(r.d1, r.d2): (r.cont_1in2, r.cont_2in1) for r in dedup_containment(spark, path).collect()}
        assert (1, 2) in got
        c12, c21 = got[(1, 2)]
        assert c21 == 1.0  # every shingle of doc 2 appears in doc 1
        assert c12 < 0.5  # doc 1 is NOT contained in doc 2
        assert not any(3 in pair for pair in got)

    def test_matches_python_bruteforce(self, spark):
        import re

        from redcap_omop_etl_spark import workload
        from redcap_omop_etl_spark.sources.readers import Catalog
        from tests.conftest import SF_SMOKE

        got = {
            (r.d1, r.d2): (r.cont_1in2, r.cont_2in1)
            for r in workload.queries()["dedup_containment"](spark, SF_SMOKE).collect()
        }
        docs = Catalog(spark, SF_SMOKE)["documents"].select("doc_id", "text").collect()

        def sh(text):
            w = re.split(r"\s+", text.strip().lower())
            if len(w) < 3:
                return {" ".join(w)}
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        sets = {int(r.doc_id): sh(r.text) for r in docs}
        from collections import Counter

        dfreq = Counter(s for ss in sets.values() for s in ss)
        hot = {s for s, c in dfreq.items() if c > 100}
        sets = {d: ss - hot for d, ss in sets.items()}
        expected = {}
        ids = sorted(sets)
        for i, d1 in enumerate(ids):
            for d2 in ids[i + 1 :]:
                inter = len(sets[d1] & sets[d2])
                if not inter or not sets[d1] or not sets[d2]:
                    continue
                c12, c21 = inter / len(sets[d1]), inter / len(sets[d2])
                if max(c12, c21) >= 0.5:
                    expected[(d1, d2)] = (round(c12, 6), round(c21, 6))
        assert got == expected


class TestContainmentVsJaccard:
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                min_size=0,
                max_size=8,
            ),
            min_size=2,
            max_size=5,
        )
    )
    @settings(**_SETTINGS)
    def test_max_containment_dominates_jaccard(self, spark, docs):
        """C(A→B) = i/|A| ≥ i/|A∪B| = J always; and both metrics agree
        with python set arithmetic on arbitrary (incl. empty / 1-token /
        identical) documents."""
        from redcap_omop_etl_spark.operators.dedup import (
            containment_pairs,
            ngram_jaccard_pairs,
        )

        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        cont = {
            (r.d1, r.d2): (r.cont_1in2, r.cont_2in1)
            for r in containment_pairs(df, threshold=0.0).collect()
        }
        jac = {
            (r.d1, r.d2): r.jaccard
            for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
        }
        # same candidate pairs (both derive from the same shingle join)
        assert set(cont) == set(jac)
        for pair, (c12, c21) in cont.items():
            assert max(c12, c21) >= jac[pair] - 1e-9

        def sh(ws):
            w = [t for t in " ".join(ws).strip().lower().split()]
            if not w:
                return {""}
            if len(w) < 3:
                return {" ".join(w)}
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        sets = {i: sh(ws) for i, ws in enumerate(docs)}
        for (d1, d2), (c12, c21) in cont.items():
            i = len(sets[d1] & sets[d2])
            assert abs(c12 - round(i / len(sets[d1]), 6)) < 1e-9
            assert abs(c21 - round(i / len(sets[d2]), 6)) < 1e-9


class TestAsofNearest:
    def test_hand_timeline(self, spark, tmp_path):
        # user 1: errors at t=10 and t=100; purchases at t=30 (nearest =
        # backward err@10, gap 20), t=80 (nearest = forward err@100, gap
        # 20), t=55 (equidistant 45/45 -> backward wins). user 2: purchase
        # with no error at all -> null match.
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = []
        for eid, (u, sec, et) in enumerate(
            [
                (1, 10, "error"),
                (1, 100, "error"),
                (1, 30, "purchase"),
                (1, 80, "purchase"),
                (1, 55, "purchase"),
                (2, 40, "purchase"),
            ]
        ):
            rows.append((eid, u, base + dt.timedelta(seconds=sec), et, 1.0, "{}"))
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        from redcap_omop_etl_spark.operators.windows import join_asof_nearest

        got = {
            r.event_id: (r.nearest_error_id, r.direction, r.gap_us)
            for r in join_asof_nearest(spark, str(tmp_path)).collect()
        }
        assert got[2] == (0, "backward", 20_000_000)
        assert got[3] == (1, "forward", 20_000_000)
        assert got[4] == (0, "backward", 45_000_000)  # tie -> backward
        assert got[5] == (None, None, None)


class TestPrefixJaccardRecallProperty:
    """The PPJoin prefix + length + positional filters must lose ZERO
    recall vs the unfiltered exact pair join on arbitrary corpora — the
    guarantee the round-5 positional filter must never break."""

    @given(
        docs=st.lists(
            st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=12).map(
                lambda cs: " ".join(cs)
            ),
            min_size=2,
            max_size=8,
        ),
        thr=st.sampled_from([0.4, 0.6, 0.8]),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
    def test_prefix_equals_exact(self, spark, docs, thr):
        from redcap_omop_etl_spark.operators.dedup import ngram_jaccard_pairs, prefix_jaccard_pairs

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
        )
        exact = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in ngram_jaccard_pairs(df, threshold=thr, df_cap=None).collect()
        }
        prefix = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in prefix_jaccard_pairs(df, threshold=thr).collect()
        }
        assert prefix == exact


class TestGlobalIndexDescending:
    """with_global_index with Column sort expressions (the Zipf-rank
    path) must equal the naive global-window rank."""

    @given(vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40))
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
    def test_matches_sorted_order(self, spark, vals):
        from redcap_omop_etl_spark.sinks.chunked import with_global_index

        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")
        got = {
            r["id"]: r["__idx"]
            for r in with_global_index(df, [F.desc("v"), F.asc("id")]).collect()
        }
        want = {
            row_id: idx
            for idx, (row_id, _) in enumerate(
                sorted(enumerate(vals), key=lambda t: (-t[1], t[0]))
            )
        }
        assert got == want


class TestKeyedWindowProperties:
    """The two-phase keyed primitives (round 7) must equal their naive
    Window.partitionBy(key) formulations on ARBITRARY small frames —
    skewed keys, one-row keys, totals under/over the tile count, ties in
    the value column (order stays total via the id tie-break)."""

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 9)),  # (key, value)
            min_size=1,
            max_size=24,
        ),
        n_tiles=st.sampled_from([2, 5, 13]),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    def test_ntile_index_runsum_match_naive(self, spark, rows, n_tiles):
        from pyspark.sql import Window
        from redcap_omop_etl_spark.operators.scalable_windows import (
            keyed_ntile,
            keyed_running_sum,
            with_keyed_index,
        )

        data = [(i, f"k{k}", v) for i, (k, v) in enumerate(rows)]
        d = spark.createDataFrame(data, "id long, k string, v long")
        w = Window.partitionBy("k").orderBy("v", "id")

        ref = d.select(
            "id",
            (F.row_number().over(w) - 1).alias("i"),
            F.ntile(n_tiles).over(w).cast("bigint").alias("t"),
            F.coalesce(
                F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("s"),
        ).collect()
        got_i = {r.id: r.i for r in with_keyed_index(d, ["k"], ["v", "id"], "i").collect()}
        got_t = {r.id: r.t for r in keyed_ntile(d, ["k"], ["v", "id"], n_tiles, "t").collect()}
        got_s = {r.id: r.s for r in keyed_running_sum(d, ["k"], ["v", "id"], "v", "s").collect()}
        for r in ref:
            assert got_i[r.id] == r.i
            assert got_t[r.id] == r.t
            assert got_s[r.id] == r.s


class TestSemDeDupBruteforce:
    def test_flags_match_python_reference(self, spark):
        # Given the SAME Spark-trained k-means cells, the anchor/prune
        # semantics must match an O(cells x members x anchors) Python
        # reference exactly: pruned iff some lower-id anchor in the cell
        # has round(cos, 4) >= tau.
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            semdedup_flags,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog
        from tests.conftest import SF_SMOKE

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        assignments, _ = ivf_build(emb, n_clusters=8, n_iters=2)
        tau, n_anchors = 0.3, 4
        got = {
            r.vec_id: (r.n_dup_anchors, r.is_kept)
            for r in semdedup_flags(
                emb, assignments, tau=tau, n_anchors=n_anchors
            ).collect()
        }

        vecs = {
            int(r.vec_id): [float(x) for x in r.embedding]
            for r in emb.select("vec_id", "embedding").collect()
        }
        cells = {}
        for r in assignments.collect():
            cells.setdefault(r.cluster, []).append(int(r.vec_id))

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(x * x for x in b) ** 0.5
            return round(dot / (na * nb), 4)

        expected = {}
        for cl, members in cells.items():
            members = sorted(members)
            anchors = members[:n_anchors]
            for m in members:
                hits = sum(
                    1 for a in anchors if a < m and cos(vecs[a], vecs[m]) >= tau
                )
                expected[m] = (hits, hits == 0)
        assert got == expected


class TestAdcSumProperty:
    def test_adc_equals_code_table_lookup_sum(self, spark):
        # The ADC join+aggregate must equal a per-vector lookup-sum over
        # the COLLECTED code and distance tables, and the top-k cut must
        # equal the Python sort on (adc_d2q, vec_id).
        from pyspark.sql import functions as F

        from redcap_omop_etl_spark.operators.similarity import (
            _adc_dtable,
            _adc_topk,
            pq_assign,
        )
        from redcap_omop_etl_spark.sources.readers import Catalog
        from tests.conftest import SF_SMOKE

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
        codes, cs = pq_assign(emb)
        dtable_df = _adc_dtable(cs, qv)
        got = _adc_topk(codes, dtable_df, 10).collect()

        dtable = {(r.subspace, r.codeword): r.qd2q for r in dtable_df.collect()}
        by_vec = {}
        for r in codes.collect():
            by_vec.setdefault(r.vec_id, 0)
            by_vec[r.vec_id] += dtable[(r.subspace, r.codeword)]
        want = sorted(by_vec.items(), key=lambda t: (t[1], t[0]))[:10]
        assert [(r.vec_id, r.adc_d2q) for r in got] == want
        assert [r.adc_rank for r in got] == list(range(1, 11))
