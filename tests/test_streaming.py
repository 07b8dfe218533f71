"""Streaming tests: stream results ≡ batch results on the same input, the
stateful operator, dedup, and the foreachBatch chunked sink bridge."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from redcap_omop_etl_spark.sources.readers import Catalog
from redcap_omop_etl_spark.streaming import windows as sw
from tests.conftest import SF_SMOKE, term_stats_rebuild


def _run_stream_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _norm(df):
    return sorted(tuple(r) for r in df.collect())


def _terms(frames) -> set[tuple[str, int, int]]:
    """The (term, df, cf) rows of a loaded term-stats version."""
    return {(r["term"], r["df"], r["cf"]) for r in frames["terms"].collect()}


@pytest.fixture(scope="module")
def batch_events(spark):
    return Catalog(spark, SF_SMOKE)["events"]


@pytest.fixture(scope="module")
def stream_events(spark):
    return sw.read_events_stream(spark, SF_SMOKE)


class TestStreamEqualsBatch:
    def test_tumbling(self, spark, batch_events, stream_events):
        batch = sw.tumbling_window_agg(batch_events)
        stream = _run_stream_to_memory(
            spark, sw.tumbling_window_agg(stream_events), "t_tumbling", "complete"
        )
        assert _norm(stream) == _norm(batch)

    def test_sliding(self, spark, batch_events, stream_events):
        batch = sw.sliding_window_agg(batch_events)
        stream = _run_stream_to_memory(
            spark, sw.sliding_window_agg(stream_events), "t_sliding", "complete"
        )
        assert _norm(stream) == _norm(batch)

    def test_session_window(self, spark, batch_events, stream_events):
        batch = sw.session_window_agg(batch_events)
        stream = _run_stream_to_memory(
            spark, sw.session_window_agg(stream_events), "t_session", "complete"
        )
        assert _norm(stream) == _norm(batch)

    def test_dedup_bounded_state(self, spark, batch_events, stream_events):
        batch = sw.stream_dedup(batch_events, ["user_id", "event_type"])
        stream = _run_stream_to_memory(
            spark, sw.stream_dedup(stream_events, ["user_id", "event_type"]), "t_dedup", "append"
        )
        # watermark dedup keeps one row per key (which one is arrival-order
        # dependent) — key sets must match exactly
        b = {(r.user_id, r.event_type) for r in batch.collect()}
        s = {(r.user_id, r.event_type) for r in stream.collect()}
        assert s == b

    def test_interval_join(self, spark, batch_events, stream_events):
        batch = sw.interval_join_views_purchases(batch_events)
        stream = _run_stream_to_memory(
            spark, sw.interval_join_views_purchases(stream_events), "t_ivjoin", "append"
        )
        assert _norm(stream) == _norm(batch)
        assert stream.count() > 0

    def test_interval_join_left_outer(self, spark, batch_events, stream_events):
        # Outer stream-stream join: matched rows must equal the batch
        # matched set exactly; NULL (unmatched-view) rows emit only once
        # the watermark clears a view's window end, so the stream's null
        # set is a SUBSET of the batch's — trailing views stay pending.
        batch = sw.interval_join_views_purchases(batch_events, how="left_outer")
        stream = _run_stream_to_memory(
            spark,
            sw.interval_join_views_purchases(stream_events, how="left_outer"),
            "t_ivjoin_outer",
            "append",
        )
        b_matched = _norm(batch.filter(F.col("purchase_id").isNotNull()))
        s_matched = _norm(stream.filter(F.col("purchase_id").isNotNull()))
        assert s_matched == b_matched
        b_nulls = set(_norm(batch.filter(F.col("purchase_id").isNull())))
        s_nulls = set(_norm(stream.filter(F.col("purchase_id").isNull())))
        assert s_nulls <= b_nulls

    def test_stream_static_enrich(self, spark, batch_events, stream_events):
        dim = Catalog(spark, SF_SMOKE)["nation"]
        batch = sw.stream_static_enrich(batch_events, dim)
        stream = _run_stream_to_memory(
            spark, sw.stream_static_enrich(stream_events, dim), "t_enrich", "append"
        )
        assert _norm(stream) == _norm(batch)
        assert stream.count() > 0

    def test_stateful_running_total_batch_form(self, spark, batch_events):
        out = sw.stateful_running_total(batch_events)
        rows = out.filter(F.col("user_id") == 1).orderBy("event_id").collect()
        vals = [r.running_total for r in rows]
        assert vals == sorted(vals) or all(
            vals[i] >= 0 for i in range(len(vals))
        )  # totals accumulate (values are positive in fixture)

    def test_stateful_running_total_state_survives_batches(
        self, spark, batch_events, tmp_path
    ):
        # applyInPandasWithState: GroupState must carry each user's total
        # ACROSS micro-batches. Split events into 6 files / 6 triggers;
        # per-event intermediate totals depend on arrival order, but with
        # all-positive values the MAX emission per user is its final
        # accumulated state, which must equal the batch sum — and every
        # event must emit exactly one row.
        d = str(tmp_path / "statesplit")
        spark.read.parquet(SF_SMOKE + "/events.parquet").repartition(6).write.parquet(
            d + "/events.parquet"
        )
        stream = sw.read_events_stream(spark, d, max_files_per_trigger=1)
        q = (
            sw.stateful_running_total(stream)
            .writeStream.format("memory")
            .queryName("t_state_rt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(q.recentProgress) > 1  # state actually crossed batches
        got = (
            spark.sql("SELECT * FROM t_state_rt")
            .groupBy("user_id")
            .agg(F.max("running_total").alias("final"), F.count(F.lit(1)).alias("n"))
        )
        want = batch_events.groupBy("user_id").agg(
            F.round(F.sum("value"), 2).alias("total"), F.count(F.lit(1)).alias("n")
        )
        joined = got.join(want, "user_id").collect()
        assert len(joined) == want.count()
        for r in joined:
            assert abs(r.final - r.total) <= 0.02, r
        counts = {(r.user_id, r.n) for r in got.collect()}
        want_counts = {(r.user_id, r.n) for r in want.collect()}
        assert counts == want_counts


class TestForeachBatchSink:
    def test_chunked_sink_bridge(self, spark, stream_events, tmp_path):
        out_dir = str(tmp_path / "chunks")
        os.makedirs(out_dir)
        ckpt = str(tmp_path / "ckpt")

        def transport(envelope: str) -> None:
            payload = json.loads(envelope)
            p = os.path.join(out_dir, f"epoch{payload['epoch']}_chunk{payload['chunk_number']}.json")
            with open(p, "w") as fh:
                fh.write(envelope)

        thin = stream_events.select("event_id", "user_id")
        q = sw.stream_to_chunked_sink(thin, transport, ["event_id"], chunk_size=400, checkpoint_dir=ckpt)
        q.awaitTermination(120)
        files = sorted(glob.glob(os.path.join(out_dir, "*.json")))
        assert files, "sink produced no chunks"
        total = sum(len(json.loads(open(f).read())["redcap_records"]) for f in files)
        assert total == 1000  # sf0.001 events row count


class TestStreamUpsertSink:
    def test_stream_upserts_into_partitioned_target(self, spark, stream_events, tmp_path):
        from redcap_omop_etl_spark.sources.partitioned import write_partitioned

        target = str(tmp_path / "target")
        # seed the target with one existing row per event_type partition,
        # keyed so some stream rows replace it
        seed = spark.createDataFrame(
            [(0, "view", -1.0), (1, "purchase", -1.0)],
            "event_id long, event_type string, value double",
        )
        write_partitioned(seed, target, "event_type")

        thin = stream_events.select("event_id", "event_type", "value")
        q = sw.stream_to_upsert_sink(
            thin, target, keys=["event_id"], partition_col="event_type",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

        got = spark.read.parquet(target)
        batch = spark.read.parquet(SF_SMOKE + "/events.parquet").select("event_id", "event_type", "value")
        # every streamed key present exactly once with the streamed value
        assert got.count() == batch.count()  # seeds were replaced, not duplicated
        assert got.filter(F.col("value") == -1.0).count() == 0


class TestMultiBatchIncremental:
    """State must carry across micro-batches: split the input into many
    files, trigger one file per micro-batch, and require the final state
    to equal the single-batch (and batch-mode) answer."""

    @pytest.fixture(scope="class")
    def split_dir(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("evsplit"))
        # 8 files, arbitrary row order — late data within watermark bounds.
        # Split the RAW layout (ts as long) — read_events_stream owns the
        # timestamp conversion, so the split must not pre-convert.
        raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
        raw.repartition(8).write.parquet(d + "/events.parquet")
        return d

    def test_tumbling_agg_accumulates_across_batches(self, spark, split_dir, batch_events):
        stream = sw.read_events_stream(spark, split_dir, max_files_per_trigger=1)
        agg = sw.tumbling_window_agg(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("multibatch_tumbling")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(q.recentProgress) > 1, "expected multiple micro-batches"
        got = _norm(spark.sql("SELECT * FROM multibatch_tumbling"))
        want = _norm(sw.tumbling_window_agg(batch_events))
        assert got == want

    def test_dedup_state_spans_batches(self, spark, split_dir):
        # duplicate user_ids across different files: dedup state must
        # remember keys seen in earlier micro-batches. The watermark must
        # exceed the corpus's event-time span (~22 days) for EXACT global
        # dedup — a shorter horizon correctly re-emits keys whose state
        # expired (bounded-state contract, verified first below).
        stream = sw.read_events_stream(spark, split_dir, max_files_per_trigger=1)
        bounded = sw.stream_dedup(stream, ["user_id"], watermark="10 days")
        qb = (
            bounded.writeStream.format("memory")
            .queryName("multibatch_dedup_bounded")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qb.awaitTermination(180)
        n_users = Catalog(spark, SF_SMOKE)["events"].select("user_id").distinct().count()
        n_bounded = spark.sql("SELECT count(*) AS n FROM multibatch_dedup_bounded").collect()[0]["n"]
        assert n_bounded >= n_users  # expiry may re-emit, never lose keys

        dd = sw.stream_dedup(stream, ["user_id"], watermark="40 days")
        q = (
            dd.writeStream.format("memory")
            .queryName("multibatch_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        n_users = Catalog(spark, SF_SMOKE)["events"].select("user_id").distinct().count()
        assert spark.sql("SELECT count(*) AS n FROM multibatch_dedup").collect()[0]["n"] == n_users


class TestCheckpointRestart:
    def test_restart_from_checkpoint_does_not_reprocess(self, spark, tmp_path):
        from redcap_omop_etl_spark.sources.partitioned import write_partitioned

        target = str(tmp_path / "target")
        ckpt = str(tmp_path / "ckpt")
        seed = spark.createDataFrame(
            [(0, "view", -1.0)], "event_id long, event_type string, value double"
        )
        write_partitioned(seed, target, "event_type")

        def run_once():
            stream = sw.read_events_stream(spark, SF_SMOKE).select(
                "event_id", "event_type", "value"
            )
            q = sw.stream_to_upsert_sink(
                stream, target, keys=["event_id"], partition_col="event_type",
                checkpoint_dir=ckpt,
            )
            q.awaitTermination(120)
            return q

        q1 = run_once()
        n_after_first = spark.read.parquet(target).count()
        assert len(q1.recentProgress) >= 1

        # second start against the SAME checkpoint and unchanged input:
        # the source offset log says everything is committed — no batch
        # may run, and the table must be byte-for-byte stable
        q2 = run_once()
        batches_with_rows = [p for p in q2.recentProgress if p["numInputRows"] > 0]
        assert batches_with_rows == []
        assert spark.read.parquet(target).count() == n_after_first


class TestUpdateMode:
    def test_latest_update_per_key_equals_batch(self, spark, batch_events, tmp_path):
        # update mode re-emits a window row whenever a micro-batch changes
        # it; the LAST emission per key must equal the batch answer
        d = str(tmp_path / "usplit")
        spark.read.parquet(SF_SMOKE + "/events.parquet").repartition(6).write.parquet(
            d + "/events.parquet"
        )
        stream = sw.read_events_stream(spark, d, max_files_per_trigger=1)
        # update mode ENFORCES the watermark (late rows drop, unlike
        # complete mode): the split scrambles event-time across files, so
        # exact batch equality needs a horizon wider than the data span
        agg = sw.tumbling_window_agg(stream, watermark="40 days")
        q = (
            agg.writeStream.format("memory")
            .queryName("updmode")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(q.recentProgress) > 1
        updates = spark.sql("SELECT * FROM updmode")
        # the memory sink appends every update in arbitrary partition
        # order, but the count n is MONOTONE per key across updates — the
        # row with the max n per key is that key's final state
        from pyspark.sql import Window as W

        w = W.partitionBy("window_start", "event_type").orderBy(F.desc("n"))
        final = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        got = _norm(final)
        want = _norm(sw.tumbling_window_agg(batch_events))
        assert got == want


class TestTransformWithState:
    def test_tws_batch_fallback(self, spark, batch_events):
        # the batch form of the TWS operator is a plain groupBy — always
        # runnable; totals must cover every user exactly once
        out = sw.stateful_totals_tws(batch_events)
        assert out.count() == batch_events.select("user_id").distinct().count()

    def test_tws_totals_equal_batch(self, spark, batch_events, tmp_path):
        # Spark 4 transformWithStateInPandas: typed ValueState across
        # micro-batches (RocksDB store required). Split events into 6
        # files / 3 batches so state continuity is actually exercised;
        # the last emission per user (max n_events) must equal the batch
        # groupBy.
        pytest.importorskip(
            "google.protobuf",
            reason="transformWithState state-server protocol needs protobuf (absent in sandbox)",
        )
        d = str(tmp_path / "twsplit")
        spark.read.parquet(SF_SMOKE + "/events.parquet").repartition(6).write.parquet(
            d + "/events.parquet"
        )
        saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = sw.read_events_stream(spark, d, max_files_per_trigger=2)
            out = sw.stateful_totals_tws(stream)
            q = (
                out.writeStream.format("memory")
                .queryName("t_tws")
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) > 1
            updates = spark.sql("SELECT * FROM t_tws")
            final = {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in updates.withColumn(
                    "rk",
                    F.row_number().over(
                        __import__("pyspark.sql.window", fromlist=["Window"])
                        .Window.partitionBy("user_id")
                        .orderBy(F.desc("n_events"))
                    ),
                )
                .filter(F.col("rk") == 1)
                .collect()
            }
            batch = {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in sw.stateful_totals_tws(batch_events).collect()
            }
            assert set(final) == set(batch)
            for u in batch:
                assert final[u][0] == batch[u][0], u
                assert abs(final[u][1] - batch[u][1]) < 1e-6, u
        finally:
            if saved is not None:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


class TestTwoLevelRollup:
    """Chained stateful aggregation (SPARK-40925): minute pre-agg → hour
    rollup in ONE streaming query, Append mode. Append emits a level-2
    window only after the watermark passes its end, so with availableNow
    input the tail windows (within the 2h watermark of the corpus max
    event time) stay in state: stream rows must be a SUBSET of batch rows
    and EXACTLY equal on finalized windows."""

    def test_stream_matches_batch_on_finalized_windows(self, spark, batch_events, stream_events):
        batch = sw.two_level_rollup(batch_events)
        stream = _run_stream_to_memory(
            spark, sw.two_level_rollup(stream_events), "t_two_level", "append"
        )
        b = {tuple(r) for r in batch.collect()}
        s = {tuple(r) for r in stream.collect()}
        assert s, "no level-2 window finalized — watermark never advanced"
        assert s <= b
        # every batch window ending before (max_ts − watermark − 1h span)
        # must have been emitted by the stream
        max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
        import datetime

        horizon = max_ts - datetime.timedelta(hours=3)  # 2h watermark + 1h window
        finalized = {
            t for t in b
            if datetime.datetime.strptime(t[0], "%Y-%m-%d %H:%M:%S") < horizon - datetime.timedelta(hours=1)
        }
        assert finalized <= s


class TestCrashRestartRecovery:
    """Kill-and-restart from checkpoint — the exactly-once property a
    100 TB deployment actually relies on. A crash is injected in the
    foreachBatch sink AFTER several micro-batches have committed; the
    query dies mid-stream, is restarted against the SAME checkpoint, and
    the final output must be exactly-once: committed batches never
    reprocess (their rows appear once), the failed batch replays once
    (it never wrote), and stateful operators (dedup state, window state)
    resume from the state store instead of restarting cold."""

    @pytest.fixture(scope="class")
    def split_dir(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("evsplit_crash"))
        raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
        raw.repartition(8).write.parquet(d + "/events.parquet")
        return d

    @pytest.fixture(scope="class")
    def split_dir_ordered(self, spark, tmp_path_factory):
        # time-range-partitioned split: file k holds a contiguous ts range,
        # and the file source consumes part files in order — so the
        # watermark advances monotonically and append-mode windows never
        # drop late data (a RANDOM split would let an early file carry the
        # corpus max ts, jump the watermark, and silently drop the rest —
        # a watermark-semantics artifact, not a recovery bug; the dedup
        # test below keeps the random split because its 40-day watermark
        # exceeds the corpus span).
        d = str(tmp_path_factory.mktemp("evsplit_crash_ord"))
        raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
        raw.repartitionByRange(8, "ts").write.parquet(d + "/events.parquet")
        # FileStreamSource orders new files by MODIFICATION TIME and the
        # whole write job lands within one mtime tick, so tie-break order
        # is undefined — a late-range part consumed early jumps the
        # watermark and silently late-drops entire earlier files. Stamp
        # strictly increasing mtimes in part order (range order = ts
        # order) so maxFilesPerTrigger=1 consumes in event-time order.
        parts = sorted(glob.glob(d + "/events.parquet/part-*.parquet"))
        assert len(parts) == 8
        for i, p in enumerate(parts):
            os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
        return d

    def _run(self, spark, split_dir, build, ckpt, outdir, crash_at=None):
        stream = sw.read_events_stream(spark, split_dir, max_files_per_trigger=1)

        def sink(batch_df, epoch_id):
            if crash_at is not None and epoch_id >= crash_at:
                raise RuntimeError("injected mid-stream crash")
            batch_df.write.mode("append").parquet(outdir)

        q = (
            build(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        except Exception:  # noqa: BLE001 - injected StreamingQueryException
            pass
        return q

    def test_dedup_exactly_once_across_crash(self, spark, split_dir, tmp_path):
        ckpt, out = str(tmp_path / "ck_dd"), str(tmp_path / "out_dd")
        build = lambda s: sw.stream_dedup(s, ["user_id"], watermark="40 days")  # noqa: E731

        q1 = self._run(spark, split_dir, build, ckpt, out, crash_at=3)
        assert q1.exception() is not None, "crash must have killed the query"
        committed = sum(p["numInputRows"] for p in q1.recentProgress[:3])
        assert committed > 0, "some batches must commit before the crash"

        q2 = self._run(spark, split_dir, build, ckpt, out, crash_at=None)
        assert q2.exception() is None
        # restart resumed from the checkpoint: it read strictly less than
        # the full corpus (committed batches are not re-read)
        total = spark.read.parquet(SF_SMOKE + "/events.parquet").count()
        replayed = sum(p["numInputRows"] for p in q2.recentProgress)
        assert 0 < replayed < total

        # exactly-once: every user exactly once across BOTH runs' output —
        # dedup state recovered from the state store, committed batches
        # not re-emitted, the crashed batch emitted exactly once
        got = spark.read.parquet(out)
        n_users = Catalog(spark, SF_SMOKE)["events"].select("user_id").distinct().count()
        assert got.count() == n_users
        assert got.select("user_id").distinct().count() == n_users

    def test_tumbling_windows_exactly_once_across_crash(self, spark, split_dir_ordered, tmp_path, batch_events):
        ckpt, out = str(tmp_path / "ck_tw"), str(tmp_path / "out_tw")
        build = sw.tumbling_window_agg

        q1 = self._run(spark, split_dir_ordered, build, ckpt, out, crash_at=2)
        assert q1.exception() is not None
        q2 = self._run(spark, split_dir_ordered, build, ckpt, out, crash_at=None)
        assert q2.exception() is None

        got = spark.read.parquet(out)
        rows = [tuple(r) for r in got.collect()]
        # exactly-once: append-mode finalized windows are emitted ONCE —
        # no (window, event_type) key appears twice across the crash
        keys = [(r[0], r[1]) for r in rows]
        assert len(keys) == len(set(keys)), "duplicate finalized windows across restart"
        # and the union of both runs' emissions matches batch on every
        # window the watermark finalized (same subset logic as the
        # stream≡batch suite)
        b = {tuple(r) for r in sw.tumbling_window_agg(batch_events).collect()}
        s = set(rows)
        assert s, "no window finalized across the crash/restart"
        assert s <= b
        import datetime

        max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
        horizon = max_ts - datetime.timedelta(hours=3)  # 2h watermark + 1h width
        finalized = {
            t for t in b
            if datetime.datetime.strptime(t[0], "%Y-%m-%d %H:%M:%S") < horizon
        }
        assert finalized <= s


class TestNearDupGate:
    def test_stream_equals_batch_on_kept_signature_set(self, spark):
        # round 8: the streaming near-dup ingest gate must admit exactly
        # the batch-distinct signature set (which ROW survives per
        # signature is arrival-dependent — same contract as the exact-key
        # watermark dedup above).
        batch_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        stream_docs = sw.read_documents_stream(spark, SF_SMOKE)
        b = {r.sig_fp for r in sw.stream_near_dup_gate(batch_docs).collect()}
        s_df = _run_stream_to_memory(
            spark, sw.stream_near_dup_gate(stream_docs), "t_ndgate", "append"
        )
        s = {r.sig_fp for r in s_df.collect()}
        assert s == b
        # the gate must actually gate: exact duplicates of text collapse
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        assert len(b) <= docs.count()

    def test_signature_collapses_near_exact_dups(self, spark):
        from redcap_omop_etl_spark.operators.dedup import near_dup_signature
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                # identical shingle set, different whitespace/case
                (2, "  Alpha beta GAMMA delta epsilon zeta eta theta "),
                (3, "totally different words in this other document here"),
            ],
            "doc_id long, text string",
        )
        sigs = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", near_dup_signature(F.col("text")).alias("s")
            ).collect()
        }
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]


class TestSemanticDedupGate:
    def test_stream_equals_batch_on_kept_signature_set(self, spark):
        # embedding-space analog of the near-dup gate: admitted 16-bit
        # hyperplane-signature set must match batch-distinct exactly
        # (which ROW survives per signature is arrival-dependent).
        batch_emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        stream_emb = sw.read_embeddings_stream(spark, SF_SMOKE)
        b = {r.sem_fp for r in sw.stream_semantic_dedup_gate(batch_emb).collect()}
        s_df = _run_stream_to_memory(
            spark, sw.stream_semantic_dedup_gate(stream_emb), "t_semgate", "append"
        )
        s = {r.sem_fp for r in s_df.collect()}
        assert s == b
        assert len(b) <= batch_emb.count()

    def test_identical_vectors_collapse_distinct_do_not(self, spark):
        from pyspark.sql import functions as F

        dim = 64
        v1 = [1.0 if d % 5 == 0 else -0.3 for d in range(dim)]
        v2 = [-1.0 if d % 3 == 0 else 0.7 for d in range(dim)]
        df = spark.createDataFrame(
            [(1, v1, 0), (2, list(v1), 0), (3, v2, 0)],
            "vec_id long, embedding array<float>, label int",
        )
        out = sw.stream_semantic_dedup_gate(df).collect()
        sigs = {r.vec_id: r.sem_fp for r in out}
        # ids 1 and 2 share a signature -> only one admitted
        assert len(out) == 2
        assert len({r.sem_fp for r in out}) == 2


class TestLateDataReadmission:
    """The horizon/recall trade of the streaming ingest gates, PINNED
    rather than just stated (round-9 brief item 7): a duplicate arriving
    AFTER its signature's state expired — beyond the watermark horizon of
    its admitted twin — is RE-ADMITTED. That is the documented
    at-least-once contract of every bounded-state dedup gate: state for a
    key is retained only while watermark < admitted_event_ts + delay, so
    eviction trades state size for duplicate recall. Batch
    ``dropDuplicates`` (unbounded state) suppresses the same duplicate,
    which is exactly why the stream ≡ batch pins in the gate docstrings
    are scoped to corpora whose ids fit inside the horizon."""

    T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    U = "totally different words fill this other document body here now"
    V = "yet more unrelated filler content advancing the stream clock on"

    @pytest.fixture(scope="class")
    def doc_split_dir(self, spark, tmp_path_factory):
        # four single-row files consumed one per micro-batch, mtime-
        # stamped in arrival order (the split_dir_ordered trick):
        #   batch 0: doc 1     text T  -> sig(T) admitted; its state
        #            expires once watermark > ingest_ts(1) + 2h = 93601s
        #   batch 1: doc 20000 text U  -> max event time 106400s; the
        #            NEXT batch's watermark becomes 106400-7200 = 99200s
        #   batch 2: doc 25000 text V  -> runs with watermark 99200s >
        #            93601s, so end-of-batch state cleanup EVICTS sig(T)
        #            (eviction is end-of-batch, hence the filler batch)
        #   batch 3: doc 30000 text T  -> same signature, state gone
        d = str(tmp_path_factory.mktemp("docsplit_late"))
        base = d + "/documents.parquet"
        batches = [
            [(1, self.T)],
            [(20000, self.U)],
            [(25000, self.V)],
            [(30000, self.T)],
        ]
        seen: set[str] = set()
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                [(i_, t, "en", "web", len(t)) for i_, t in rows],
                "doc_id long, text string, lang string, source string, n_chars long",
            )
            df.coalesce(1).write.mode("append").parquet(base)
            new = set(glob.glob(base + "/part-*.parquet")) - seen
            for p in new:
                os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
            seen |= new
        return d

    def test_expired_signature_readmitted_beyond_horizon(self, spark, doc_split_dir):
        stream = sw.read_documents_stream(spark, doc_split_dir, max_files_per_trigger=1)
        out = _run_stream_to_memory(
            spark, sw.stream_near_dup_gate(stream), "t_late_readmit", "append"
        ).collect()
        # batch mode (unbounded state): the doc-30000 duplicate is dropped
        batch_docs = spark.read.parquet(doc_split_dir + "/documents.parquet")
        b = sw.stream_near_dup_gate(batch_docs).collect()
        assert len(b) == 3  # T admitted once, U once, V once
        # stream mode: all four admitted — the duplicate RE-ADMITS
        # because its twin's state expired beyond the watermark horizon
        got = sorted(r.doc_id for r in out)
        assert got == [1, 20000, 25000, 30000]
        sigs = {r.doc_id: r.sig_fp for r in out}
        assert sigs[1] == sigs[30000]  # genuinely the same signature
        assert sigs[1] != sigs[20000]

    def test_duplicate_within_horizon_still_dropped(self, spark, doc_split_dir):
        # control: the same three-file corpus under a horizon WIDER than
        # the id span keeps exact stream = batch dedup (no re-admission)
        stream = sw.read_documents_stream(spark, doc_split_dir, max_files_per_trigger=1)
        out = _run_stream_to_memory(
            spark,
            sw.stream_near_dup_gate(stream, watermark="10 hours"),
            "t_late_control",
            "append",
        ).collect()
        assert sorted(r.doc_id for r in out) == [1, 20000, 25000]


class TestStreamToDeleteTicks:
    """The retraction bridge (round-10 verdict item 3): a multi-batch
    takedown stream driving each family's catalog tick must leave every
    index state equal to the one-shot rebuild over the survivors.
    (The single-tick ≡ rebuild legs are separately value-checked
    cross-engine by the registered delete queries' DuckDB oracles; this
    pins the streaming COMPOSITION end-to-end.)"""

    def _id_stream(self, spark, tmp_path, batches, col="doc_id"):
        src = tmp_path / "takedown"
        src.mkdir()
        import shutil

        for i, ids in enumerate(batches):
            stage = tmp_path / f"delstage{i}"
            spark.createDataFrame([(x,) for x in ids], f"{col} long").coalesce(
                1
            ).write.parquet(str(stage))
            part = glob.glob(str(stage / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"batch{i:03d}.parquet"))
        return (
            spark.readStream.schema(f"{col} long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    def test_cluster_state_multibatch_equals_rebuild(self, spark, tmp_path):
        from redcap_omop_etl_spark.operators.dedup import (
            minhash_band_table,
            minhash_star_edges,
        )
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import (
            CLUSTER_OP,
            StateCatalog,
            cluster_state_bootstrap,
        )
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            stream_to_delete_ticks,
        )

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        docs = spark.createDataFrame(
            [
                (1, fam_a), (2, fam_a), (3, fam_a),
                (10, fam_b), (11, fam_b),
                (20, "a lone unrelated document with its very own words here"),
                (30, fam_a + " " + fam_b),  # possible bridge
            ],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "cstate"))
        fp, _v1 = cluster_state_bootstrap(cat, docs)
        # batch 0 deletes a family member (label may move); batch 1
        # deletes the bridge (a merged component may SPLIT); batch 2
        # deletes the singleton (touches nothing)
        batches = [[1], [30], [20]]
        stream = self._id_stream(spark, tmp_path, batches)
        q = stream_to_delete_ticks(
            stream,
            [catalog_delete_applier(cat, CLUSTER_OP, fp, docs)],
            str(tmp_path / "dck"),
        )
        q.awaitTermination(180)

        survivors = docs.join(
            spark.createDataFrame([(x,) for b in batches for x in b], "doc_id long"),
            "doc_id",
            "left_anti",
        )
        state = cat.load(spark, CLUSTER_OP, fp)
        got_comp = {
            (r["node"], r["component"]) for r in state["components"].collect()
        }
        want_comp = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(survivors)).collect()
        }
        assert got_comp == want_comp
        got_hubs = {
            (r["band"], r["bucket"], r["hub"]) for r in state["hubs"].collect()
        }
        want_hubs = {
            (r["band"], r["bucket"], r["hub"])
            for r in minhash_band_table(survivors)
            .groupBy("band", "bucket")
            .agg(F.min("doc").alias("hub"))
            .collect()
        }
        assert got_hubs == want_hubs

    def test_term_stats_multibatch_equals_rebuild(self, spark, tmp_path):
        from redcap_omop_etl_spark.state import (
            TERM_OP,
            StateCatalog,
            term_stats_bootstrap,
        )
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            stream_to_delete_ticks,
        )

        docs = Catalog(spark, SF_SMOKE)["documents"]
        cat = StateCatalog(str(tmp_path / "tstate"))
        fp, _v1 = term_stats_bootstrap(cat, docs)
        batches = [[i for i in range(0, 60, 7)], [i for i in range(60, 120, 11)]]
        stream = self._id_stream(spark, tmp_path, batches)
        q = stream_to_delete_ticks(
            stream,
            [catalog_delete_applier(cat, TERM_OP, fp, docs)],
            str(tmp_path / "tck"),
        )
        q.awaitTermination(180)

        survivors = docs.join(
            spark.createDataFrame([(x,) for b in batches for x in b], "doc_id long"),
            "doc_id",
            "left_anti",
        )
        assert _terms(cat.load(spark, TERM_OP, fp)) == term_stats_rebuild(survivors)

    def test_semdedup_multibatch_equals_oneshot(self, spark, tmp_path):
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            semdedup_anchors_memo,
            semdedup_flags_memo,
        )
        from redcap_omop_etl_spark.state import (
            SEMDEDUP_OP,
            StateCatalog,
            semdedup_bootstrap,
        )
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            stream_to_delete_ticks,
        )

        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        flags = semdedup_flags_memo(spark, SF_SMOKE)
        anchors = semdedup_anchors_memo(spark, SF_SMOKE)
        _a, centroids = ivf_build(emb, n_clusters=16, n_iters=2, memo_key=SF_SMOKE)
        cat = StateCatalog(str(tmp_path / "sstate"))
        semdedup_bootstrap(cat, flags, anchors, centroids, "stream")
        semdedup_bootstrap(cat, flags, anchors, centroids, "oneshot")
        # batches deliberately include anchors (most low-id vecs are) so
        # the anchor-promotion path runs across batch boundaries
        batches = [[2, 32, 62], [92, 122]]
        stream = self._id_stream(spark, tmp_path, batches, col="vec_id")
        applier = catalog_delete_applier(cat, SEMDEDUP_OP, "stream", emb)
        q = stream_to_delete_ticks(stream, [applier], str(tmp_path / "sck"))
        q.awaitTermination(180)

        # one-shot: the same applier with the union batch in ONE tick
        # (single-tick ≡ rebuild is pinned by the registered oracle)
        union = spark.createDataFrame(
            [(x,) for b in batches for x in b], "vec_id long"
        )
        catalog_delete_applier(cat, SEMDEDUP_OP, "oneshot", emb)(spark, union)

        def snap(fp):
            return {
                (r["vec_id"], r["cluster"], r["n_dup_anchors"], r["is_kept"])
                for r in cat.load(spark, SEMDEDUP_OP, fp)["flags"].collect()
            }

        got, want = snap("stream"), snap("oneshot")
        # multi-batch == one-shot requires tick COMPOSABILITY: batch 2's
        # touched-set derives from batch 1's already-updated anchors
        assert got == want
        deleted = {x for b in batches for x in b}
        assert not ({r[0] for r in got} & deleted)
        got_anchor_cells, want_anchor_cells = (
            {r["cluster"] for r in cat.load(spark, SEMDEDUP_OP, fp)["anchors"].collect()}
            for fp in ("stream", "oneshot")
        )
        assert got_anchor_cells == want_anchor_cells

    def test_one_stream_four_indexes(self, spark, tmp_path):
        """The full GDPR shape: ONE takedown id stream fans out to all
        four index families in each micro-batch — cluster state, term
        stats, SemDeDup flags, and the persisted IVF-PQ ANN index."""
        from redcap_omop_etl_spark.operators.similarity import (
            ivf_build,
            ivfpq_write_index,
            semdedup_anchors_memo,
            semdedup_flags_memo,
        )
        from redcap_omop_etl_spark.state import (
            CLUSTER_OP,
            SEMDEDUP_OP,
            TERM_OP,
            StateCatalog,
            cluster_state_bootstrap,
            semdedup_bootstrap,
            term_stats_bootstrap,
        )
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            ivfpq_delete_applier,
            stream_to_delete_ticks,
        )

        docs = Catalog(spark, SF_SMOKE)["documents"]
        emb = Catalog(spark, SF_SMOKE)["embeddings"]
        cat = StateCatalog(str(tmp_path / "state"))
        ipath = str(tmp_path / "ivfpq")
        cfp, _v = cluster_state_bootstrap(cat, docs)
        tfp, _v = term_stats_bootstrap(cat, docs)
        semdedup_bootstrap(
            cat,
            semdedup_flags_memo(spark, SF_SMOKE),
            semdedup_anchors_memo(spark, SF_SMOKE),
            ivf_build(emb, n_clusters=16, n_iters=2, memo_key=SF_SMOKE)[1],
            "embeddings",
        )
        assignments, centroids = ivf_build(emb, n_clusters=8, n_iters=2)
        ivfpq_write_index(emb, assignments, centroids, ipath)

        # ids valid in BOTH key spaces (doc_id and vec_id) so one
        # request stream serves every index, as a real opt-out would
        batches = [[3, 17], [42]]
        stream = self._id_stream(spark, tmp_path, batches)
        q = stream_to_delete_ticks(
            stream,
            [
                catalog_delete_applier(cat, CLUSTER_OP, cfp, docs),
                catalog_delete_applier(cat, TERM_OP, tfp, docs),
                catalog_delete_applier(cat, SEMDEDUP_OP, "embeddings", emb),
                ivfpq_delete_applier(ipath),
            ],
            str(tmp_path / "gdprck"),
        )
        q.awaitTermination(300)

        gone = {x for b in batches for x in b}
        comp_nodes = {
            r["node"] for r in cat.load(spark, CLUSTER_OP, cfp)["components"].collect()
        }
        assert not (comp_nodes & gone)
        flags_ids = {
            r["vec_id"]
            for r in cat.load(spark, SEMDEDUP_OP, "embeddings")["flags"].collect()
        }
        assert not (flags_ids & gone)
        idx_ids = {
            r["vec_id"] for r in spark.read.parquet(ipath + "/codes").collect()
        }
        assert not (idx_ids & gone)
        assert (
            spark.read.parquet(ipath + "/codes")
            .select("vec_id")
            .distinct()
            .count()
            == emb.count() - len(gone)
        )
        # term stats equal the survivor rebuild
        survivors = docs.filter(~F.col("doc_id").isin(list(gone)))
        assert _terms(cat.load(spark, TERM_OP, tfp)) == term_stats_rebuild(survivors)

    def test_catalog_appliers_are_exactly_once(self, spark, tmp_path):
        """Crash replay: the applier records the epoch in the committed
        manifest, so a replayed micro-batch no-ops — pinned hardest for
        term stats, where double subtraction is silently wrong rather
        than merely wasteful."""
        from redcap_omop_etl_spark.state import (
            StateCatalog,
            term_stats_bootstrap,
        )
        from redcap_omop_etl_spark.streaming.retraction import catalog_delete_applier

        docs = Catalog(spark, SF_SMOKE)["documents"].select("doc_id", "text")
        cat = StateCatalog(str(tmp_path / "state"))
        fp, v1 = term_stats_bootstrap(cat, docs)
        ap = catalog_delete_applier(cat, "term_stats", fp, docs)
        dele = spark.createDataFrame([(i,) for i in range(0, 30, 4)], "doc_id long")

        ap(spark, dele, epoch=7)
        assert cat.latest_version(spark, "term_stats", fp) == 2
        snap = _terms(cat.load(spark, "term_stats", fp))
        # crash-replay of the SAME epoch: no new version, state unchanged
        ap(spark, dele, epoch=7)
        assert cat.latest_version(spark, "term_stats", fp) == 2
        assert snap == _terms(cat.load(spark, "term_stats", fp))
        # a LATER epoch applies (and equals the two-batch rebuild)
        dele2 = spark.createDataFrame([(i,) for i in range(1, 30, 9)], "doc_id long")
        ap(spark, dele2, epoch=8)
        assert cat.latest_version(spark, "term_stats", fp) == 3
        gone = dele.unionByName(dele2)
        survivors = docs.join(gone, "doc_id", "left_anti")
        assert _terms(cat.load(spark, "term_stats", fp)) == term_stats_rebuild(survivors)

    def test_catalog_cluster_applier_through_stream(self, spark, tmp_path):
        """The bridge drives a catalog-backed applier end-to-end:
        multi-batch takedown stream over versioned state ≡ rebuild,
        with one committed version per applied micro-batch."""
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import StateCatalog, cluster_state_bootstrap
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            stream_to_delete_ticks,
        )

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        docs = spark.createDataFrame(
            [(1, fam_a), (2, fam_a), (3, fam_a), (10, fam_b), (11, fam_b)],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "cstate"))
        fp, _v1 = cluster_state_bootstrap(cat, docs)
        batches = [[2], [10]]
        stream = self._id_stream(spark, tmp_path, batches)
        q = stream_to_delete_ticks(
            stream,
            [catalog_delete_applier(cat, "minhash_clusters", fp, docs)],
            str(tmp_path / "cck"),
        )
        q.awaitTermination(180)

        assert cat.latest_version(spark, "minhash_clusters", fp) == 3
        survivors = docs.filter(~F.col("doc_id").isin([2, 10]))
        got = {
            (r["node"], r["component"])
            for r in cat.load(spark, "minhash_clusters", fp)["components"].collect()
        }
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(survivors)).collect()
        }
        assert got == want

    def test_catalog_ingest_then_delete_share_state(self, spark, tmp_path):
        """The catalog closes the ingest/retraction split: an append
        STREAM builds versioned state batch by batch (bootstrap + merge
        ticks, one committed version per epoch), then a takedown stream
        drives the delete applier against the SAME (op, fingerprint) —
        final state equals the rebuild over everything ingested minus
        everything taken down."""
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import StateCatalog, prune_versions
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_delete_applier,
            stream_to_cluster_index,
            stream_to_delete_ticks,
        )

        fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        fam_b = "one two three four five six seven eight nine ten eleven"
        batches = [
            [(1, fam_a), (2, fam_a), (10, fam_b)],
            [(11, fam_b), (30, fam_a)],
        ]
        src = tmp_path / "ingest"
        src.mkdir()
        import glob as _glob
        import shutil

        for i, rows in enumerate(batches):
            stage = tmp_path / f"ingstage{i}"
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.parquet(str(stage))
            shutil.copy(
                _glob.glob(str(stage / "part-*.parquet"))[0],
                str(src / f"batch{i:03d}.parquet"),
            )
        ingest = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        cat = StateCatalog(str(tmp_path / "vstate"))
        fp = "stream-corpus"
        q = stream_to_cluster_index(
            ingest, cat, fp, str(tmp_path / "ick")
        )
        q.awaitTermination(180)
        assert cat.latest_version(spark, "minhash_clusters", fp) == 2

        all_docs = spark.createDataFrame(
            [r for b in batches for r in b], "doc_id long, text string"
        )
        dstream = self._id_stream(spark, tmp_path, [[2]])
        q2 = stream_to_delete_ticks(
            dstream,
            [catalog_delete_applier(cat, "minhash_clusters", fp, all_docs)],
            str(tmp_path / "dck2"),
        )
        q2.awaitTermination(180)
        assert cat.latest_version(spark, "minhash_clusters", fp) == 3

        live = all_docs.filter(F.col("doc_id") != 2)
        got = {
            (r["node"], r["component"])
            for r in cat.load(spark, "minhash_clusters", fp)["components"].collect()
        }
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(live)).collect()
        }
        assert got == want
        # retention sweep: keep the newest 2 committed versions
        removed = prune_versions(cat, spark, "minhash_clusters", fp, keep_last=2)
        assert removed == [1]
        assert cat.versions(spark, "minhash_clusters", fp) == [2, 3]
        # the survivor versions still load
        assert cat.load(spark, "minhash_clusters", fp, version=2)[
            "components"
        ].count() >= 1

    def test_epoch_ledger_is_per_stream(self, spark, tmp_path):
        """Round-12 fix: the ingest and takedown bridges share one
        (op, fp) state but number foreachBatch epochs independently
        from 0 per checkpoint — a ONE-batch ingest (epoch 0) followed
        by the first delete batch (also epoch 0) must still apply the
        delete. The old scalar-epoch compare silently skipped it."""
        from redcap_omop_etl_spark.operators.dedup import minhash_star_edges
        from redcap_omop_etl_spark.operators.graph import connected_components
        from redcap_omop_etl_spark.state import StateCatalog
        from redcap_omop_etl_spark.streaming.retraction import (
            catalog_cluster_append_applier,
            catalog_delete_applier,
        )

        fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(1, fam), (2, fam), (3, fam)], "doc_id long, text string"
        )
        cat = StateCatalog(str(tmp_path / "estate"))
        fp = "collide-corpus"
        # ingest stream's first (and only) micro-batch: epoch 0
        catalog_cluster_append_applier(cat, fp)(spark, docs, epoch=0)
        assert cat.latest_version(spark, "minhash_clusters", fp) == 1
        # takedown stream's first micro-batch: ALSO epoch 0 (independent
        # checkpoint) — must apply, not no-op
        dele = spark.createDataFrame([(2,)], "doc_id long")
        catalog_delete_applier(cat, "minhash_clusters", fp, docs)(spark, dele, epoch=0)
        assert cat.latest_version(spark, "minhash_clusters", fp) == 2
        survivors = docs.filter(F.col("doc_id") != 2)
        got = {
            (r["node"], r["component"])
            for r in cat.load(spark, "minhash_clusters", fp)["components"].collect()
        }
        want = {
            (r["node"], r["component"])
            for r in connected_components(minhash_star_edges(survivors)).collect()
        }
        assert got == want
        # and the delete stream's OWN replay of epoch 0 still no-ops
        catalog_delete_applier(cat, "minhash_clusters", fp, docs)(spark, dele, epoch=0)
        assert cat.latest_version(spark, "minhash_clusters", fp) == 2

    def test_unresolved_takedown_ids_can_retry(self, spark, tmp_path):
        """Round-12 fix: a takedown id with no corpus row subtracts
        nothing and must NOT enter the cumulative deleted set — a later
        retry (corpus now has the doc) has to actually apply."""
        from redcap_omop_etl_spark.state import StateCatalog, term_stats_bootstrap
        from redcap_omop_etl_spark.streaming.retraction import catalog_delete_applier

        full = spark.createDataFrame(
            [(1, "aa bb cc"), (2, "bb cc dd"), (3, "cc dd ee")],
            "doc_id long, text string",
        )
        cat = StateCatalog(str(tmp_path / "tstate"))
        fp, _v1 = term_stats_bootstrap(cat, full)
        # first attempt resolves against a PARTIAL corpus view missing doc 3
        partial = full.filter(F.col("doc_id") != 3)
        dele = spark.createDataFrame([(3,)], "doc_id long")
        catalog_delete_applier(cat, "term_stats", fp, partial)(spark, dele, epoch=0)
        unresolved = {
            r["doc_id"]
            for r in cat.load(spark, "term_stats", fp)["deleted"].collect()
        }
        assert 3 not in unresolved  # unmatched id stays retryable
        # retry with the full corpus available: the subtraction applies
        catalog_delete_applier(cat, "term_stats", fp, full)(spark, dele, epoch=1)
        survivors = full.filter(F.col("doc_id") != 3)
        assert _terms(cat.load(spark, "term_stats", fp)) == term_stats_rebuild(survivors)
        assert {
            r["doc_id"]
            for r in cat.load(spark, "term_stats", fp)["deleted"].collect()
        } == {3}

    def test_applier_reads_epoch_ledger_once(self, spark, tmp_path, monkeypatch):
        """One ledger read per applier call: the latest manifest is opened
        once for both the replay check and the next meta, and the tick
        is handed that version to build on. The tick is stubbed, so its
        own ``catalog.load`` read is not counted."""
        from redcap_omop_etl_spark import state
        from redcap_omop_etl_spark.state import StateCatalog
        from redcap_omop_etl_spark.streaming.retraction import catalog_delete_applier

        cat = StateCatalog(str(tmp_path / "lstate"))
        cat.save(spark, "toy", "fp", {"a": spark.range(3)}, meta={"applied_epochs": {"delete": 4}})
        metas, reads = [], []
        monkeypatch.setitem(
            state.TICKS,
            "toy",
            lambda catalog, fp, store, delete_ids, meta, base_version: metas.append(
                (meta, base_version)
            ),
        )
        real_manifest = StateCatalog.manifest

        def counting_manifest(self, *a, **kw):
            reads.append(a)
            return real_manifest(self, *a, **kw)

        monkeypatch.setattr(StateCatalog, "manifest", counting_manifest)
        ap = catalog_delete_applier(cat, "toy", "fp", spark.range(3))
        ap(spark, spark.range(1), epoch=5)
        assert len(reads) == 1
        assert metas == [({"epoch": 5, "stream_id": "delete", "applied_epochs": {"delete": 5}}, 1)]
        ap(spark, spark.range(1), epoch=4)  # already applied: no tick
        assert len(reads) == 2 and len(metas) == 1
