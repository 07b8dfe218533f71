"""Tests for the chunked sinks, JSON-lines sink, debug pivot sink, and the
chunk-partitioned REST-style Python data source."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.sinks import chunked
from redcap_omop_etl_spark.sources import rest_source


@pytest.fixture()
def small_df(spark):
    return spark.range(0, 250).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))


class TestGlobalIndex:
    def test_index_is_dense_and_ordered(self, spark, small_df):
        out = chunked.with_global_index(small_df, ["k"]).orderBy("k").collect()
        assert [r["__idx"] for r in out] == list(range(250))
        assert [r["k"] for r in out] == list(range(250))

    def test_no_single_partition_bottleneck(self, spark, small_df):
        # the plan must not contain a global Window over one partition:
        # repartitionByRange keeps parallelism
        plan = chunked.with_global_index(small_df, ["k"])._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan.split("Exchange rangepartitioning")[0]


class TestChunkEnvelopes:
    def test_chunking_and_metadata_on_first_chunk_only(self, spark, small_df):
        env = chunked.chunk_envelopes(
            small_df,
            ["k"],
            chunk_size=100,
            project_info={"redcap_project_id": "77"},
            metadata_json='[{"field_name": "k"}]',
            run_datetime="2026-01-01T00:00:00",
        ).orderBy("chunk_number")
        rows = env.collect()
        assert [r.chunk_number for r in rows] == [1, 2, 3]
        assert [r.n_records for r in rows] == [100, 100, 50]
        payloads = [json.loads(r.envelope) for r in rows]
        assert payloads[0]["redcap_project_id"] == "77"
        assert "redcap_metadata_filtered" in payloads[0]
        assert "redcap_metadata_filtered" not in payloads[1]
        assert len(payloads[0]["redcap_records"]) == 100
        assert payloads[0]["redcap_records"][0] == {"k": 0, "v": 0}
        assert payloads[2]["redcap_records"][-1] == {"k": 249, "v": 498}

    def test_foreach_chunk_post_transport(self, spark, small_df, tmp_path):
        env = chunked.chunk_envelopes(small_df, ["k"], chunk_size=100)
        out_dir = str(tmp_path)

        def transport(envelope: str) -> None:
            n = json.loads(envelope)["chunk_number"]
            with open(os.path.join(out_dir, f"chunk_{n}.json"), "w") as fh:
                fh.write(envelope)

        chunked.foreach_chunk_post(env, transport)
        files = sorted(glob.glob(os.path.join(out_dir, "chunk_*.json")))
        assert len(files) == 3

    def test_write_jsonl_errorifexists(self, spark, small_df, tmp_path):
        path = str(tmp_path / "out")
        chunked.write_jsonl(small_df.limit(5), path)
        with pytest.raises(Exception):
            chunked.write_jsonl(small_df.limit(5), path)  # mode "x" semantics

    def test_debug_pub_pivot_csv(self, spark, tmp_path):
        tr = spark.createDataFrame(
            [("R1", "np_gender", "1"), ("R1", "age", "44"), ("R2", "np_gender", "2")],
            "record_id string, field_name string, field_value string",
        )
        path = str(tmp_path / "pub")
        chunked.debug_pub(tr, ["np_gender", "age"], path)
        csv = sorted(glob.glob(path + "/*.csv"))
        body = open(csv[0]).read()
        assert "record_id,np_gender,age" in body.splitlines()[0]


class TestRestSource:
    def test_register_and_read_chunked(self, spark):
        rest_source.register(spark)
        ids = ",".join(f"R{i}" for i in range(25))
        df = (
            spark.read.format("rest_eav")
            .option("ids", ids)
            .option("chunk_size", 10)
            .load()
        )
        assert df.columns == [f.name for f in rest_source.EAV_SCHEMA.fields]
        # 25 ids × 2 events × 4 fields
        assert df.count() == 25 * 2 * 4
        # one input partition per 10-ID chunk (S4)
        assert df.rdd.getNumPartitions() == 3

    def test_register_into_inactive_session(self, spark):
        """Registering into a session that is not the active one (a
        ``newSession()``) lands there and leaves the active one active."""
        rest_source.register(spark)
        other = spark.newSession()
        rest_source.register(other)
        jsession = SparkSession._get_j_spark_session_class(spark._jvm)
        assert jsession.getActiveSession().get().equals(spark._jsparkSession)
        rows = other.read.format("rest_eav").option("ids", "R1").load().limit(1).collect()
        assert len(rows) == 1 and rows[0].record_id == "R1"

    def test_projection_and_event_pushdown(self, spark):
        rest_source.register(spark)
        df = (
            spark.read.format("rest_eav")
            .option("ids", "R1,R2")
            .option("fields", "np_gender")
            .option("events", "screening_arm_1")
            .load()
        )
        rows = df.collect()
        assert {r.field_name for r in rows} == {"np_gender"}
        assert {r.redcap_event_name for r in rows} == {"screening_arm_1"}
        assert len(rows) == 2

    def test_deterministic(self, spark):
        rest_source.register(spark)
        opts = {"ids": "R1,R2,R3", "chunk_size": 2}
        a = sorted(map(tuple, spark.read.format("rest_eav").options(**opts).load().collect()))
        b = sorted(map(tuple, spark.read.format("rest_eav").options(**opts).load().collect()))
        assert a == b

    def test_http_transport_against_loopback_fixture(self, spark):
        # The real requests-backed transport, proven against a local
        # fixture server speaking the REDCap wire protocol — one POST per
        # ID chunk, records[i]/fields[i]/events[i] form params, CSV EAV
        # body. Loopback only; no network egress.
        import threading
        from http.server import BaseHTTPRequestHandler, HTTPServer
        from urllib.parse import parse_qs

        posts: list[dict] = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"])).decode()
                form = {k: v for k, v in parse_qs(body).items()}
                posts.append(form)
                ids = [v[0] for k, v in sorted(form.items()) if k.startswith("records[")]
                fields = [v[0] for k, v in sorted(form.items()) if k.startswith("fields[")] or ["f1"]
                lines = [
                    "record,redcap_event_name,redcap_repeat_instrument,"
                    "redcap_repeat_instance,field_name,value"
                ]
                lines += [f"{rid},ev1,,,{f},{rid}_{f}" for rid in ids for f in fields]
                payload = "\n".join(lines).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # keep pytest output clean
                pass

        srv = HTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            rest_source.register(spark)
            df = (
                spark.read.format("rest_eav")
                .option("url", f"http://127.0.0.1:{srv.server_port}/api/")
                .option("token", "T0K3N")
                .option("ids", "R1,R2,R3")
                .option("chunk_size", 2)
                .option("fields", "np_gender")
                .load()
            )
            rows = df.collect()
        finally:
            srv.shutdown()
            srv.server_close()
        # 3 ids × 1 field, across 2 chunk-partitions → 2 POSTs
        assert sorted((r.record_id, r.field_name, r.value) for r in rows) == [
            ("R1", "np_gender", "R1_np_gender"),
            ("R2", "np_gender", "R2_np_gender"),
            ("R3", "np_gender", "R3_np_gender"),
        ]
        assert len(posts) == 2
        for form in posts:
            assert form["token"] == ["T0K3N"]
            assert form["content"] == ["record"]
            assert form["type"] == ["eav"]
            assert form["fields[0]"] == ["np_gender"]

    def test_streaming_cursor_reads_all_batches(self, spark, tmp_path):
        # the incremental-extract stream: offset cursor walks the ID space
        # in ids_per_batch steps; all 25 synthetic records arrive across
        # micro-batches, exactly once (offset ranges never overlap)
        import time

        rest_source.register(spark)
        stream = (
            spark.readStream.format("rest_eav")
            .option("total_ids", 25)
            .option("ids_per_batch", 10)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("t_eav_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            expected = 25 * 2 * 4  # ids x events x fields
            deadline = time.time() + 120
            n = 0
            while time.time() < deadline:
                n = spark.sql("SELECT count(*) AS n FROM t_eav_stream").head()["n"]
                if n >= expected:
                    break
                time.sleep(1)
            assert n == expected, n
            ids = spark.sql("SELECT count(DISTINCT record_id) AS i FROM t_eav_stream").head()["i"]
            assert ids == 25
        finally:
            q.stop()


class TestRestSourceWriter:
    def test_write_chunked_envelopes_with_manifest(self, spark, tmp_path):
        import json
        import glob

        from redcap_omop_etl_spark.sources import rest_source

        rest_source.register(spark)
        ids = ",".join(f"R{i}" for i in range(25))
        df = spark.read.format("rest_eav").option("ids", ids).option("chunk_size", 10).load()
        n_in = df.count()

        out = str(tmp_path / "lake")
        (df.write.format("rest_eav").mode("append").option("path", out).option("chunk_size", 7).save())

        manifest = json.loads(open(out + "/_MANIFEST.json").read())
        assert manifest["total_rows"] == n_in
        files = glob.glob(out + "/part-*.jsonl")
        assert len(files) == manifest["partitions"]
        rows = chunks = 0
        for f in files:
            for line in open(f):
                env = json.loads(line)
                chunks += 1
                rows += env["n_records"]
                assert env["n_records"] <= 7
                assert set(env["redcap_records"][0]) == {
                    "record_id", "redcap_event_name", "redcap_repeat_instrument",
                    "redcap_repeat_instance", "field_name", "value",
                }
        assert rows == n_in and chunks == manifest["total_chunks"]
