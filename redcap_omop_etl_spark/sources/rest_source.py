"""Chunk-partitioned REST-style EAV source (Spark 4 Python Data Source API).

Re-expresses the reference's extract stage as a *parallel* custom source:

- S2 (``redcap-etl.py:71-135``): EAV record scan — CSV body → rows with
  ``record`` → ``record_id`` rename.
- S3 (``redcap-etl.py:137-161``): server-side ``filterLogic`` predicate +
  ``fields``/``events`` projection — pushdown implemented as reader
  options applied inside the transport call, before bytes move.
- S4 (``redcap-etl.py:99-128``): the 100-ID chunking loop →
  ``InputPartition`` per chunk, so what the reference did serially becomes
  cluster-parallel fan-out; the union is implicit.

Two transports behind one seam: the default is a deterministic synthetic
generator (no network egress in this environment), and setting the
``url``/``token`` reader options switches to ``http_transport`` — a real
``requests`` POST speaking the reference's REDCap wire protocol, tested
against a loopback fixture server (``tests/test_sinks_sources.py::
TestRestSource::test_http_transport_against_loopback_fixture``) so the
seam is proven honest without live network. Partition planning, schema
contract, and pushdown plumbing are shared by both.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql import types as T

EAV_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType()),
        T.StructField("redcap_event_name", T.StringType()),
        T.StructField("redcap_repeat_instrument", T.StringType()),
        T.StructField("redcap_repeat_instance", T.StringType()),
        T.StructField("field_name", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

DEFAULT_CHUNK_SIZE = 100  # redcap-etl.py:104


@dataclass
class IdChunkPartition(InputPartition):
    ids: list[str]


def synthetic_transport(ids: list[str], fields: list[str] | None, events: list[str] | None) -> Iterator[tuple]:
    """Deterministic stand-in for the REDCap POST: emits a few EAV rows per
    requested ID, honoring the projection/partition-filter pushdown the
    way the server would (fields/events filtering server-side)."""
    all_fields = ["np_dob", "np_gender", "visit_date", "consent_complete"]
    all_events = ["screening_arm_1", "enrollment_arm_1"]
    use_fields = [f for f in all_fields if fields is None or f in fields]
    use_events = [e for e in all_events if events is None or e in events]
    for rid in ids:
        seed = sum(ord(c) for c in rid)
        for ev in use_events:
            for f in use_fields:
                value = {
                    "np_dob": f"19{50 + seed % 50:02d}-01-15",
                    "np_gender": str(seed % 2 + 1),
                    "visit_date": f"2020-0{seed % 9 + 1}-10",
                    "consent_complete": "2",
                }[f]
                yield (rid, ev, "", "", f, value)


def http_transport(
    url: str,
    token: str,
    ids: list[str],
    fields: list[str] | None,
    events: list[str] | None,
    timeout: float = 30.0,
) -> Iterator[tuple]:
    """Real REDCap-protocol transport (reference ``redcap-etl.py:77-114``):
    one form-encoded POST per ID chunk with ``content=record`` /
    ``format=csv`` / ``type=eav``, ``records[i]`` per chunk ID, and
    ``fields[i]``/``events[i]`` as the server-side projection pushdown;
    the CSV body parses to EAV tuples with the reference's
    ``record`` → ``record_id`` rename (``redcap-etl.py:126-127``).

    Import-gated on ``requests``; runs inside the executor task so each
    ``InputPartition`` (ID chunk) is an independent, retryable HTTP call —
    the reference's serial chunk loop becomes cluster-parallel fan-out.
    """
    import csv
    import io

    import requests

    data: dict[str, str] = {
        "token": token,
        "content": "record",
        "format": "csv",
        "type": "eav",
        "rawOrLabel": "raw",
        "rawOrLabelHeaders": "raw",
        "exportCheckboxLabel": "true",
        "exportSurveyFields": "false",
        "exportDataAccessGroups": "false",
        "returnFormat": "json",
    }
    for i, rid in enumerate(ids):
        data[f"records[{i}]"] = rid
    for i, f in enumerate(fields or []):
        data[f"fields[{i}]"] = f
    for i, e in enumerate(events or []):
        data[f"events[{i}]"] = e
    resp = requests.post(url, data=data, timeout=timeout)
    resp.raise_for_status()
    # requests falls back to ISO-8859-1 for text/* when the server omits
    # the charset parameter; REDCap exports are UTF-8 — honor an explicit
    # charset, default the silent fallback to UTF-8 (else "müller" mojibakes).
    if "charset" not in resp.headers.get("content-type", "").lower():
        resp.encoding = "utf-8"
    for rec in csv.DictReader(io.StringIO(resp.text)):
        yield (
            rec.get("record", ""),
            rec.get("redcap_event_name", ""),
            rec.get("redcap_repeat_instrument", ""),
            rec.get("redcap_repeat_instance", ""),
            rec.get("field_name", ""),
            rec.get("value", ""),
        )


class RestEavReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.ids = [s for s in options.get("ids", "").split(",") if s]
        self.chunk_size = int(options.get("chunk_size", DEFAULT_CHUNK_SIZE))
        fields = options.get("fields")
        self.fields = fields.split(",") if fields else None
        events = options.get("events")
        self.events = events.split(",") if events else None
        # url set → live HTTP transport; absent → deterministic synthetic
        self.url = options.get("url")
        self.token = options.get("token", "")

    def partitions(self) -> list[InputPartition]:
        # one partition per ID chunk (redcap-etl.py:99-111) → parallel fetch
        return [
            IdChunkPartition(ids=self.ids[i : i + self.chunk_size])
            for i in range(0, len(self.ids), self.chunk_size)
        ] or [IdChunkPartition(ids=[])]

    def read(self, partition: IdChunkPartition) -> Iterator[tuple]:
        if self.url:
            yield from http_transport(self.url, self.token, partition.ids, self.fields, self.events)
        else:
            yield from synthetic_transport(partition.ids, self.fields, self.events)


class RestEavStreamReader(SimpleDataSourceStreamReader):
    """Incremental extract as a Structured Streaming source.

    The reference's chunked fetch loop (``redcap-etl.py:99-128``) runs
    once and exits; here the same chunk cursor becomes a streaming
    *offset* (``{"next_id": N}``), so each micro-batch fetches the next
    ``ids_per_batch`` record IDs through the same transport, checkpoint
    recovery replays exactly the offset range that was in flight
    (``readBetweenOffsets``), and every downstream streaming operator
    (windows, dedup, foreachBatch sinks) composes with it. ``total_ids``
    bounds the synthetic corpus; a real deployment's transport would
    page until the server cursor is exhausted.
    """

    def __init__(self, options: dict):
        self.ids_per_batch = int(options.get("ids_per_batch", 10))
        self.total_ids = int(options.get("total_ids", 50))
        fields = options.get("fields")
        self.fields = fields.split(",") if fields else None
        events = options.get("events")
        self.events = events.split(",") if events else None

    def initialOffset(self) -> dict:
        return {"next_id": 0}

    def _ids(self, start: int, end: int) -> list[str]:
        return [f"R{i:04d}" for i in range(start, end)]

    def read(self, start: dict):
        s = int(start["next_id"])
        e = min(s + self.ids_per_batch, self.total_ids)
        rows = list(synthetic_transport(self._ids(s, e), self.fields, self.events))
        return iter(rows), {"next_id": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        ids = self._ids(int(start["next_id"]), int(end["next_id"]))
        return iter(synthetic_transport(ids, self.fields, self.events))


class RestEavDataSource(DataSource):
    """``spark.read.format("rest_eav").option("ids", "R1,R2,...")`` for
    batch; ``spark.readStream.format("rest_eav")`` for the incremental
    cursor stream."""

    @classmethod
    def name(cls) -> str:
        return "rest_eav"

    def schema(self) -> T.StructType:
        return EAV_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return RestEavReader(schema, self.options)

    def simpleStreamReader(self, schema: T.StructType) -> RestEavStreamReader:
        return RestEavStreamReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> "RestEavWriter":
        return RestEavWriter(schema, self.options)


def register(spark) -> None:
    """Register the source on the session, once: a session that already
    has ``rest_eav`` keeps it (re-registering pickles the class again and
    makes Spark log a "replaced a previously registered data source"
    warning on every run).

    The DataSource class is cloudpickled into separate Python worker
    processes that may not have this package on their import path (e.g. a
    driver running from another cwd) — register this module for
    pickle-by-value so the class travels with the plan instead of by
    module reference.

    Spark checks the name against the ACTIVE session rather than the one
    the call goes through, so a session that is not active (e.g. from
    ``newSession()``) is made active for the call and the previous active
    session is restored after it.
    """
    import sys

    from pyspark import cloudpickle
    from pyspark.sql import SparkSession

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if manager.dataSourceExists(RestEavDataSource.name()):
        return
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    prev = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(RestEavDataSource)
    finally:
        if prev.isDefined():
            jsession.setActiveSession(prev.get())
        else:
            jsession.clearActiveSession()


@dataclass
class ChunkCommitMessage(WriterCommitMessage):
    partition_id: int
    n_rows: int
    n_chunks: int


class RestEavWriter(DataSourceWriter):
    """S9 as a first-class writer: ``df.write.format("rest_eav")``.

    Each task serializes its partition into chunk envelopes of
    ``chunk_size`` rows (``redcap-etl.py:225-248``) and ships them
    through the transport — here a JSON-lines file per partition under
    ``path``, standing in for the data-lake POST. Commit is two-phase:
    tasks return per-partition counts as commit messages; the driver's
    ``commit`` writes a ``_MANIFEST.json`` with the global totals only
    after every task succeeded, so a half-failed job is detectable by
    manifest absence (the file analog of transactional POST batching).
    """

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("rest_eav writer requires a path")
        self.chunk_size = int(options.get("chunk_size", 50_000))  # redcap-etl.py:225
        self.columns = [f.name for f in schema.fields]

    def write(self, iterator) -> ChunkCommitMessage:
        import json
        import os

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{pid:05d}.jsonl")
        n_rows = 0
        n_chunks = 0
        buf: list[dict] = []
        with open(out, "w") as fh:

            def flush():
                nonlocal n_chunks
                if buf:
                    n_chunks += 1
                    fh.write(
                        json.dumps(
                            {
                                "chunk_number": n_chunks,
                                "partition": pid,
                                "n_records": len(buf),
                                "redcap_records": buf,
                            }
                        )
                        + "\n"
                    )
                    buf.clear()

            for row in iterator:
                buf.append(dict(zip(self.columns, row)))
                n_rows += 1
                if len(buf) >= self.chunk_size:
                    flush()
            flush()
        return ChunkCommitMessage(partition_id=pid, n_rows=n_rows, n_chunks=n_chunks)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = {
            "partitions": len(messages),
            "total_rows": sum(m.n_rows for m in messages),
            "total_chunks": sum(m.n_chunks for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            fh.write(json.dumps(manifest))

    def abort(self, messages) -> None:  # pragma: no cover - failure path
        pass
