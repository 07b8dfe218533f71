"""CLI lifecycle parity (SURVEY §3.1): config -> extract -> transform ->
chunked transmit, with the -w dry-run sink (fail-if-exists) and -p debug
pivot."""

from __future__ import annotations

import glob
import json
import sys

import pytest
from pyspark import cloudpickle

from redcap_omop_etl_spark import caching, cli
from redcap_omop_etl_spark.sources import rest_source

INI = """
[default]
field_map_file =
log_dir =

[dcc_transforms]
datetransform_type = dob_shifting
standard_date = 2030-01-01 00:00:00

[redcap]
project_id = 4242
project_type = demo
include_metadata = true

[datalake]
api_endpoint = http://example.invalid
record_chunk_size = 50
"""


@pytest.fixture(scope="module")
def ini_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("cfg") / "config.ini"
    p.write_text(INI)
    return str(p)


class TestCliLifecycle:
    def test_fake_dry_run_writes_envelopes(self, spark, ini_path, tmp_path):
        out = str(tmp_path / "payloads")
        summary = cli.main(["-c", ini_path, "-f", "-w", out, "--run-datetime", "2026-01-01"], spark=spark)
        assert summary["kept_rows"] > 0
        assert summary["chunks"] >= 2  # 25 ids x kept fields / 50-row chunks

        lines = []
        for f in glob.glob(out + "/part-*"):
            with open(f) as fh:
                lines += [ln for ln in fh.read().splitlines() if ln]
        assert len(lines) == summary["chunks"]
        payloads = [json.loads(ln) for ln in lines]
        assert {p["chunk_number"] for p in payloads} == set(range(1, summary["chunks"] + 1))
        assert all(p["redcap_project_id"] == "4242" for p in payloads)
        assert all(p["extraction_run_datetime"] == "2026-01-01" for p in payloads)
        total = sum(len(p["redcap_records"]) for p in payloads)
        assert total == summary["kept_rows"]
        # date de-identification applied: every visit_date is shifted into
        # the standard-date era, no raw 2020 dates survive
        vals = [
            r["value"]
            for p in payloads
            for r in p["redcap_records"]
            if r["field_name"] == "visit_date"
        ]
        assert vals and all(v.startswith("20") and v >= "2029" for v in vals)

    def test_dry_run_sink_fails_if_exists(self, spark, ini_path, tmp_path):
        out = str(tmp_path / "payloads2")
        cli.main(["-c", ini_path, "-f", "-w", out], spark=spark)
        with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
            cli.main(["-c", ini_path, "-f", "-w", out], spark=spark)

    def test_summary_without_sinks(self, spark, ini_path):
        summary = cli.main(["-c", ini_path, "-f"], spark=spark)
        assert summary["kept_rows"] > 0
        assert "payload_path" not in summary


# Where the counting reader logs its reads. The reader runs in Python
# workers, which get this module by value (pickled with its globals), so
# the path must be set before the plan is built.
READ_LOG: str = ""


class _CountingReader(rest_source.RestEavReader):
    def read(self, partition):
        with open(READ_LOG, "a") as fh:
            fh.write(f"{len(partition.ids)} ids\n")
        yield from super().read(partition)


class _CountingSource(rest_source.RestEavDataSource):
    def reader(self, schema):
        return _CountingReader(schema, self.options)


def test_one_extract_scan_per_run(spark, ini_path, tmp_path, monkeypatch):
    """One CLI run reads each ID chunk of the REST source once (the
    reference extracts into one list, redcap-etl.py:99-128), however many
    summary counts and sinks read the result, and releases what it made."""
    global READ_LOG
    READ_LOG = str(tmp_path / "reads.log")
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    real_register = rest_source.register

    def register(session):
        real_register(session)  # the source module travels by value too
        session.dataSource.register(_CountingSource)

    monkeypatch.setattr(cli.rest_source, "register", register)
    ids = ",".join(f"R{i:04d}" for i in range(250))  # 3 chunks of 100 IDs
    try:
        summary = cli.main(
            ["-c", ini_path, "-f", "--ids", ids, "-w", str(tmp_path / "out")], spark=spark
        )
    finally:
        monkeypatch.undo()
        # register() keeps a session's existing rest_eav, so put the real
        # class back explicitly for later tests
        spark.dataSource.register(rest_source.RestEavDataSource)
    assert summary["kept_rows"] == 250 * 8
    with open(READ_LOG) as fh:
        assert len(fh.read().splitlines()) == 3
    assert caching._OPERATOR_OWNED == []



def test_source_registered_once_per_session(spark, ini_path, monkeypatch):
    """Two CLI runs on one session register the rest_eav source once:
    re-registering would pickle the class again and make Spark warn that
    it replaced a registered data source on every run. The session is
    not the active one, which registration must not depend on."""
    fresh = spark.newSession()  # shares the context, has no rest_eav yet
    calls = []
    real = type(spark.dataSource).register

    def spy(self, cls):
        calls.append(cls.name())
        return real(self, cls)

    monkeypatch.setattr(type(spark.dataSource), "register", spy)
    for _ in range(2):
        assert cli.main(["-c", ini_path, "-f"], spark=fresh)["kept_rows"] > 0
    assert calls == ["rest_eav"]
