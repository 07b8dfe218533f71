from __future__ import annotations

import pytest

from redcap_omop_etl_spark.config import ConfigError, EngineConfig, load_config

INI = """
[default]
base_dir = /data
field_map_file = ${base_dir}/fieldmap.csv
log_dir = ${base_dir}/logs

[dcc_transforms]
datetransform_type = date_shifting
standard_date = 2030-01-01 00:00:00
shifting_seconds = 86401
dob_shift_inplace = True
deid_data_file = ${default:base_dir}/deid.csv

[redcap]
project_id = 77
project_type = KPMP_MAIN
include_metadata = false

[datalake]
api_endpoint = https://example.invalid/ingest
record_chunk_size = 1000
"""


def test_parse_with_interpolation():
    cfg = load_config(INI, from_text=True)
    assert cfg.field_map_file == "/data/fieldmap.csv"  # ExtendedInterpolation
    assert cfg.deid_data_file == "/data/deid.csv"      # cross-section ref
    assert cfg.datetransform_type == "date_shifting"
    assert cfg.shifting_seconds == 86401
    assert cfg.include_metadata is False
    assert cfg.record_chunk_size == 1000


def test_defaults():
    cfg = load_config("[default]\n", from_text=True)
    assert cfg == EngineConfig()


def test_invalid_strategy_rejected():
    with pytest.raises(ConfigError, match="datetransform_type"):
        load_config("[dcc_transforms]\ndatetransform_type = bogus\n", from_text=True)


def test_date_shifting_requires_seconds():
    with pytest.raises(ConfigError, match="shifting_seconds"):
        load_config("[dcc_transforms]\ndatetransform_type = date_shifting\n", from_text=True)


def test_missing_file_raises():
    with pytest.raises(ConfigError, match="not found"):
        load_config("/nonexistent/path.ini")


def test_cluster_conf_profile():
    from redcap_omop_etl_spark.session import cluster_conf

    c = cluster_conf()
    assert c["spark.dynamicAllocation.enabled"] == "true"
    assert c["spark.speculation"] == "true"
    # 100 TB / 128 MB map splits ≈ 800k initial partitions for AQE
    assert int(c["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]) >= 500_000
    # every key is a plain string (spark-submit renderable)
    assert all(isinstance(k, str) and isinstance(v, str) for k, v in c.items())


def test_driver_memory_default_follows_usable_memory(monkeypatch):
    from redcap_omop_etl_spark import session

    gib = 2**30
    for usable, want in [(15 * gib, "7g"), (64 * gib, "24g"), (gib, "1g"), (None, "24g")]:
        monkeypatch.setattr(session, "_usable_memory_bytes", lambda u=usable: u)
        assert session._default_driver_memory() == want


def test_usable_memory_is_min_of_host_and_cgroup(monkeypatch, tmp_path):
    from redcap_omop_etl_spark import session

    meminfo, limit = tmp_path / "meminfo", tmp_path / "memory.max"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:  1 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", (str(limit),))
    limit.write_text("max\n")  # cgroup v2 without a limit
    assert session._usable_memory_bytes() == 16456384 * 1024
    limit.write_text(f"{8 * 2**30}\n")
    assert session._usable_memory_bytes() == 8 * 2**30
    assert session._default_driver_memory() == "4g"
