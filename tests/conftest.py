from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def registry_plans(spark):
    """``{name: executed plan text}`` for every registered query at the
    smoke SF, planned once and shared by the registry-wide plan gates."""
    return {
        name: fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        for name, fn in workload.queries().items()
    }
