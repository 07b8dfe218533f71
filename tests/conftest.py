from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def term_stats_rebuild(docs) -> set[tuple[str, int, int]]:
    """The (term, df, cf) rows of a term-stats rebuild over ``docs``."""
    from pyspark.sql import functions as F

    from redcap_omop_etl_spark.operators.retrieval import _tokens

    tf = _tokens(docs).groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return {
        (r["term"], r["df"], r["cf"])
        for r in tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .collect()
    }


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
