"""Scalar column-expression library (dates, strings, error channels)."""

from redcap_omop_etl_spark.functions.dates import (
    GRANULARITIES,
    format_granularity,
    seconds_between,
)
from redcap_omop_etl_spark.functions.errors import split_errors, try_timestamp

__all__ = [
    "GRANULARITIES",
    "format_granularity",
    "seconds_between",
    "split_errors",
    "try_timestamp",
]
