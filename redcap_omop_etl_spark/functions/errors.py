"""Error-channel helpers: skip-and-log semantics without aborting the job.

The reference never aborts on a bad value: unparseable dates are logged and
the row skipped (``dcc_transforms.py:59-73``); fields missing from the
field map go to a dedup'd error registry (``redcap-etl.py:322-327``).
Spark's equivalent is the ``try_*`` function family plus a partition of the
DataFrame into (clean, errors) — both sides stay distributed, nothing is
collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize


def try_timestamp(col: Column | str) -> Column:
    """Non-aborting ISO-8601-ish parse: NULL on failure (dcc_transforms.py:57-63)."""
    return F.try_to_timestamp(F.col(col) if isinstance(col, str) else col)


def split_errors(df: DataFrame, ok_predicate: Column, error_label: str) -> tuple[DataFrame, DataFrame]:
    """Partition ``df`` into (clean, errors) on a predicate.

    Both outputs are lazy views of the same scan; Catalyst pushes each
    filter down independently. The errors side carries an ``error`` label
    column, mirroring the reference's log-and-skip channel.
    """
    clean = df.filter(ok_predicate)
    errors = df.filter(~F.coalesce(ok_predicate, F.lit(False))).withColumn("error", F.lit(error_label))
    return clean, errors


def read_json_with_errors(
    spark, path: str, schema: str, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """Malformed-input error channel at the SOURCE (V3 for scans).

    PERMISSIVE mode parses what it can and routes unparseable lines into
    ``corrupt_col`` instead of aborting (FAILFAST) or silently dropping
    (DROPMALFORMED) — the scan-level form of the reference's
    log-and-skip. Returns (clean, errors): clean rows with the declared
    schema, errors carrying the raw offending line for quarantine.

    Spark requires caching/materializing before filtering on the corrupt
    column alone (the parser prunes it otherwise); selecting it together
    with data columns as done here is the supported pattern.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    raw = spark.read.schema(full_schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    ).json(path)
    raw = materialize(raw, "persist")  # one scan serves both channels; also required by
    # Spark before referencing the corrupt column in a filter
    clean = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    errors = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    ).withColumn("error", F.lit("malformed_json"))
    return clean, errors
