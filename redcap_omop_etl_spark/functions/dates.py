"""Date/time column expressions: parse, shift, diff, granularity formats.

Re-expresses the reference's de-identification date suite
(``/root/reference/dcc_transforms.py``) as pure Catalyst expressions —
no UDFs, so they stay inside whole-stage codegen at any scale:

- ISO-8601 parse with non-aborting error semantics
  (``dcc_transforms.py:57-63``) → ``try_to_timestamp``.
- The four output granularities (``dcc_transforms.py:82-97,141-168``):
  Date → ``yyyy-MM-dd``, DateTime → ``yyyy-MM-dd HH:mm`` (the reference's
  ``[:-3]`` slice, i.e. minute precision — NOT HH:mm:ss),
  DateTimeSeconds → ``yyyy-MM-dd HH:mm:ss``, DateYear → ``yyyy``.
- The three shift strategies (``dcc_transforms.py:40-49,75,121-122,139``):
  per-record anchor interval (dob-shifting) and constant seconds
  (date_shifting) are ``timestamp_add`` calls in ``operators.redcap``;
  seconds-since-standard (total_seconds) is ``seconds_between``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# status label (field-map "status" column minus its "Transform" prefix,
# dcc_transforms.py:182) -> strftime pattern
GRANULARITIES: dict[str, str] = {
    "Date": "yyyy-MM-dd",
    "DateTime": "yyyy-MM-dd HH:mm",  # minute precision: reference slices [:-3]
    "DateTimeSeconds": "yyyy-MM-dd HH:mm:ss",
    "DateYear": "yyyy",
}


def format_granularity(ts: Column, granularity_label: Column | str) -> Column:
    """Format a timestamp at a (possibly per-row) granularity label.

    With a literal label this folds to a single ``date_format``; with a
    column label it becomes the reference's 4-way CASE dispatch
    (``dcc_transforms.py:141-168``) as one codegen'd ``when`` chain.
    Unknown labels yield NULL, which the caller's error channel picks up
    (the reference raises instead).
    """
    if isinstance(granularity_label, str):
        return F.date_format(ts, GRANULARITIES[granularity_label])
    expr = None
    for label, fmt in GRANULARITIES.items():
        cond = granularity_label == label
        expr = F.when(cond, F.date_format(ts, fmt)) if expr is None else expr.when(cond, F.date_format(ts, fmt))
    return expr.otherwise(F.lit(None))


def seconds_between(later: Column, earlier: Column) -> Column:
    """Whole seconds from ``earlier`` to ``later`` as a long.

    ``total_seconds`` strategy (``dcc_transforms.py:121-122``;
    ``datetime_transformation.py:4-7``): emits the *signed* difference in
    seconds.
    """
    return (F.unix_timestamp(later) - F.unix_timestamp(earlier)).cast("long")


from redcap_omop_etl_spark.sources.readers import Catalog  # noqa: E402
from redcap_omop_etl_spark.workload import register  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402


@register(
    "date_calendar_suite",
    """
    SELECT o_orderkey,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS eom,
           quarter(o_orderdate)    AS q,
           weekofyear(o_orderdate) AS iso_week,
           isodow(o_orderdate)     AS iso_dow,
           dayofmonth(o_orderdate) AS dom
    FROM orders
    """,
    doc="Calendar function family: end-of-month, quarter, ISO week, ISO "
    "day-of-week, day-of-month — pure codegen'd projections, no shuffle. "
    "Spark's dayofweek is 1=Sunday; the portable ISO form used here is "
    "weekday(ts)+1 (Monday=1), matching DuckDB's isodow.",
)
def date_calendar_suite(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    o = Catalog(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("eom"),
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.dayofmonth("o_orderdate").alias("dom"),
    )
