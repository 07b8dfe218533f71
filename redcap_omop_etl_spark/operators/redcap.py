"""The reference's ETL surface, composed: EAV in → de-identified streams out.

Each transform mirrors one reference plugin
(``/root/reference/dcc_transforms.py``) as a pure DataFrame stage on the
FIXTURES.md group-A schemas:

- ``patch_dag``                (redcap-etl.py:163-176, U2)
- ``date_variable_transform``  (dcc_transforms.py:11-186: 3 strategies ×
                                4 granularities, dob-anchor self-join J3,
                                error channels for bad dates / missing dob)
- ``calc_variable_transform``  (dcc_transforms.py:189-268: distinct ids A1,
                                broadcast inner join J4, unpivot-to-EAV R2)
- ``secondary_id_transform``   (dcc_transforms.py:281-306: left join J5,
                                missing → null emitted)
- ``redcap_pipeline``          (redcap-etl.py:399-422 order: transforms
                                BEFORE the PHI filter — the filter consumes
                                ``date_cleaned``)

The EAV contract is all-string (SURVEY §1.1); values are typed lazily at
operator boundaries with ``try_*`` so bad cells land in error channels,
never abort (dcc_transforms.py:59-73).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redcap_omop_etl_spark.functions.dates import format_granularity, seconds_between
from redcap_omop_etl_spark.operators.date_transform import anchor_shift
from redcap_omop_etl_spark.operators.phi_filter import (
    DATE_TRANSFORM_STATUSES,
    PhiFilterResult,
    filtered_metadata,
    phi_filter,
)

EAV_COLUMNS = [
    "record_id",
    "redcap_event_name",
    "redcap_repeat_instrument",
    "redcap_repeat_instance",
    "field_name",
    "value",
]


def patch_dag(records: DataFrame, dag_records: DataFrame) -> DataFrame:
    """Append the data-access-group rows as synthetic EAV rows
    (redcap-etl.py:166-176): one row per study, field
    ``redcap_data_access_group``."""
    dag_eav = dag_records.select(
        F.col("study_id").alias("record_id"),
        F.col("redcap_event_name"),
        F.lit("").alias("redcap_repeat_instrument"),
        F.lit("").alias("redcap_repeat_instance"),
        F.lit("redcap_data_access_group").alias("field_name"),
        F.col("redcap_data_access_group").alias("value"),
    )
    return records.select(*EAV_COLUMNS).unionByName(dag_eav)


@dataclass
class DateTransformResult:
    records: DataFrame   # original stream, date fields cleaned + flagged
    emitted: DataFrame | None  # total_seconds strategy emits transform records
    errors: DataFrame    # unparseable dates / missing anchors


def date_variable_transform(
    records: DataFrame,
    field_map: DataFrame,
    strategy: str = "dob_shifting",
    standard_date: str = "2030-01-01 00:00:00",
    shifting_seconds: int = 0,
    anchor_field: str = "np_dob",
) -> DateTransformResult:
    """De-identify date-typed EAV values.

    Strategies (example-config.ini ``datetransform_type``):
    - ``dob_shifting``: per-record shift = standard − record's anchor-field
      date; applied to every date field, then formatted at the field's
      granularity (dcc_transforms.py:33-103).
    - ``date_shifting``: constant ``shifting_seconds`` shift
      (dcc_transforms.py:127-168).
    - ``total_seconds``: emit signed seconds from ``standard_date``
      as transform records (dcc_transforms.py:106-124).

    Date fields are identified by field-map status ∈
    DATE_TRANSFORM_STATUSES (J2: broadcast inner semantics — non-date
    fields pass through untouched).
    """
    if strategy not in ("dob_shifting", "date_shifting", "total_seconds"):
        raise ValueError(f"unknown datetransform_type {strategy!r}")  # dcc_transforms.py:171-174

    date_fields = field_map.filter(F.col("status").isin(DATE_TRANSFORM_STATUSES)).select(
        F.col("field_name").alias("__df_field"), F.col("status").alias("__df_status")
    )
    joined = records.join(
        F.broadcast(date_fields), records["field_name"] == F.col("__df_field"), "left"
    )
    is_date_field = F.col("__df_field").isNotNull()
    parsed = F.try_to_timestamp(F.col("value"))
    # status 'TransformX' → granularity label X (dcc_transforms.py:182)
    granularity = F.regexp_replace(F.col("__df_status"), "^Transform", "")

    if strategy == "dob_shifting":
        # J3: per-record anchor from the record's own anchor-field row
        joined = anchor_shift(
            joined.withColumn("__ts", parsed),
            "record_id",
            "__ts",
            F.col("field_name") == anchor_field,
            standard_date,
        )
        cleaned_value = format_granularity(F.col("__shifted"), granularity)
        ok = parsed.isNotNull() & F.col("__anchor").isNotNull()
        err_reason = F.when(parsed.isNull(), "unparseable date").otherwise("missing dob anchor")
    elif strategy == "date_shifting":
        shifted = F.timestamp_add("SECOND", F.lit(int(shifting_seconds)), parsed)
        cleaned_value = format_granularity(shifted, granularity)
        ok = parsed.isNotNull()
        err_reason = F.lit("unparseable date")
    else:  # total_seconds — emits, does not rewrite in place
        seconds = seconds_between(parsed, F.lit(standard_date).cast("timestamp"))
        emitted = (
            joined.filter(is_date_field & parsed.isNotNull())
            .select(
                "record_id",
                "field_name",
                seconds.cast("string").alias("field_value"),
            )
        )
        errors = (
            joined.filter(is_date_field & parsed.isNull())
            .select("record_id", "field_name", F.lit("unparseable date").alias("error"))
        )
        out = joined.drop("__df_field", "__df_status").withColumn("date_cleaned", F.lit(None).cast("boolean"))
        return DateTransformResult(records=out, emitted=emitted, errors=errors)

    cleaned = (
        joined.withColumn(
            "value", F.when(is_date_field & ok, cleaned_value).otherwise(F.col("value"))
        )
        .withColumn("date_cleaned", F.when(is_date_field & ok, F.lit(True)))
        # bad date rows: value survives unshifted but date_cleaned stays
        # null, so the PHI filter drops them (redcap-etl.py:348 — the row
        # never earns the flag). Reference behavior: skip + log.
    )
    errors = (
        joined.filter(is_date_field & ~F.coalesce(ok, F.lit(False)))
        .select("record_id", "field_name", err_reason.alias("error"))
    )
    drop_cols = [
        c for c in ("__df_field", "__df_status", "__anchor", "__ts", "__shifted") if c in cleaned.columns
    ]
    return DateTransformResult(records=cleaned.drop(*drop_cols), emitted=None, errors=errors)


def calc_variable_transform(records: DataFrame, deid_data: DataFrame, id_col: str = "redcap_id") -> DataFrame:
    """Enrich with de-identified calculated variables
    (dcc_transforms.py:248-268): one transform record per (record, column)
    for records present in the lookup (inner join), first occurrence per
    record (A1 → distinct).

    Returns the emitted transform-record stream (record_id, field_name,
    field_value)."""
    ids = records.select("record_id").distinct()
    value_cols = [c for c in deid_data.columns if c != id_col]
    wide = ids.join(F.broadcast(deid_data), ids["record_id"] == deid_data[id_col], "inner").drop(id_col)
    stringified = wide.select(
        "record_id", *[F.col(c).cast("string").alias(c) for c in value_cols]
    )
    return stringified.unpivot(["record_id"], value_cols, "field_name", "field_value")


def secondary_id_transform(records: DataFrame, mapping: DataFrame) -> DataFrame:
    """Interim secondary-ID mapping (dcc_transforms.py:286-306): left join —
    records without a mapping emit a null secondary_id (reference emits
    None)."""
    ids = records.select("record_id").distinct()
    return (
        ids.join(F.broadcast(mapping), ids["record_id"] == mapping["redcap_record_id"], "left")
        .select(
            "record_id",
            F.lit("secondary_id").alias("field_name"),
            F.col("secondary_id").cast("string").alias("field_value"),
        )
    )


@dataclass
class RedcapPipelineResult:
    kept: DataFrame               # PHI-filtered EAV stream
    transform_records: DataFrame  # namespace-tagged emitted stream
    metadata_filtered: DataFrame | None
    errors: DataFrame             # union of all error channels
    unique_fields: DataFrame


def redcap_pipeline(
    records: DataFrame,
    field_map: DataFrame,
    dag_records: DataFrame | None = None,
    deid_data: DataFrame | None = None,
    secondary_ids: DataFrame | None = None,
    metadata: DataFrame | None = None,
    strategy: str = "dob_shifting",
    standard_date: str = "2030-01-01 00:00:00",
    shifting_seconds: int = 0,
) -> RedcapPipelineResult:
    """The full composed flagship pipeline, in the reference's order
    (redcap-etl.py:399-422): DAG patch → transforms → PHI filter last."""
    if dag_records is not None:
        records = patch_dag(records, dag_records)

    dt = date_variable_transform(
        records, field_map, strategy=strategy, standard_date=standard_date, shifting_seconds=shifting_seconds
    )
    errors = dt.errors
    emitted_streams = []
    if dt.emitted is not None:
        emitted_streams.append(dt.emitted.withColumn("namespace", F.lit("date_variables")))
    if deid_data is not None:
        emitted_streams.append(
            calc_variable_transform(dt.records, deid_data).withColumn("namespace", F.lit("calc_variables"))
        )
    if secondary_ids is not None:
        emitted_streams.append(
            secondary_id_transform(dt.records, secondary_ids).withColumn("namespace", F.lit("secondary_id"))
        )

    phi: PhiFilterResult = phi_filter(dt.records, field_map)
    errors = errors.unionByName(
        phi.errors.select(
            F.lit(None).cast("string").alias("record_id"), "field_name", "error"
        )
    )

    transform_records = None
    if emitted_streams:
        from functools import reduce

        transform_records = reduce(
            DataFrame.unionByName,
            [s.select("record_id", "namespace", "field_name", "field_value") for s in emitted_streams],
        )

    meta = filtered_metadata(metadata, phi.unique_fields) if metadata is not None else None
    return RedcapPipelineResult(
        kept=phi.kept.select(*EAV_COLUMNS, "date_cleaned"),
        transform_records=transform_records,
        metadata_filtered=meta,
        errors=errors,
        unique_fields=phi.unique_fields,
    )
