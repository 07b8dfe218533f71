"""The PHI filter — the reference's centerpiece operator (P6).

Re-expresses ``filter_phi`` (``/root/reference/redcap-etl.py:299-356``) as a
single broadcast join + one codegen'd CASE chain, with the error registry
as an anti-join side output (J7, ``redcap-etl.py:322-327``) and the
surviving-field set as a distinct aggregate (A2, ``redcap-etl.py:317-349``).

Dispatch rules, in reference order:

1. ``field_name == 'redcap_data_access_group'``     → keep  (:316-318)
2. ``field_name LIKE '%_complete'``                 → keep  (:319-321)
3. field absent from the field map                  → drop + error (:322-327)
4. ``status == 'Include'``                          → keep iff
   ``restrict_to_event_list`` is null or contains the row's event (:329-341)
5. ``status ∈ DATE_TRANSFORM_STATUSES``             → keep iff the row
   carries ``date_cleaned`` (the flag the date transform wrote earlier —
   a real column, so the transform→filter ordering is a data dependency
   Catalyst cannot reorder away; SURVEY §4) (:342-351)
6. anything else                                    → drop

Scale notes: the field map is a curated human-edited table (hundreds of
rows) → always broadcast; the records side is the 100 TB EAV stream. Both
outputs (kept, errors) are lazy views over ``records``, so every action on
either re-reads it (the errors ``left_anti`` join scans it a second time);
a caller that wants the source read once materializes ``records`` first,
as ``cli.main`` does.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# redcap-etl.py:342-347 / dcc_transforms.py:16-22
DATE_TRANSFORM_STATUSES = [
    "TransformDateYear",
    "TransformDate",
    "TransformDateTimeSeconds",
    "TransformDateTime",
]


@dataclass
class PhiFilterResult:
    kept: DataFrame        # rows surviving the allowlist
    errors: DataFrame      # distinct field names missing from the map
    unique_fields: DataFrame  # distinct surviving field names (drives P7)


def phi_filter(
    records: DataFrame,
    field_map: DataFrame,
    event_col: str = "redcap_event_name",
    field_col: str = "field_name",
    date_cleaned_col: str = "date_cleaned",
) -> PhiFilterResult:
    """Apply the PHI allowlist filter.

    ``records``: EAV stream; must carry ``date_cleaned`` (boolean, nullable)
    if any mapped field uses a date-transform status.
    ``field_map``: ``field_name, status, restrict_to_event_list`` (+ extras
    ignored); ``restrict_to_event_list`` is a comma-separated event list or
    null for all events (the reference probes a dict keyed by event,
    redcap-etl.py:330-335).
    """
    fm = field_map.select(
        F.col(field_col).alias("__fm_field"),
        F.col("status").alias("__fm_status"),
        F.when(
            F.col("restrict_to_event_list").isNotNull(),
            F.split(F.regexp_replace("restrict_to_event_list", r"\s+", ""), ","),
        ).alias("__fm_events"),
    )
    if date_cleaned_col not in records.columns:
        records = records.withColumn(date_cleaned_col, F.lit(None).cast("boolean"))

    joined = records.join(F.broadcast(fm), records[field_col] == fm["__fm_field"], "left")

    is_dag = F.col(field_col) == "redcap_data_access_group"
    is_complete = F.col(field_col).endswith("_complete")
    in_map = F.col("__fm_field").isNotNull()
    event_ok = F.col("__fm_events").isNull() | F.array_contains(F.col("__fm_events"), F.col(event_col))
    include_ok = (F.col("__fm_status") == "Include") & event_ok
    date_ok = F.col("__fm_status").isin(DATE_TRANSFORM_STATUSES) & (
        F.col(date_cleaned_col) == F.lit(True)
    )

    keep = is_dag | is_complete | (in_map & (include_ok | date_ok))

    kept = joined.filter(keep).drop("__fm_field", "__fm_status", "__fm_events")
    errors = (
        records.join(F.broadcast(fm), records[field_col] == fm["__fm_field"], "left_anti")
        .filter(~(is_dag | is_complete))
        .select(field_col)
        .distinct()
        .withColumn("error", F.lit("field missing from field map"))
    )
    unique_fields = kept.select(field_col).distinct()
    return PhiFilterResult(kept=kept, errors=errors, unique_fields=unique_fields)


def filtered_metadata(metadata: DataFrame, unique_fields: DataFrame, field_col: str = "field_name") -> DataFrame:
    """P7 (redcap-etl.py:207-214): metadata rows whose field survived the
    PHI filter — a left-semi join."""
    return metadata.join(unique_fields, field_col, "left_semi")
