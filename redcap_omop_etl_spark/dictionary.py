"""Dictionary curation — the reference's second CLI (SURVEY §3.2).

``python dictionary_extraction.py <token> <existing.csv> <new.csv>``
(``/root/reference/dictionary_extraction.py:9-116``) fetches the REDCap
metadata dictionary, trims it to the keep-columns, appends the human
curation columns, and merge-updates values from the previously curated
CSV (existing curation wins, ``df.update`` at ``:101``). Spark-first
re-expression: the metadata arrives as a DataFrame (REST source or CSV),
the column surgery is a single ``select``, and the update is the
broadcast coalesce merge (``operators.relational.merge_update`` — J6).

Run: ``python -m redcap_omop_etl_spark.dictionary <existing.csv>
<new_metadata.csv> <out.csv>`` (no token — transport is out of scope in
this environment; the metadata scan lands as the CSV input).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.operators.relational import merge_update

# dictionary_extraction.py:30-37
KEEP_COLUMNS = [
    "form_name",
    "field_name",
    "field_type",
    "select_choices_or_calculations",
    "field_label",
    "text_validation_type_or_show_slider_number",
]
# dictionary_extraction.py:47-60
COLUMN_ORDER = [
    "form_name",
    "field_name",
    "status",
    "status questions",
    "exclude_reason",
    "notes",
    "field_type",
    "select_choices_or_calculations",
    "field_label",
    "text_validation_type_or_show_slider_number",
    "ontology_term",
    "restrict_to_event_list",
]
# dictionary_extraction.py:88-97 — the columns existing curation carries over
UPDATE_COLUMNS = ["status", "status questions", "notes", "restrict_to_event_list", "ontology_term"]


def curate_dictionary(metadata: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """Trim the metadata scan to the curation sheet shape and merge in the
    existing curation (existing non-null values win, per field_name)."""
    cols = []
    for c in COLUMN_ORDER:
        if c in KEEP_COLUMNS and c in metadata.columns:
            cols.append(F.col(c).cast("string").alias(c))
        else:
            cols.append(F.lit(None).cast("string").alias(c))
    sheet = metadata.select(*cols)

    if existing is not None:
        ex = existing
        if "status questions" not in ex.columns:  # dictionary_extraction.py:91-92
            ex = ex.withColumn("status questions", F.lit(""))
        ex = ex.select(
            "field_name", *[F.col(c).cast("string").alias(c) for c in UPDATE_COLUMNS]
        )
        sheet = merge_update(sheet, ex, keys=["field_name"]).select(*COLUMN_ORDER)
    return sheet


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    args = argv if argv is not None else sys.argv[1:]
    if len(args) != 3:
        raise SystemExit(
            "usage: python -m redcap_omop_etl_spark.dictionary <existing.csv> <new_metadata.csv> <out.csv>"
        )
    existing_csv, new_csv, out_csv = args
    owns = spark is None
    if spark is None:
        from redcap_omop_etl_spark.session import build_session

        spark = build_session("dictionary-curation")
    try:
        existing = spark.read.option("header", True).csv(existing_csv)
        metadata = spark.read.option("header", True).csv(new_csv)
        out = curate_dictionary(metadata, existing)
        out.coalesce(1).write.mode("overwrite").option("header", True).csv(out_csv)
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    main()
