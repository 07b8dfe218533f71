"""The reference's command-line lifecycle, Spark-native (SURVEY §3.1).

Mirrors ``python redcap-etl.py -c config.ini [-f] [-d] [-p] [-w out]``
(``/root/reference/redcap-etl.py:399-422``):

1. parse INI config (S1, ``config.load_config``);
2. extract the EAV stream through the chunk-partitioned REST source
   (S2-S4, ``sources.rest_source`` — parallel fan-out instead of the
   reference's serial 100-ID loop). The CLI always reads through the
   deterministic synthetic transport: ``-f/--fake`` is accepted for
   parity with the reference's flags and changes nothing, and live HTTP
   is reachable only through the source's ``url``/``token`` reader
   options, which the CLI does not set. Like the reference's one list
   (redcap-etl.py:99-128), the extract is read once per run: it is
   materialized (one scan job, a plan barrier) and everything below
   reads that materialization;
3. transform: DAG patch → date de-identification (strategy/granularities
   from config) → calc/secondary emissions → PHI filter
   (``operators.redcap.redcap_pipeline``, reference order);
4. transmit: chunk envelopes of ``record_chunk_size`` rows
   (``sinks.chunked``); ``-w`` writes the would-be payloads to a
   fail-if-exists location (the reference's dry-run golden-output
   harness, redcap-etl.py:216-221,254-262), ``-p`` additionally writes
   the pivoted debug CSV (redcap-etl.py:382-397). The envelopes are built
   once: the summary's ``chunks`` and ``kept_rows`` come from one
   aggregate over the materialized envelopes, and ``-w`` writes them.

The run is a session owner: it releases every operator-owned
materialization when it returns (``caching.unpersist_operator_caches``).

Errors never abort the run (V3): they are counted and reported in the
summary, mirroring skip-and-log.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize, unpersist_operator_caches
from redcap_omop_etl_spark.config import EngineConfig, load_config
from redcap_omop_etl_spark.operators.redcap import EAV_COLUMNS, redcap_pipeline
from redcap_omop_etl_spark.session import build_session
from redcap_omop_etl_spark.sinks.chunked import chunk_envelopes, debug_pub
from redcap_omop_etl_spark.sources import rest_source

FIELD_MAP_SCHEMA = "field_name string, status string, restrict_to_event_list string, form_name string"


def _demo_field_map(spark: SparkSession) -> DataFrame:
    """Field map for the ``--fake`` synthetic corpus (the transport emits
    np_dob / np_gender / visit_date / consent_complete)."""
    return spark.sql(
        """
        SELECT * FROM VALUES
          ('np_dob',     'TransformDateYear', CAST(NULL AS STRING), 'demo'),
          ('visit_date', 'TransformDate',     CAST(NULL AS STRING), 'visits'),
          ('np_gender',  'Include',           CAST(NULL AS STRING), 'demo')
        AS t(field_name, status, restrict_to_event_list, form_name)
        """
    )


def _load_field_map(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    if cfg.field_map_file:
        # all-string CSV, schema pinned (S7 discipline)
        return spark.read.schema(FIELD_MAP_SCHEMA).option("header", True).csv(cfg.field_map_file)
    return _demo_field_map(spark)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="redcap-omop-etl-spark",
        description="EAV extract -> de-identify -> chunked transmit (reference CLI parity)",
    )
    p.add_argument("-c", "--config", required=True, help="INI config (example-config.ini shape)")
    p.add_argument(
        "-f",
        "--fake",
        action="store_true",
        help="accepted for reference parity; the CLI always uses the synthetic transport",
    )
    p.add_argument("-d", "--debug", action="store_true", help="INFO-level Spark logging")
    p.add_argument("-p", "--pub-debug", action="store_true", help="write pivoted debug CSV")
    p.add_argument("-w", "--write-payloads", metavar="OUT", help="write chunk envelopes here (fail-if-exists)")
    p.add_argument("--ids", help="comma-separated record IDs (default: 25 synthetic)")
    p.add_argument("--run-datetime", default="", help="extraction_run_datetime stamp for envelopes")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    args = build_parser().parse_args(argv)
    cfg = load_config(args.config)
    owns_session = spark is None
    if spark is None:
        spark = build_session("redcap-etl")
    if args.debug:
        spark.sparkContext.setLogLevel("INFO")

    try:
        # ---- extract (S2-S4) --------------------------------------------
        rest_source.register(spark)
        ids = args.ids or ",".join(f"R{i:04d}" for i in range(25))
        # one scan job; every later action reads the checkpoint, not the source
        records = materialize(spark.read.format("rest_eav").option("ids", ids).load())

        # ---- transform (reference order) --------------------------------
        fm = _load_field_map(spark, cfg)
        result = redcap_pipeline(
            records,
            fm,
            strategy=cfg.datetransform_type,
            standard_date=cfg.standard_date,
            shifting_seconds=cfg.shifting_seconds,
        )
        kept = result.kept.select(*EAV_COLUMNS)

        # ---- transmit (S9/S10) ------------------------------------------
        envelopes = materialize(
            chunk_envelopes(
                kept,
                order_cols=["record_id", "redcap_event_name", "field_name"],
                chunk_size=cfg.record_chunk_size,
                project_info={
                    "redcap_project_id": cfg.project_id,
                    "project_type": cfg.project_type,
                },
                run_datetime=args.run_datetime,
            )
        )
        # each kept row lands in exactly one chunk: sum(n_records) == kept rows
        totals = envelopes.agg(
            F.count(F.lit(1)).alias("chunks"), F.sum("n_records").alias("rows")
        ).first()
        summary = {
            "kept_rows": totals["rows"] or 0,
            "error_rows": result.errors.count(),
            "chunks": totals["chunks"],
        }
        if args.write_payloads:
            # the reference's open(..., "x") dry-run sink: fail if exists
            envelopes.select("envelope").write.mode("errorifexists").text(args.write_payloads)
            summary["payload_path"] = args.write_payloads
        if args.pub_debug and result.transform_records is not None:
            fields = sorted(
                r["field_name"]
                for r in result.transform_records.select("field_name").distinct().collect()
            )
            pub_path = (args.write_payloads or "pub") + "_pub_debug"
            debug_pub(result.transform_records, fields, pub_path)
            summary["pub_debug_path"] = pub_path
        print(
            f"kept={summary['kept_rows']} errors={summary['error_rows']} chunks={summary['chunks']}",
            file=sys.stderr,
        )
        return summary
    finally:
        unpersist_operator_caches()
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
