"""Key-based upsert (MERGE) into a Hive-partitioned parquet table.

Plain parquet has no row-level mutation, so upsert is copy-on-write — the
trick at 100 TB is to copy as little as possible. The batch names which
partitions it touches; everything else is never read, never written:

1. project the batch's distinct partition values (a driver-side list with
   one entry per touched partition directory — bounded by layout design,
   see ``sources/partitioned.py`` on partition-column cardinality);
2. read ONLY those partitions back (listing-time pruning);
3. drop current rows whose key the batch replaces (left-anti on the key),
   union the batch — insert-or-replace semantics;
4. dynamically overwrite the touched partitions (untouched directories
   are never listed, read, or rewritten).

The merged slice is pinned with ``localCheckpoint`` before the write:
Spark refuses to overwrite a path that is still a *source* in the plan,
and the checkpoint also guarantees the read completes before the
overwrite starts (no torn read-modify-write).

This is the reference's re-extract-one-chunk-without-clobbering pattern
(chunked transmit, ``redcap-etl.py:225-229``) promoted to table
maintenance; for curated-value-wins column semantics compose with
``operators/relational.py::merge_update`` before calling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redcap_omop_etl_spark.caching import materialize
from redcap_omop_etl_spark.sources.partitioned import overwrite_partitions


def upsert_partitions(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """Insert-or-replace ``batch`` rows (full-row schema, keyed by
    ``keys``) into the partitioned table at ``target_path``."""
    touched = [r[0] for r in batch.select(partition_col).distinct().collect()]
    if not touched:
        return
    current = spark.read.parquet(target_path).filter(F.col(partition_col).isin(touched))
    merged = (
        current.join(batch.select(keys), on=keys, how="left_anti")
        .unionByName(batch.select(current.columns))
        .transform(materialize)
    )
    overwrite_partitions(merged, target_path, partition_col)
