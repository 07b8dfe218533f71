"""Schema + constraint validation with error side-channels.

Re-expresses the reference's pandera usage (V1,
``dcc_transforms.py:240-245``: all-string columns, ``strict=True`` — exact
column set) and its never-abort error policy (V3,
``dcc_transforms.py:59-73``; ``redcap-etl.py:322-327``) for distributed
DataFrames:

- ``expect_columns`` / ``expect_schema``: driver-side structural asserts —
  free (no job runs).
- ``check``: declarative row-level constraints evaluated in ONE pass via
  conditional aggregation (no per-constraint actions); violations
  optionally split into an errors DataFrame, mirroring skip-and-log.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaValidationError(ValueError):
    pass


def expect_columns(df: DataFrame, columns: list[str], strict: bool = True) -> DataFrame:
    """Exact (strict) or subset column-set assertion, pandera-style."""
    have, want = list(df.columns), list(columns)
    missing = [c for c in want if c not in have]
    extra = [c for c in have if c not in want]
    if missing or (strict and extra):
        raise SchemaValidationError(f"column mismatch: missing={missing} extra={extra if strict else '-'}")
    return df


def expect_schema(df: DataFrame, schema: T.StructType, strict: bool = True) -> DataFrame:
    """Name+type assertion against a StructType (nullability ignored — it
    is advisory in file sources)."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in schema.fields}
    problems = [f"{n}: want {t}, have {have.get(n)}" for n, t in want.items() if have.get(n) != t]
    if strict:
        problems += [f"{n}: unexpected" for n in have if n not in want]
    if problems:
        raise SchemaValidationError("; ".join(problems))
    return df


@dataclass
class CheckResult:
    clean: DataFrame
    errors: DataFrame          # one row per violating input row, with `violations` array
    counts: dict[str, int]     # constraint name -> violation count (one job)


def check(df: DataFrame, constraints: dict[str, Column]) -> CheckResult:
    """Evaluate named row-level constraints (Column predicates that must be
    TRUE) in a single aggregation pass; split violators out.

    Counting uses one conditional-agg job over the scan; the clean/errors
    views are lazy. At 100 TB: one pass for the audit numbers, and the
    split predicates push down into the scan.
    """
    null_safe = {name: F.coalesce(pred, F.lit(False)) for name, pred in constraints.items()}
    agg = df.agg(
        *[F.sum(F.when(~pred, 1).otherwise(0)).cast("long").alias(name) for name, pred in null_safe.items()]
    )
    row = agg.head()
    counts = {name: int(row[name] or 0) for name in constraints}

    all_ok = None
    for pred in null_safe.values():
        all_ok = pred if all_ok is None else (all_ok & pred)
    if all_ok is None:
        all_ok = F.lit(True)

    violations = F.filter(
        F.array(*[F.when(~pred, F.lit(name)).otherwise(F.lit(None)) for name, pred in null_safe.items()]),
        lambda x: x.isNotNull(),
    )
    clean = df.filter(all_ok)
    errors = df.filter(~all_ok).withColumn("violations", violations)
    return CheckResult(clean=clean, errors=errors, counts=counts)


def assert_unique_key(df: DataFrame, keys: list[str]) -> None:
    """Key-uniqueness audit (the reference assumes one np_dob per record,
    dcc_transforms.py:44-49 — this makes the assumption checkable)."""
    dupes = df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dupes:
        raise SchemaValidationError(f"duplicate key {keys}: {dupes[0]}")


def profile_table(df: DataFrame, numeric_round: int = 2) -> DataFrame:
    """Single-pass column profiler: one output row per column with null
    count, exact distinct count, and min/max (stringified; numerics
    rounded first so the rendering is engine-portable).

    All statistics for all columns are one aggregation — one scan, one
    Expand for the distinct counts — and the per-column rows come from
    exploding an array of structs built on the 1-row aggregate, so the
    long-form reshape costs nothing. The profile is the engine's answer
    to "what does this 100 TB table even contain" before any pipeline is
    pointed at it.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
        if isinstance(f.dataType, T.FractionalType):
            # round only fractional types: rounding integrals changes the
            # rendered text ("1499" vs "1499.0") without adding information
            aggs.append(F.round(F.min(c), numeric_round).cast("string").alias(f"__min_{c}"))
            aggs.append(F.round(F.max(c), numeric_round).cast("string").alias(f"__max_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("col"),
                (F.col("__n") - F.col(f"__nn_{f.name}")).alias("n_nulls"),
                F.col(f"__nd_{f.name}").alias("n_distinct"),
                F.col(f"__min_{f.name}").alias("min_s"),
                F.col(f"__max_{f.name}").alias("max_s"),
            )
            for f in df.schema.fields
        ]
    )
    return one.select(F.explode(entries).alias("e")).select("e.*")


class MaintenancePreconditionError(ValueError):
    """An incremental-maintenance tick was handed a batch that violates
    the id precondition its rebuild-equivalence proof needs. Raised by
    the runtime guards below so a bad batch fails loudly instead of
    producing a silently-wrong incremental result (the append proofs in
    ``similarity.semdedup_state_append`` / ``graph.
    minhash_cluster_state_append`` / ``dedup._ppj_append_tick``, whose
    batch ``dedup._ppj_append_batch`` guards, hold only under these
    conditions)."""


def require_monotonic_ids(
    base_ids: DataFrame, batch_ids: DataFrame, op: str
) -> None:
    """Assert every batch id exceeds every base id — the precondition of
    anchor-stability append proofs (a lower batch id could DISPLACE a
    frozen lowest-id anchor and flip base flags). One 1-row job: each
    side collapses to a single extreme (map-side partial agg, no
    shuffle of data rows), then a 1x1 cross join.

    At 100 TB this is a single-column columnar scan of the frozen state
    per tick — noise next to the tick itself. Empty base or empty batch
    trivially passes."""
    bcol, ncol = base_ids.columns[0], batch_ids.columns[0]
    row = (
        base_ids.agg(F.max(bcol).alias("__max_base"))
        .crossJoin(batch_ids.agg(F.min(ncol).alias("__min_batch")))
        .first()
    )
    if (
        row["__max_base"] is not None
        and row["__min_batch"] is not None
        and row["__min_batch"] <= row["__max_base"]
    ):
        raise MaintenancePreconditionError(
            f"{op}: batch ids must all exceed base ids "
            f"(max base id {row['__max_base']} >= min batch id "
            f"{row['__min_batch']}); remap batch ids above the base range "
            f"or run the full rebuild"
        )


def require_disjoint_ids(
    base_ids: DataFrame, batch_ids: DataFrame, op: str
) -> None:
    """Assert the batch id set is DISJOINT from the base id set — the
    (weaker) precondition of partition-level append proofs where only
    identity collisions break equivalence, not ordering (cluster append:
    a batch doc reusing a base id would alias two distinct documents
    into one node).

    Two-tier probe (round 12): non-overlapping id RANGES imply
    disjointness, so the first tier is one map-side extremes aggregate
    (max base, min batch, and the reverse pair — no shuffle of either
    id set); only when the ranges interleave does the exact
    distinct+semi-join run, short-circuited by limit(1) with the
    batch side distinct-projected first. Ingest ledgers assign batch
    ids above the base range in practice, so the per-tick guard cost
    at 100 TB drops from a corpus-sized semi-join shuffle to a
    columnar scan with a 1-row result; the fallback keeps the guard
    EXACT for arbitrary id assignments (raise iff a real collision
    exists, same semantics as before)."""
    bcol, ncol = base_ids.columns[0], batch_ids.columns[0]
    rng = (
        base_ids.agg(
            F.max(bcol).alias("__max_b"), F.min(bcol).alias("__min_b")
        )
        .crossJoin(
            batch_ids.agg(
                F.min(ncol).alias("__min_n"), F.max(ncol).alias("__max_n")
            )
        )
        .first()
    )
    if rng["__max_b"] is None or rng["__min_n"] is None:
        return  # empty base or empty batch: trivially disjoint
    if rng["__min_n"] > rng["__max_b"] or rng["__max_n"] < rng["__min_b"]:
        return  # ranges don't overlap — disjoint without a join
    clash = (
        batch_ids.select(F.col(ncol).alias("__id"))
        .distinct()
        .join(base_ids.select(F.col(bcol).alias("__id")), "__id", "left_semi")
        .limit(1)
        .collect()
    )
    if clash:
        raise MaintenancePreconditionError(
            f"{op}: batch ids must be disjoint from base ids "
            f"(id {clash[0]['__id']} exists in the frozen base state); "
            f"remap batch ids or run the full rebuild"
        )
