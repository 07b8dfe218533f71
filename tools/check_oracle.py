"""Dev harness: run every workload query on Spark AND its DuckDB oracle,
compare row counts + column names + order-insensitive values.

Approximates the driver's t2 gate so mismatches surface before a round
ends. Canonicalization is driver-parity: both sides are materialized as
pandas frames (``toPandas()`` / ``.df()``), columns sorted by name, rows
sorted via ``sort_values`` (which, like the driver, throws on list-typed
cells), and values compared with pandas-dtype fidelity via
``pd.util.hash_pandas_object`` — so an int64 ``2`` and a float64 ``2.0``
do NOT match (DuckDB HUGEINT sums land as float64; oracles must cast
``::BIGINT``). A looser string-normalized diff is printed on mismatch for
diagnosis only.

Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --list   # registry dump (name, module, gate)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.caching import unpersist_operator_caches
from redcap_omop_etl_spark.session import build_session

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-parity canonical form: name-sorted columns, value-sorted rows.

    ``sort_values`` intentionally NOT guarded: a list/array cell raises
    TypeError here exactly as it does in the driver's canonicalizer, so
    the failure is locally visible.
    """
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hashes(df: pd.DataFrame) -> list[int]:
    # dtype-sensitive: float64 2.0 and int64 2 hash differently, matching
    # the driver's pandas value-hash behavior.
    return pd.util.hash_pandas_object(df, index=False).tolist()


def norm_cell(v):
    """Loose normalization (diagnostic only — conflates 1 and 1.0)."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def loose_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    return sorted(
        "\x01".join(norm_cell(r[c]) for c in cols) for _, r in df.iterrows()
    )


def main() -> int:
    if "--list" in sys.argv:
        workload._ensure_loaded()
        for name, spec in sorted(workload.REGISTRY.items()):
            mode = "oracled" if spec.oracle else "rows-only"
            print(f"{name}\t{spec.fn.__module__}\t{mode}")
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) if len(sys.argv) > 2 else (set(sys.argv[1:2]) - {sf_dir} or None)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        # testdata ships single parquet FILES; Spark-written replicas (e.g.
        # .scale_cache/m16) are parquet DIRECTORIES — glob those for DuckDB.
        path = f"{sf_dir}/{t}.parquet"
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    spark = build_session("check_oracle")
    qs, oracles = workload.queries(), workload.oracle_sql()
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"FAIL unknown query name(s): {sorted(unknown)}")
            return 1
        qs = {n: f for n, f in qs.items() if n in only}
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        # release the previous query's operator-internal caches (the
        # materialize ownership convention) so a full-registry sweep
        # doesn't accumulate storage blocks across 192 queries
        unpersist_operator_caches()
        try:
            sdf = fn(spark, sf_dir)
            s_pd = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            try:
                canon_frame(s_pd)  # still must not crash the driver canonicalizer
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL {name}: rows-only result not canonicalizable "
                      f"(driver would err): {exc}")
                failures.append(name)
                continue
            print(f"ok?  {name}: rows={len(s_pd)} (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            if not len(s_pd):
                failures.append(name)
            continue
        try:
            d_pd = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if sorted(s_pd.columns) != sorted(d_pd.columns):
            problems.append(f"columns spark={sorted(s_pd.columns)} duckdb={sorted(d_pd.columns)}")
        if len(s_pd) != len(d_pd):
            problems.append(f"rowcount spark={len(s_pd)} duckdb={len(d_pd)}")
        if not problems:
            try:
                cs, cd = canon_frame(s_pd), canon_frame(d_pd)
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL {name}: canonicalizer crash (driver would err): {exc}")
                failures.append(name)
                continue
            dt_mismatch = [
                f"{c}: spark={cs[c].dtype} duckdb={cd[c].dtype}"
                for c in cs.columns
                if cs[c].dtype.kind != cd[c].dtype.kind
            ]
            if dt_mismatch:
                problems.append("dtype mismatch (driver hash would fail): "
                                + "; ".join(dt_mismatch))
            elif frame_hashes(cs) != frame_hashes(cd):
                ls, ld = loose_rows(s_pd), loose_rows(d_pd)
                if ls == ld:
                    problems.append("hash mismatch with loosely-equal values "
                                    "(sub-ulp float or dtype-width drift)")
                else:
                    diff = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                    problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(s_pd)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
