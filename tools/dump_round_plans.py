"""Dump `.explain("formatted")` output for named queries into
plans/r{N}/<query>_<tag>.txt — the before/after plan evidence for an
optimization round's report (OPTIMIZATION_r{N}.md).

Usage:
    python tools/dump_round_plans.py 13 before q1 q2 ...
    python tools/dump_round_plans.py 13 after  q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.session import build_session


def main() -> None:
    rnd, tag, names = int(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{rnd}"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(f"dump_r{rnd}_plans")
    qs = workload.queries()
    for name in names:
        if name not in qs:
            print(f"skip unknown query {name}", file=sys.stderr)
            continue
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
