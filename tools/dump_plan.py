"""Dump `.explain("formatted")` for named queries to
plans/$PLANS_ROUND/<q>_<tag>.txt (PLANS_ROUND defaults to r13).

The judge checks plan claims (Exchange counts, join strategies,
PushedFilters) against these committed files, so capture is part of the
optimization workflow: run with tag=before on the untouched code, tag=after
on the optimized code.

Usage:
    python tools/dump_plan.py before q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = sys.argv[1]
    names = sys.argv[2:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("PLANS_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    from projectone_spark.queries import queries
    from projectone_spark.session import get_spark

    spark = get_spark("projectone_spark-plans")
    all_queries = queries()
    for name in names:
        df = all_queries[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
