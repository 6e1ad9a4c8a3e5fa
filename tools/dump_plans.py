"""Dump .explain('formatted') for named queries to files.

Usage: python tools/dump_plans.py <repo_root> <sf_dir> <out_dir> <suffix> name...
Writes <out_dir>/<name>_<suffix>.txt for each query.
"""
from __future__ import annotations

import os
import sys


def main() -> int:
    root, sf_dir, out_dir, suffix, *names = sys.argv[1:]
    sys.path.insert(0, root)
    from grapefruit_spark.operators import all_queries
    from grapefruit_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
