"""Plan-quality survey: one summary row per query — exchange count,
join strategies, scan pushdown, Python-UDF presence, codegen coverage.

Usage: python tools/plan_report.py [sf_dir] > plan_report.md
The table is the at-a-glance answer to "would this plan survive scale-up":
broadcast joins on dim sides, few exchanges, filters at the scan, no
row-level Python in any hot path.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from grapefruit_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"# Plan survey @ {sf_dir}\n")
    print("| query | exchanges | broadcast joins | SMJ/SHJ | pushed filters | row-UDF | codegen spans |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            # collect() executes THIS DataFrame's QueryExecution so AQE
            # finalizes it in place (a noop write would run a separate
            # command execution and leave this plan isFinalPlan=false)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # finalized AQE output appends the pre-run plan again under
            # "== Initial Plan ==" — keep only the final plan section
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # noqa: BLE001 - report, don't abort the survey
            print(f"| {name} | ERROR: {str(e)[:60]} | | | | | |")
            continue
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        n_bhj = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
        pushed = "yes" if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else "-"
        udf = "YES" if "BatchEvalPython" in plan else ("arrow" if "ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan else "-")
        # codegen'd operators print with a "*(id)" prefix in the tree;
        # "empty" = AQE collapsed the run to EmptyRelation at this SF
        codegen = len(set(__import__("re").findall(r"\*\((\d+)\)", plan)))
        if codegen == 0 and "EmptyRelation" in plan:
            codegen = "empty"
        print(f"| {name} | {n_ex} | {n_bhj} | {n_smj} | {pushed} | {udf} | {codegen} |")


if __name__ == "__main__":
    main()
