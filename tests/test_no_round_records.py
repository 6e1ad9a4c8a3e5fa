"""The benchmark is `perfbench/` alone, and the registry's order is fixed by
its code: no legacy headline bench or per-round result file sits in the
repo root, and the package never reads one."""

from __future__ import annotations

import fnmatch
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROUND_FILES = (
    "bench.py", "BENCH_r*", "CORRECTNESS_r*", "PERF_r*", "VERIFY_r*",
    "OPTIMIZATION_r*", "VERDICT.md", "ADVICE.md", "PLANS.md",
)


def test_no_round_records_in_the_repo_root_or_the_package():
    found = [
        f for f in sorted(os.listdir(REPO))
        if any(fnmatch.fnmatch(f, pat) for pat in ROUND_FILES)
    ]
    for d, _, files in os.walk(os.path.join(REPO, "grapefruit_spark")):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    if "CORRECTNESS_r" in fh.read():
                        found.append(os.path.relpath(p, REPO))
    assert not found, f"legacy bench or round records, or code that reads them: {found}"
