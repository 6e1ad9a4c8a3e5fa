"""Subset timing probe mirroring bench.py methodology (one untimed
warmup run, then min-of-3 timed runs through the noop sink, cache
cleared between queries) so a single operator can be measured in
seconds instead of re-running the full 197-row HEADLINE.

Usage: python tools/quick_time.py [sf_dir] name [name ...]

Numbers here are NOT bench-record comparable run-to-run across hosts
(no calibration), but before/after on the same quiet host is exactly
the bench delta.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grapefruit_spark.operators import all_queries  # noqa: E402
from grapefruit_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        args = args[1:]
    if not args:
        print(__doc__)
        return 2
    spark = get_spark("grapefruit-quicktime")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    from grapefruit_spark.catalog import TABLES, table

    for t in TABLES:
        table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    for name in args:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"quick_time:{name}")
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                best = min(best, runs[-1])
            print(
                f"{name:34s} {best:7.3f}s   (runs: "
                + " ".join(f"{r:.3f}" for r in runs)
                + ")"
            )
        except Exception as e:  # noqa: BLE001 — report, keep probing
            print(f"{name:34s} ERROR {type(e).__name__}: {e}")
        finally:
            spark.catalog.clearCache()
            # release pinned blocks exactly like bench.py's per-query sweep
            jsc = spark.sparkContext._jsc
            for rid in list(jsc.getPersistentRDDs().keySet().toArray()):
                jsc.sc().unpersistRDD(rid, False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
