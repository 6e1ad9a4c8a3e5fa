"""Command-line surface mirroring the reference's CLI.

Reference commands (README.md of /root/reference):
  maple / juice          → run a MapReduce stage over a dataset
  put / get / delete     → SDFS file ops
  ls / store / global    → namespace listings
  info / ls(members)     → node / membership introspection
  wordcount-style demos  → `demo` subcommand

Usage: python -m grapefruit_spark.cli <command> [...]
Each command maps onto the library APIs — the CLI is a thin shell so a
reference user keeps their muscle memory while Catalyst does the work.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="grapefruit", description=__doc__)
    p.add_argument("--warehouse", default="/tmp/grapefruit_warehouse")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("put", help="load a local file (parquet/csv/json/text) into the namespace")
    sp.add_argument("local")
    sp.add_argument("name")
    sp.add_argument("--fmt", default="parquet")

    sp = sub.add_parser("get", help="export a dataset to a local parquet path")
    sp.add_argument("name")
    sp.add_argument("local")

    sp = sub.add_parser("delete", help="delete a dataset")
    sp.add_argument("name")

    sp = sub.add_parser("ls", help="list part files of a dataset")
    sp.add_argument("name")

    sub.add_parser("store", help="list datasets in the namespace")
    sub.add_parser("global", help="namespace-wide dataset → part-count map")
    sub.add_parser("info", help="node/session info")
    sub.add_parser("members", help="executor membership list")

    sp = sub.add_parser("maple", help="run a maple (map) exe over a dataset")
    sp.add_argument("exe", help="python module:function mapping pandas df → (key,value) df")
    sp.add_argument("num_maples", type=int)
    sp.add_argument("out_name")
    sp.add_argument("src_name")
    sp.add_argument("--schema", default="key string, value string")

    sp = sub.add_parser("juice", help="run a juice (reduce) exe over a keyed dataset")
    sp.add_argument("exe")
    sp.add_argument("num_juices", type=int)
    sp.add_argument("src_name")
    sp.add_argument("out_name")
    sp.add_argument("--schema", default="key string, value string")
    sp.add_argument("--shuffle", choices=["hash", "range"], default="hash",
                    help="1=hash, 2=range in the reference CLI")
    sp.add_argument("--delete-input", action="store_true")

    sp = sub.add_parser("demo", help="run a named demo query at a scale dir")
    sp.add_argument("query")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sp.add_argument("--show", type=int, default=20)
    sp.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead of rows")
    return p


def _load_exe(spec: str):
    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn or "run")


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Run one CLI command, in ``spark`` if given. ``get_spark`` would
    re-apply its builder options (the app name among them) to a session
    that is already running, so a caller that shares its session passes it."""
    args = build_parser().parse_args(argv)
    from .cluster import info, members
    from .maplejuice import juice, maple
    from .sdfs import Sdfs
    from .session import get_spark
    from .sources import read_any

    spark = spark or get_spark("grapefruit-cli")
    fs = Sdfs(spark, args.warehouse)

    if args.cmd == "put":
        fs.put(read_any(spark, args.local, fmt=args.fmt), args.name)
    elif args.cmd == "get":
        fs.get(args.name).write.mode("overwrite").parquet(args.local)
    elif args.cmd == "delete":
        print(fs.delete(args.name))
    elif args.cmd == "ls":
        print("\n".join(fs.ls(args.name)))
    elif args.cmd == "store":
        print("\n".join(fs.store()))
    elif args.cmd == "global":
        print(json.dumps(fs.global_(), indent=2))
    elif args.cmd == "info":
        print(json.dumps(vars(info(spark)), indent=2))
    elif args.cmd == "members":
        print(json.dumps(members(spark), indent=2))
    elif args.cmd == "maple":
        # reference muscle memory: `maple <exe>` with a real program file
        # streams rows through it (rdd.pipe); module:function specs take
        # the Arrow-batched in-process path
        import os

        from .maplejuice import maple_pipe

        src = fs.get(args.src_name)
        if os.path.exists(args.exe.split()[0]):
            out = maple_pipe(src, args.exe)
        else:
            out = maple(src, _load_exe(args.exe), args.schema, args.num_maples)
        fs.put(out, args.out_name)
    elif args.cmd == "juice":
        import os

        from .maplejuice import juice_pipe

        src = fs.get(args.src_name)
        sink = dict(fs=fs, src_name=args.src_name, dest_name=args.out_name,
                    delete_input=args.delete_input)
        if os.path.exists(args.exe.split()[0]):
            if args.shuffle == "range":
                raise SystemExit("executable juice supports hash shuffle only")
            juice_pipe(src, args.exe, num_juices=args.num_juices, **sink)
        else:
            juice(
                src, _load_exe(args.exe), args.schema,
                num_juices=args.num_juices, shuffle=args.shuffle, **sink,
            )
    elif args.cmd == "demo":
        from .operators import all_queries

        df = all_queries()[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
