"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB, compare row-count, schema
(column names), an order-insensitive value hash, AND per-column type
CLASSES.

The type-class compare exists because the driver fetches the oracle via
pandas/Arrow, where a DuckDB HUGEINT (the silent SUM(BIGINT) promotion)
renders as float64/decimal128 and breaks the driver's value hash even
when fetchall() values are identical — the root cause of every r1-r5
red row. A class mismatch here is therefore a FAIL even if the
fetchall-based value hash matches.

Usage: python tools/check_parity.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()[:16]


def _duck_class(t) -> str:
    s = str(t)
    if "HUGEINT" in s:
        return "HUGEINT"  # never legitimate — breaks the driver's hash
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("FLOAT", "DOUBLE"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s == "BOOLEAN":
        return "bool"
    if s == "VARCHAR":
        return "str"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s == "DATE":
        return "date"
    return f"other:{s}"


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.TimestampType):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    return f"other:{dt.simpleString()}"


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from grapefruit_spark.session import get_spark

    spark = get_spark("parity-check")
    if os.environ.get("SPARK_GRAFT_NO_BCAST") == "1":
        # 100 TB-shape rerun (r10, VERDICT_r9 #8): disable every
        # broadcast threshold so the unhinted scaling-table joins run
        # their shuffle-join plans — the hash gate then proves the
        # degraded plans are value-identical, not just that they exist
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        print("# SPARK_GRAFT_NO_BCAST=1: broadcast thresholds disabled", file=sys.stderr)
    elif os.environ.get("SPARK_GRAFT_BCAST_THRESHOLD"):
        # mixed-plan tier: a LOWERED threshold models the 100 TB shape
        # where customer/part/supplier outgrow broadcast but the
        # fixed-size nation/region dims still fit — AQE then mixes
        # shuffle joins (big sides) with broadcasts (tiny dims) in one
        # plan, the realistic cluster regime
        thr = os.environ["SPARK_GRAFT_BCAST_THRESHOLD"]
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", thr)
        print(f"# SPARK_GRAFT_BCAST_THRESHOLD={thr}", file=sys.stderr)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # isolate per-query failures: one crash must not kill the sweep
        import time as _time

        try:
            t0 = _time.perf_counter()
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            spark_s = _time.perf_counter() - t0
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows spark={spark_s:.2f}s")
            continue
        try:
            t0 = _time.perf_counter()
            rel = con.sql(oracles[name])
            drows = [tuple(r) for r in rel.fetchall()]
            duck_s = _time.perf_counter() - t0
            dcols = list(rel.columns)
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        ok_n = len(srows) == len(drows)
        ok_c = sorted(scols) == sorted(dcols)
        ok_h = ok_c and value_hash(srows, scols) == value_hash(drows, dcols)
        # type-class parity: a HUGEINT (or any class mismatch) renders
        # differently under the driver's pandas/Arrow fetch and breaks
        # its hash even when fetchall values agree
        stypes = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
        dtypes = {c: _duck_class(t) for c, t in zip(rel.columns, rel.types)}
        type_mismatch = [
            f"{c}:duck={dtypes[c]}/spark={stypes.get(c)}"
            for c in dtypes
            if dtypes[c] == "HUGEINT" or dtypes[c] != stypes.get(c)
        ]
        ok_t = not type_mismatch
        status = "OK" if (ok_n and ok_c and ok_h and ok_t) else "FAIL"
        print(f"{name:28s} {status}  rows={len(srows)}/{len(drows)} cols={'OK' if ok_c else (scols, dcols)} hash={'OK' if ok_h else 'MISMATCH'} types={'OK' if ok_t else type_mismatch} spark={spark_s:.2f}s duck={duck_s:.2f}s")
        if status == "FAIL":
            failures.append(name)
            if not ok_h and ok_c and ok_n:
                s = sorted(tuple(_canon(x) for x in r) for r in srows)
                d = sorted(tuple(_canon(x) for x in r) for r in drows)
                for a, b in zip(s, d):
                    if a != b:
                        print(f"   spark={a}\n   duck ={b}")
                        break
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
