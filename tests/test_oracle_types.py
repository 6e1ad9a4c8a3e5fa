"""Cross-engine result-TYPE parity gate.

Root cause of every driver hash failure in rounds 1-5: DuckDB promotes
``SUM(BIGINT)`` to HUGEINT (and integer-division chains over such sums
stay HUGEINT), while Spark's sum stays bigint. The driver's compare
fetches the oracle via pandas/Arrow, where HUGEINT renders as float64
("123.0") or decimal128 — so the value hash diverges even when every
value is numerically identical. A fetchall()-based local check sees
Python ints on both sides and cannot catch it.

This test walks every registered oracle at sf0.001 and asserts, per
result column:
  1. no HUGEINT/UHUGEINT ever escapes an oracle (cast to BIGINT at the
     emission site instead), and
  2. the DuckDB type CLASS (int/float/decimal/bool/str/ts/date/...)
     matches the Spark query's schema class for the same column.

DuckDB binding (`rel.types`) executes no data, and reading `df.schema`
launches no Spark job. Building the Spark frames does: 83 of the 216
builds launch jobs, in the eager query functions (streaming sims, pins,
iterative fits) and in the first read of each table (schema inference).
At sf0.001 in a local[4] session on a 4-vCPU VM, building all 216 took
141-156 s, 130-143 s of it in those 83, which ran 721 jobs (streaming
micro-batches not counted). The slowest: stream_attribution_outer_sim
~12 s, stream_ttl_sim ~9 s, stream_attribution_sim ~8 s,
jaccard_clusters and ingest_pipeline_sim ~7 s. The frames come from the
session fixture ``registry_frames``, built once and shared with
``test_plans.test_no_row_udfs_anywhere``.
"""

from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import types as T

from grapefruit_spark.operators import _modules, all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck_class(t: object) -> str:
    s = str(t)
    if "HUGEINT" in s:
        return "HUGEINT"
    if s in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
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


def _spark_class(dt: T.DataType) -> str:
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


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_a_registry_module_that_fails_to_import_is_an_error(monkeypatch):
    """A broken module must fail the registry, not silently drop its
    queries from all_queries() and every test that iterates it."""
    monkeypatch.setitem(sys.modules, "grapefruit_spark.operators.scale", None)
    with pytest.raises(ImportError):
        all_queries()


def test_every_module_query_is_registered_once():
    """No name is defined by two modules (the second would silently
    replace the first), and every oracle belongs to a registered query."""
    queries = all_queries()
    assert len(queries) == sum(len(mod.QUERIES) for mod in _modules())
    for mod in _modules():
        assert set(mod.ORACLE) <= set(queries), mod.__name__


def test_no_hugeint_and_type_class_parity(registry_frames, duck):
    """One sweep over every oracle: would have caught every red driver
    row the project has ever had (all were HUGEINT emissions)."""
    problems: list[str] = []
    for name, sql in sorted(all_oracles().items()):
        rel = duck.sql(sql)  # binding only — no execution
        dtypes = {c: _duck_class(t) for c, t in zip(rel.columns, rel.types)}
        for col, cls in dtypes.items():
            if cls == "HUGEINT":
                problems.append(f"{name}.{col}: oracle emits HUGEINT (cast to BIGINT)")
        sdf = registry_frames[name]
        stypes = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
        if set(dtypes) != set(stypes):
            problems.append(
                f"{name}: column sets differ duck={sorted(dtypes)} spark={sorted(stypes)}"
            )
            continue
        for col in dtypes:
            if dtypes[col] != "HUGEINT" and dtypes[col] != stypes[col]:
                problems.append(
                    f"{name}.{col}: duck class {dtypes[col]} != spark class {stypes[col]}"
                )
    assert not problems, "\n".join(problems)


def test_building_the_registry_leaves_the_shared_session_unchanged(registry_frames):
    """Clients share one session, so building a query must not write state
    another client's query reads: every SQL conf, the temp views and the
    empty cache are as they were before the whole registry was built
    (``scale_skew_sim``'s catalog tables are not temp views)."""
    from .conftest import REGISTRY_BUILD_STATE

    before, after = REGISTRY_BUILD_STATE["before"], REGISTRY_BUILD_STATE["after"]
    changed = {
        k: (before["confs"].get(k), after["confs"].get(k))
        for k in before["confs"].keys() | after["confs"].keys()
        if before["confs"].get(k) != after["confs"].get(k)
    }
    for k in ("temp_views", "cache_empty"):
        if before[k] != after[k]:
            changed[k] = (before[k], after[k])
    assert changed == {}, f"session state changed by the build (before, after): {changed}"
