from __future__ import annotations

import os
import sys

import duckdb
import pytest

# the checkout these tests live in, not an installed or other copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grapefruit_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("grapefruit-tests", master="local[4]")
    yield spark
    spark.stop()  # also removes the accumulator server's /tmp socket file


def session_state(spark) -> dict:
    """What one client of a shared session could see another write: the
    SQL confs, the catalog's tables and temp views, and whether any data
    is cached."""
    return {
        "confs": spark.conf.getAll,
        "tables": sorted(t.name for t in spark.catalog.listTables()),
        "cache_empty": spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    }


#: ``session_state`` just before and just after ``registry_frames`` builds
REGISTRY_BUILD_STATE: dict[str, dict] = {}


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Every registered query's DataFrame at sf0.001, built once for the
    whole-registry sweeps (``test_oracle_types`` and ``test_plans``).

    Building is not plan-only: eager query functions run Spark jobs
    before they return (see ``test_no_hugeint_and_type_class_parity``),
    and leave 13-14 MB in ~45 pinned RDDs, 9 of them the results of sims
    that stage files (``test_sim_storage``). The sweeps read only schemas and
    plans, so those blocks are released here rather than held for the
    rest of the session; a frame that read one would fail. The session
    state around the build is kept in ``REGISTRY_BUILD_STATE``."""
    from grapefruit_spark.operators import all_queries

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    REGISTRY_BUILD_STATE["before"] = session_state(spark)
    frames = {name: fn(spark, SF_DIR) for name, fn in all_queries().items()}
    REGISTRY_BUILD_STATE["after"] = session_state(spark)
    for rdd_id in set(jsc.getPersistentRDDs().keySet()) - before:
        jsc.sc().unpersistRDD(rdd_id, False)
    return frames


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
