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


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
