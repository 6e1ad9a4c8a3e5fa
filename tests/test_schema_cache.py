"""The parquet schema cache behind ``catalog.read_parquet``: a repeated read
of an unchanged file plans without a Spark job; any change to the file's
identity or to an inference conf re-infers; SDFS writes seed the cache
with exactly the schema a fresh read would infer."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from grapefruit_spark import catalog
from grapefruit_spark.catalog import read_parquet, table
from grapefruit_spark.sdfs import Sdfs

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the number
    of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def conf(spark):
    """Set session confs for one test, restoring the old values after."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_second_table_read_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    first, n_first = _jobs(spark, lambda: table(spark, str(tmp_path), "documents"))
    second, n_second = _jobs(spark, lambda: table(spark, str(tmp_path), "documents"))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_cached_reads_are_independent_relations(spark, tmp_path):
    """Only the schema is shared: a self-join of two reads still resolves
    (fresh attribute ids), and each read prunes to its own projection."""
    path = str(tmp_path / "t")
    spark.range(5).withColumn("v", F.col("id") * 10).write.parquet(path)
    read_parquet(spark, path)
    a, b = read_parquet(spark, path), read_parquet(spark, path)
    joined = a.alias("a").join(b.alias("b"), F.col("a.id") == F.col("b.v") / 10)
    assert joined.count() == 5
    plan = b.select("v")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<v:bigint>" in plan


def test_overwrite_that_adds_a_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).withColumn("extra", F.lit("x")).write.mode("overwrite").parquet(path)
    got = read_parquet(spark, path)
    assert got.columns == ["id", "extra"]
    assert {r["extra"] for r in got.collect()} == {"x"}


def test_append_that_adds_files_is_seen(spark, tmp_path):
    """A new partition value that no longer parses as an int turns the
    partition column into a string: the append changed the schema."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 1), (2, 2)], "v long, p int").write.partitionBy("p").parquet(path)
    assert dict(read_parquet(spark, path).dtypes)["p"] == "int"
    spark.createDataFrame([(3, "x")], "v long, p string").write.mode("append") \
        .partitionBy("p").parquet(path)
    got, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs >= 1
    assert got.schema == spark.read.parquet(path).schema
    assert dict(got.dtypes)["p"] == "string"
    assert got.count() == 3


def test_nanos_as_long_toggle_changes_ts_dtype(spark, tmp_path, conf):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns")),
        "k": [1, 2],
    }), path)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    # not the cached bigint: this Spark cannot read TIMESTAMP(NANOS) as a
    # timestamp, and the cached path raises what a plain read raises
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as cached:
        read_parquet(spark, path)
    assert cached.value.getCondition() == plain.value.getCondition()
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"


def test_infer_timestamp_ntz_toggle_changes_ts_dtype(spark, tmp_path, conf):
    path = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000, 2_000_000], pa.timestamp("us"))}), path)
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp"


def test_missing_path_raises_as_before(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as cached:
        read_parquet(spark, missing)
    assert cached.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        table(spark, str(tmp_path), "documents")


def test_cache_holds_one_entry_per_path_of_the_live_session(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    catalog._schemas[("stopped-app", path)] = ((), None)
    for _ in range(3):
        read_parquet(spark, path)
    spark.range(4).write.mode("overwrite").parquet(path)
    read_parquet(spark, path)
    keys = [k for k in catalog._schemas if k[1] == os.path.abspath(path)]
    assert keys == [(spark.sparkContext.applicationId, os.path.abspath(path))]
    assert all(k[0] == spark.sparkContext.applicationId for k in catalog._schemas)


def test_concurrent_reads_and_rewrites(spark, tmp_path):
    """Threads reading files while others atomically replace them with a
    new column: every read sees one of the two schemas written, and the
    cache ends with one entry per path, matching the file."""
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    for p in paths:
        pq.write_table(pa.table({"id": [1, 2]}), p)
    allowed = {("id",), ("id", "extra")}
    seen: list = []

    def reader(k):
        for j in range(6):
            seen.append(tuple(read_parquet(spark, paths[(k + j) % 3]).columns))

    def writer(k):
        for j in range(3):
            p = paths[(k + j) % 3]
            pq.write_table(pa.table({"id": [1, 2], "extra": [j, j]}), p + f".{k}.tmp")
            os.replace(p + f".{k}.tmp", p)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(6)]
        threads += [threading.Thread(target=writer, args=(k,)) for k in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 36 and set(seen) <= allowed
    for p in paths:
        assert read_parquet(spark, p).columns == ["id", "extra"]
        assert len([k for k in catalog._schemas if k[1] == p]) == 1


def test_path_replaced_during_inference_is_inferred_again(spark, tmp_path, monkeypatch):
    """The race behind the concurrent test's flakes, made deterministic: the
    first inference fails because the file was replaced under it."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    stock = DataFrameReader.parquet
    calls = []

    def replaced_then_fails(self, *paths, **options):
        calls.append(paths)
        if len(calls) == 1:
            pq.write_table(pa.table({"id": [1, 2], "extra": [3, 4]}), path + ".tmp")
            os.replace(path + ".tmp", path)
            raise RuntimeError("is not a Parquet file. Expected magic number at tail")
        return stock(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", replaced_then_fails)
    assert read_parquet(spark, path).columns == ["id", "extra"]
    assert len(calls) == 2


def test_inference_error_on_an_unchanged_path_is_raised(spark, tmp_path):
    path = tmp_path / "t.parquet"
    path.write_bytes(b"not parquet at all")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_parquet(spark, str(path))


def _assert_seeded(spark, fs, name):
    """``get`` right after a write plans without a job, from a seeded
    schema equal to the one a fresh read infers."""
    got, n_jobs = _jobs(spark, lambda: fs.get(name))
    assert n_jobs == 0
    assert got.schema == spark.read.parquet(os.path.join(fs.warehouse, name)).schema


def test_sdfs_writes_seed_the_schema_fresh_inference_gives(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "a", 10.0, 0), (2, "b", 20.0, 1), (3, "c", 30.0, 1)],
        "k long not null, tag string, v double, p int not null",
    )
    fs.put(base, "t")
    _assert_seeded(spark, fs, "t")
    fs.put(base, "parts", partition_by=["p", "tag"])
    _assert_seeded(spark, fs, "parts")
    assert fs.get("parts").columns == ["k", "v", "p", "tag"]
    fs.merge("t", base.where("k = 2").withColumn("v", F.lit(21.0)), ["k"])
    _assert_seeded(spark, fs, "t")
    assert fs.compact("t", 2) <= 2
    _assert_seeded(spark, fs, "t")
    assert {(r["k"], r["v"]) for r in fs.get("t").collect()} == {(1, 10.0), (2, 21.0), (3, 30.0)}


def test_every_parquet_read_goes_through_the_cache():
    root = os.path.join(REPO, "grapefruit_spark")
    offenders = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".py") and p != os.path.join(root, "catalog.py"):
                with open(p) as fh:
                    if ".read.parquet(" in fh.read():
                        offenders.append(os.path.relpath(p, REPO))
    assert offenders == [], f"read parquet through catalog.read_parquet: {offenders}"
