from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from grapefruit_spark.maplejuice import (
    MapleJuicePipeline,
    juice,
    juice_agg,
    maple,
    maple_expr,
)
from grapefruit_spark.operators import mapreduce_apps
from grapefruit_spark.sdfs import Sdfs
from grapefruit_spark.session import apply_engine_confs

from .conftest import SF_DIR
from .util import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(mapreduce_apps.ORACLE))
def test_app_matches_oracle(spark, duck, name):
    sdf = mapreduce_apps.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(sdf, duck, mapreduce_apps.ORACLE[name])


@pytest.mark.parametrize("shuffle", ["hash", "range"])
def test_maple_juice_generic(spark, shuffle):
    df = spark.createDataFrame(
        [("a b a",), ("b c",), ("a",)], ["text"]
    )

    def m(pdf: pd.DataFrame) -> pd.DataFrame:
        words = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": words, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"word": [key], "cnt": [int(grp["value"].sum())]})

    kv = maple(df, m, "key string, value int", num_maples=3)
    out = juice(kv, j, "word string, cnt bigint", shuffle=shuffle, num_juices=2)
    got = {r["word"]: r["cnt"] for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_declarative_fast_path(spark):
    df = spark.range(100)
    kv = maple_expr(df, key=(F.col("id") % 3), value=F.col("id"))
    out = juice_agg(kv, F.sum("value").alias("total"))
    got = {r["key"]: r["total"] for r in out.collect()}
    assert got[0] == sum(i for i in range(100) if i % 3 == 0)
    # declarative path stays in codegen — no Python evaluation in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_pipeline_chaining(spark):
    df = spark.createDataFrame([("x y",), ("y",)], ["text"])

    def m(pdf):
        w = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": w, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = (
        MapleJuicePipeline(df)
        .maple(m, "key string, value int")
        .juice(j, "key string, value int")
        # second stage: filter keys seen ≥ 1 time, re-reduce (chaining)
        .juice(j, "key string, value int", shuffle="range")
        .done()
    )
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"x": 1, "y": 2}


def test_juice_rejects_bad_shuffle(spark):
    df = spark.createDataFrame([("a", 1)], ["key", "value"])
    with pytest.raises(ValueError, match="shuffle"):
        juice(df, lambda k, g: None, "key string", shuffle="zigzag")


def test_sdfs_roundtrip(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh"))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    fs.put(df, "numbers")
    assert fs.exists("numbers")
    assert fs.store() == ["numbers"]
    assert len(fs.ls("numbers")) >= 1
    got = fs.get("numbers")
    assert got.count() == 10
    assert fs.global_()["numbers"] == len(fs.ls("numbers"))
    assert fs.delete("numbers") is True
    assert fs.store() == []
    with pytest.raises(FileNotFoundError):
        fs.get("numbers")
    with pytest.raises(ValueError):
        fs.put(df, "../escape")


def test_sdfs_partitioned_put(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh2"))
    df = spark.range(20).withColumn("bucket", (F.col("id") % 2).cast("int"))
    fs.put(df, "bucketed", partition_by=["bucket"])
    got = fs.get("bucketed").where(F.col("bucket") == 1)
    assert got.count() == 10


def test_sdfs_rewrites_keep_hive_partitioning(spark, tmp_path):
    """merge and compact rewrite a partitioned dataset partitioned: the
    ``p=*`` directories survive, rows and values are unchanged, and
    ls/global_ count the part files inside the partition directories."""
    wh = tmp_path / "wh9"
    fs = Sdfs(spark, str(wh))
    schema = "k long, v double, p int"
    base = spark.createDataFrame([(k, float(k), k % 3) for k in range(30)], schema)
    fs.put(base.repartition(4), "t", partition_by=["p"])
    updates = spark.createDataFrame([(1, 100.0, 1), (30, 30.0, 0)], schema)
    fs.merge("t", updates, ["k"])
    expected = {(k, float(k), k % 3) for k in range(31)} - {(1, 1.0, 1)} | {(1, 100.0, 1)}

    def check() -> None:
        assert sorted(e for e in os.listdir(wh / "t") if "=" in e) == ["p=0", "p=1", "p=2"]
        assert {(r["k"], r["v"], r["p"]) for r in fs.get("t").collect()} == expected
        parts = fs.ls("t")
        assert parts and all(os.path.basename(os.path.dirname(f)).startswith("p=") for f in parts)
        assert fs.global_() == {"t": len(parts)}

    check()
    assert fs.compact("t", 2) == 3  # one file per partition directory
    check()
    assert fs.get("t").columns == ["k", "v", "p"]


def test_pipe_wordcount_matches_declarative(spark, tmp_path):
    """The reference's arbitrary-executable contract end-to-end: a real
    mapper/reducer pair of external python programs, hadoop-streaming
    line protocol, hash-shuffled sorted reduce."""
    import sys

    from grapefruit_spark.catalog import table
    from grapefruit_spark.functions import ws_tokens
    from grapefruit_spark.maplejuice import juice_pipe, maple_pipe

    mapper = tmp_path / "wc_maple.py"
    mapper.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(f'{w}\\t1')\n"
    )
    reducer = tmp_path / "wc_juice.py"
    reducer.write_text(
        "import sys\n"
        "cur, acc = None, 0\n"
        "def flush():\n"
        "    if cur is not None:\n"
        "        print(f'{cur}\\t{acc}')\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n"
        "        flush(); cur, acc = k, 0\n"
        "    acc += int(v)\n"
        "flush()\n"
    )

    docs = table(spark, SF_DIR, "documents").select("text")
    kv = maple_pipe(docs, f"{sys.executable} {mapper}")
    out = juice_pipe(kv, f"{sys.executable} {reducer}", num_juices=4)
    got = {r["key"]: int(r["value"]) for r in out.collect()}

    want = {
        r["w"]: r["n"]
        for r in docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_sdfs_compact_small_files(spark, tmp_path):
    """Compaction heals a fragmented dataset: same rows, target file count."""
    from grapefruit_spark.catalog import table

    fs = Sdfs(spark, str(tmp_path / "wh"))
    docs = table(spark, SF_DIR, "documents")
    fs.put(docs.repartition(16), "frag")
    assert len(fs.ls("frag")) == 16
    n_files = fs.compact("frag", 2)
    assert n_files == 2
    got = fs.get("frag")
    assert got.count() == docs.count()
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


def test_pipeline_delete_input_reclaims_intermediate(spark, tmp_path):
    """Materialized maple→juice chaining with delete_input=1: the juice
    output lands in the SDFS namespace BEFORE the consumed intermediate
    is deleted, and afterwards the intermediate is gone — the reference's
    `juice ... delete_input={0,1}` contract (JuiceJob.java:12)."""
    fs = Sdfs(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("x y",), ("y",)], ["text"])

    def m(pdf):
        w = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": w, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = (
        MapleJuicePipeline(df, fs=fs)
        .maple(m, "key string, value int", dest_name="wc_inter")
        .juice(j, "key string, value int", dest_name="wc_out", delete_input=True)
        .done()
    )
    assert {r["key"]: r["value"] for r in out.collect()} == {"x": 1, "y": 2}
    assert not fs.exists("wc_inter"), "delete_input must reclaim the intermediate"
    assert fs.exists("wc_out")
    # lazy mode refuses the flag instead of silently ignoring it
    with pytest.raises(ValueError, match="delete_input"):
        MapleJuicePipeline(df).maple(m, "key string, value int").juice(
            j, "key string, value int", delete_input=True
        )


def test_juice_fn_delete_input(spark, tmp_path):
    """Same contract on the bare juice() entry point."""
    from grapefruit_spark.maplejuice import juice

    fs = Sdfs(spark, str(tmp_path / "wh2"))
    kv = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["key", "value"])
    fs.put(kv, "inter")

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = juice(
        fs.get("inter"), j, "key string, value bigint",
        fs=fs, src_name="inter", dest_name="dest", delete_input=True,
    )
    assert {r["key"]: r["value"] for r in out.collect()} == {"a": 3, "b": 3}
    assert not fs.exists("inter")


def test_sdfs_merge_upsert(spark, tmp_path):
    """MERGE semantics: updated keys replaced, new keys inserted,
    untouched keys preserved; merge into a missing dataset creates it."""
    fs = Sdfs(spark, str(tmp_path / "wh3"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, tag string, v double"
    )
    fs.merge("t", base, ["k"])  # create-on-missing
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "k long, tag string, v double"
    )
    fs.merge("t", updates, ["k"])
    got = {r["k"]: (r["tag"], r["v"]) for r in fs.get("t").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_sdfs_auto_compact_policy(spark, tmp_path):
    """Only fragmented datasets get rewritten; healthy ones untouched."""
    fs = Sdfs(spark, str(tmp_path / "wh4"))
    frag = spark.range(100).repartition(24)
    fs.put(frag, "fragmented")
    fs.put(spark.range(100).repartition(2), "healthy")
    before_healthy = fs.ls("healthy")
    done = fs.auto_compact(max_files=16, target_files=4)
    assert set(done) == {"fragmented"}
    assert done["fragmented"] <= 4
    assert fs.ls("healthy") == before_healthy
    assert fs.get("fragmented").count() == 100


def test_sdfs_merge_empty_updates_is_noop(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh5"))
    base = spark.createDataFrame([(1, 10.0)], "k long, v double")
    fs.put(base, "t")
    fs.merge("t", base.where("k < 0"), ["k"])  # empty update set
    assert {(r["k"], r["v"]) for r in fs.get("t").collect()} == {(1, 10.0)}


def test_sdfs_compact_leaves_no_working_dirs(spark, tmp_path):
    """compact swaps through ``__retired`` like put and merge: the data
    reads back complete and no ``<name>__*`` directory is left behind."""
    wh = tmp_path / "wh6"
    fs = Sdfs(spark, str(wh))
    fs.put(spark.range(1000).repartition(12), "t")
    assert fs.compact("t", 3) == 3
    got = fs.get("t")
    assert got.count() == 1000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(1000))
    assert sorted(os.listdir(wh)) == ["t"]


def test_sdfs_merge_keeps_every_row_of_a_repeated_key(spark, tmp_path):
    """An update batch that repeats a key: the stored rows of that key are
    dropped once, and every update row is kept (survivors ∪ updates)."""
    fs = Sdfs(spark, str(tmp_path / "wh7"))
    schema = "k long, v double"
    fs.put(spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], schema), "t")
    updates = spark.createDataFrame([(2, 20.0), (2, 21.0), (4, 40.0), (4, 41.0)], schema)
    fs.merge("t", updates, ["k"])
    got = sorted((r["k"], r["v"]) for r in fs.get("t").collect())
    assert got == [(1, 1.0), (2, 20.0), (2, 21.0), (3, 3.0), (4, 40.0), (4, 41.0)]


def test_sdfs_hides_internal_dirs(spark, tmp_path):
    """A leftover working directory of a crashed operation is not a
    dataset: not listed, not compacted, not addressable by name."""
    wh = tmp_path / "wh8"
    fs = Sdfs(spark, str(wh))
    fs.put(spark.range(10), "t")
    for leftover in ("t__retired", "t__merging", "u__putting", "u__compacting"):
        spark.range(40).repartition(20).write.parquet(str(wh / leftover))
    assert fs.store() == ["t"]
    assert fs.global_() == {"t": len(fs.ls("t"))}
    assert fs.auto_compact(max_files=16, target_files=4) == {}
    assert len(os.listdir(wh / "t__retired")) > 16
    for bad in ("t__retired", "x__merging", "x__putting", "x__compacting"):
        with pytest.raises(ValueError):
            fs.get(bad)
        with pytest.raises(ValueError):
            fs.put(spark.range(1), bad)


def _codecs(files: list[str]) -> set[str]:
    """Every column chunk's compression codec across ``files``."""
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for col in range(md.num_columns):
                codecs.add(md.row_group(rg).column(col).compression)
    return codecs


def test_sdfs_writes_zstd(spark, tmp_path):
    """put, merge and compact each write every column chunk with zstd."""
    fs = Sdfs(spark, str(tmp_path / "wh10"))
    schema = "k long, tag string, v double"
    rows = [(k, f"t{k % 7}", k / 3) for k in range(200)]
    fs.put(spark.createDataFrame(rows, schema).repartition(6), "t")
    assert _codecs(fs.ls("t")) == {"ZSTD"}
    fs.merge("t", spark.createDataFrame([(1, "u", 0.5), (500, "n", 1.5)], schema), ["k"])
    assert _codecs(fs.ls("t")) == {"ZSTD"}
    assert fs.compact("t", 2) == 2
    assert _codecs(fs.ls("t")) == {"ZSTD"}
    assert fs.get("t").count() == 201


def test_handed_in_session_gets_the_codec(spark, tmp_path):
    """A session built elsewhere (the ``__spark_entry__`` contract) writes
    zstd once ``apply_engine_confs`` has run on it."""
    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "snappy")
        apply_engine_confs(spark)
        out = str(tmp_path / "handed_in")
        spark.range(100).withColumn("s", F.col("id").cast("string")).write.parquet(out)
        files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
        assert files and _codecs(files) == {"ZSTD"}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
