from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grapefruit_spark.operators.windows import tumbling_agg
from grapefruit_spark.sources import read_any, write_any
from grapefruit_spark.streaming import (
    read_event_stream,
    stream_sessionize_stateful,
    stream_tumbling,
)
from grapefruit_spark.streaming.events import run_to_memory

from .conftest import SF_DIR


# ---------------------------------------------------------------- streaming
def test_stream_tumbling_matches_batch(spark):
    """Bounded stream through the SAME transform == batch result
    (complete mode emits every window)."""
    from grapefruit_spark.catalog import table

    stream_out = run_to_memory(
        stream_tumbling(spark, SF_DIR), "t_tumbling", output_mode="complete"
    )
    batch_out = tumbling_agg(table(spark, SF_DIR, "events"))
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch_out.collect()}
    assert got == want and len(want) > 0


def test_stream_stateful_running_counts(spark):
    """applyInPandasWithState final per-user counts == batch groupBy."""
    from grapefruit_spark.catalog import table

    out = run_to_memory(
        stream_sessionize_stateful(spark, SF_DIR), "t_stateful", output_mode="update"
    )
    # update mode may emit a row per microbatch per user; keep the last (max n)
    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    )
    got = {r["user_id"]: r["n_events"] for r in final}
    want = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_DIR, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_stream_source_schema(spark):
    s = read_event_stream(spark, SF_DIR)
    assert s.isStreaming
    assert dict(s.dtypes)["ts"] == "timestamp"


# ---------------------------------------------------------------- sources
@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_roundtrip_formats(spark, tmp_path, fmt):
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    path = str(tmp_path / f"ds_{fmt}")
    write_any(df, path, fmt=fmt)
    back = read_any(spark, path, fmt=fmt, schema="id bigint, k bigint, v double")
    assert back.count() == 50
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_text_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("hello",), ("world",)], ["value"])
    path = str(tmp_path / "txt")
    write_any(df, path, fmt="text")
    assert {r["value"] for r in read_any(spark, path, fmt="text").collect()} == {"hello", "world"}


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("part"))
    path = str(tmp_path / "parts")
    write_any(df, path, partition_by=["part"])
    scan = read_any(spark, path).where(F.col("part") == 2)
    assert scan.count() == 25
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # partition filter handled at scan, not as a post-filter
    assert "PartitionFilters: [" in plan and "part" in plan.split("PartitionFilters")[1][:120]


def test_dynamic_partition_overwrite(spark, tmp_path, monkeypatch):
    """The dynamic mode is a per-write option: the write sets no session
    conf, so a concurrent static overwrite by another client stays static."""
    from pyspark.sql.conf import RuntimeConfig

    path = str(tmp_path / "dyn")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "part"])
    write_any(base, path, partition_by=["part"])
    patch = spark.createDataFrame([(99, "b")], ["id", "part"])
    sets = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, key, value: sets.append(key))
    write_any(patch, path, partition_by=["part"], mode="overwrite", dynamic_overwrite=True)
    monkeypatch.undo()
    assert sets == []
    got = {(r["id"], r["part"]) for r in read_any(spark, path).collect()}
    assert got == {(1, "a"), (99, "b")}  # partition 'a' untouched


def test_bad_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        read_any(spark, str(tmp_path), fmt="xml")


def test_orc_roundtrip(spark, tmp_path):
    """ORC is a first-class columnar format: write, read back, pushdown."""
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    path = str(tmp_path / "orc_data")
    write_any(df, path, fmt="orc")
    back = read_any(spark, path, fmt="orc").where(F.col("k") == 3)
    assert back.count() == df.where(F.col("k") == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan


def test_avro_gated_with_clear_error(spark, tmp_path):
    """avro is declared but this runtime lacks the module — the error
    must say so instead of a raw ClassNotFound."""
    df = spark.range(3)
    try:
        write_any(df, str(tmp_path / "a"), fmt="avro")
    except RuntimeError as e:
        assert "spark-avro" in str(e)
    else:  # environments that DO bundle spark-avro: roundtrip must work
        back = read_any(spark, str(tmp_path / "a"), fmt="avro")
        assert back.count() == 3


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a later writer adds a column; mergeSchema reads
    the union schema with nulls for pre-evolution files."""
    from grapefruit_spark.sources.io import read_any, write_any

    p = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    write_any(v1, p, mode="overwrite")
    v2 = spark.createDataFrame([(2, "b", 0.5)], "id long, name string, score double")
    write_any(v2, p, mode="append")

    merged = read_any(spark, p, mergeSchema="true")
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 0.5


def test_json_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE json ingest: bad lines land in _corrupt_record instead
    of failing the job — the resilience mode a multi-TB raw-text ingest
    runs in (FAILFAST would abort on one bad row)."""
    from grapefruit_spark.sources.io import read_any

    src = tmp_path / "raw.json"
    src.write_text('{"id": 1, "v": "ok"}\n{BROKEN\n{"id": 3, "v": "also ok"}\n')
    df = read_any(
        spark,
        str(src),
        fmt="json",
        schema="id long, v string, _corrupt_record string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and "BROKEN" in bad[0]["_corrupt_record"]


def test_write_sorted_gives_disjoint_file_ranges(spark, tmp_path):
    """Clustered layout: sorted-write files own disjoint key ranges
    (footer stats prove scans can skip); a round-robin write overlaps."""
    import glob

    import pyarrow.parquet as pq

    from grapefruit_spark.sources.io import write_sorted

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id", "event_id")

    def file_ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # user_id
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    sorted_path = str(tmp_path / "clustered")
    write_sorted(ev, sorted_path, ["user_id"], n_files=4)
    ranges = sorted(file_ranges(sorted_path))
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges → file-level skipping

    plain_path = str(tmp_path / "roundrobin")
    ev.repartition(4).write.mode("overwrite").parquet(plain_path)
    pranges = sorted(file_ranges(plain_path))
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(pranges, pranges[1:]) if h1 > l2)
    assert overlaps > 0  # the unclustered layout can't skip


def test_write_zorder_tightens_both_dimensions(spark, tmp_path):
    """Z-ordered layout: per-file min/max spans must shrink on BOTH
    interleaved columns vs a round-robin write (multi-dim skipping),
    while a single-column sort only serves its leading column."""
    import glob

    import pyarrow.parquet as pq

    from grapefruit_spark.sources.io import write_zorder

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    def avg_span(path, col_idx):
        spans = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append(max(maxs) - min(mins))
        return sum(spans) / len(spans)

    zpath = str(tmp_path / "zordered")
    write_zorder(li, zpath, ["l_partkey", "l_suppkey"], n_files=8)
    plain = str(tmp_path / "plain")
    li.repartition(8).write.mode("overwrite").parquet(plain)

    # schema column order is preserved by write_zorder (drop _z)
    for idx in (0, 1):  # l_partkey, l_suppkey
        assert avg_span(zpath, idx) < 0.7 * avg_span(plain, idx), (
            f"column {idx} span not tightened by z-order"
        )
    # row count unchanged
    assert spark.read.parquet(zpath).count() == li.count()
