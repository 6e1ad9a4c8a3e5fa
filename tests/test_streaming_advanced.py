"""Streaming depth: stream-static joins, checkpointed exactly-once
recovery across restarts, foreachBatch custom sinks."""

from __future__ import annotations

from pyspark.sql import functions as F

from grapefruit_spark.streaming import (
    run_file_sink,
    run_foreach_batch,
    stream_static_join,
)
from grapefruit_spark.streaming.events import EVENTS_DISK_SCHEMA

from .conftest import SF_DIR


def test_stream_static_join_matches_batch(spark):
    from grapefruit_spark.catalog import table
    from grapefruit_spark.streaming.events import run_to_memory

    got = run_to_memory(stream_static_join(spark, SF_DIR), "t_enrich", "append")
    ev = table(spark, SF_DIR, "events")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    want = ev.join(cust, ev.user_id == cust.c_custkey, "left").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def _write_chunk(spark, src_dir: str, id_offset: int, n: int) -> None:
    df = spark.range(n).select(
        (F.col("id") + id_offset).alias("event_id"),
        (F.lit(1704067200000000000) + F.col("id") * 60_000_000_000).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Two availableNow runs over an APPEND-growing source with one
    checkpoint: run 2 must pick up only the new files — no dupes, no loss."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_chunk(spark, src, 0, 100)
    stream = (
        spark.readStream.schema(EVENTS_DISK_SCHEMA).parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    run_file_sink(stream, out, ckpt)
    first = spark.read.parquet(out).count()
    assert first == 100

    _write_chunk(spark, src, 1000, 50)
    stream2 = (
        spark.readStream.schema(EVENTS_DISK_SCHEMA).parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    run_file_sink(stream2, out, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == 150
    assert final.select("event_id").distinct().count() == 150  # exactly once


def test_foreach_batch_custom_sink(spark, tmp_path):
    """foreachBatch feeding the Sdfs namespace (merge-style custom sink)."""
    from grapefruit_spark.sdfs import Sdfs
    from grapefruit_spark.streaming.events import read_event_stream

    fs = Sdfs(spark, str(tmp_path / "wh"))
    seen_epochs: list[int] = []

    def sink(batch_df, epoch_id: int) -> None:
        seen_epochs.append(epoch_id)
        agg = batch_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        fs.put(agg, f"events_agg_{epoch_id}")

    run_foreach_batch(read_event_stream(spark, SF_DIR), sink)
    assert seen_epochs
    total = sum(
        r["n"]
        for e in seen_epochs
        for r in fs.get(f"events_agg_{e}").collect()
    )
    assert total == spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_stream_stream_attribution_matches_batch(spark):
    """Stream-stream interval join over the bounded file stream produces
    exactly the batch join's pairs (watermarks long enough that nothing
    is dropped on this bounded input)."""
    from grapefruit_spark.streaming.events import (
        batch_attribution,
        stream_stream_attribution,
    )
    from grapefruit_spark.streaming.events import run_to_memory

    got = run_to_memory(
        stream_stream_attribution(spark, SF_DIR), "t_ss_attr", output_mode="append"
    )
    want = batch_attribution(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert len(w) > 0
    assert g == w


def test_stream_session_window_matches_batch(spark):
    """Native session windows on the bounded stream (complete mode) ==
    the batch session_window query on the same events."""
    from grapefruit_spark.operators.windows import events_session_window
    from grapefruit_spark.streaming.events import (
        run_to_memory,
        stream_session_window,
    )

    got = run_to_memory(
        stream_session_window(spark, SF_DIR), "t_sessionw", output_mode="complete"
    )
    want = events_session_window(spark, SF_DIR)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert want.count() > 0


def test_stream_dedup_exact_matches_batch_fingerprints(spark):
    """Streaming dropDuplicates keeps exactly one doc per distinct
    fingerprint (first arrival wins — doc choice may differ from the
    batch keep-min rule, the fingerprint SET must not)."""
    from grapefruit_spark.catalog import table
    from grapefruit_spark.functions import md5_fingerprint
    from grapefruit_spark.streaming.events import run_to_memory, stream_dedup_exact

    got = run_to_memory(stream_dedup_exact(spark, SF_DIR), "t_sdedup", "append")
    rows = got.collect()
    batch_fps = {
        r["fp"]
        for r in table(spark, SF_DIR, "documents")
        .select(md5_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert {r["fp"] for r in rows} == batch_fps
    assert len(rows) == len(batch_fps)  # exactly one survivor per fp


def test_stream_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    """At-least-once redelivery: the same events file lands twice (two
    microbatches); within the horizon each event_id survives once."""
    import shutil

    from grapefruit_spark.streaming.events import (
        run_to_memory,
        stream_dedup_within_watermark,
    )

    src = tmp_path / "redelivered"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events_redelivery.parquet")
    got = run_to_memory(
        stream_dedup_within_watermark(spark, str(src)), "t_wmdedup", "append"
    )
    n_unique = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    rows = got.collect()
    assert len(rows) == n_unique
    assert len({r["event_id"] for r in rows}) == n_unique


def test_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas final per-user stats == batch groupBy
    (RocksDB state store is required by the API; conf set per-query)."""
    import pytest

    from grapefruit_spark.catalog import table
    from grapefruit_spark.streaming.events import run_to_memory, stream_user_stats_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = run_to_memory(stream_user_stats_tws(spark, SF_DIR), "t_tws", "update")
        rows = got.collect()
    except Exception as e:  # pragma: no cover - env-dependent native dep
        pytest.skip(f"transformWithState unavailable in this env: {e}")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    # update mode may emit intermediate rows; last emission per user wins
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    ev = table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert final == want


def test_maintained_rollup_matches_batch(spark, tmp_path):
    """Incremental aggregate maintenance: two separate availableNow runs
    over a growing source, one checkpoint — the maintained table equals
    the batch aggregate over everything, each run reading only new files."""
    from grapefruit_spark.sdfs import Sdfs
    from grapefruit_spark.streaming.events import maintain_event_rollup

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    fs = Sdfs(spark, str(tmp_path / "wh"))

    _write_chunk(spark, src, 0, 120)
    maintain_event_rollup(spark, src, fs, "rollup", ckpt)
    assert fs.get("rollup").agg(F.sum("n_events")).first()[0] == 120

    _write_chunk(spark, src, 1000, 80)
    maintain_event_rollup(spark, src, fs, "rollup", ckpt)
    maintained = {
        (r["event_type"], r["hour"]): (r["n_events"], r["sum_value"])
        for r in fs.get("rollup").collect()
    }
    # decimal carry makes the maintained sum EXACT — compare bit-equal to
    # the one-shot batch aggregate, no rounding tolerance needed
    batch = (
        spark.read.parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("sum_value"),
        )
    )
    want = {
        (r["event_type"], r["hour"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert maintained == want
    assert sum(v[0] for v in maintained.values()) == 200


def _write_user_chunk(spark, src_dir: str, ts_offset_min: int, n: int, user: int | None) -> None:
    """Like _write_chunk but with a controllable user set: user=None keeps
    the id%7 rotation, otherwise every event belongs to `user`."""
    df = spark.range(n).select(
        (F.col("id") + ts_offset_min * 100).alias("event_id"),
        (F.lit(1704067200000000000) + (F.lit(ts_offset_min) * 60 + F.col("id") * 60) * 1_000_000_000).alias("ts"),
        (F.col("id") % 7 if user is None else F.lit(user)).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)


def test_sessions_ttl_timeout_evicts_idle_keys(spark, tmp_path):
    """Event-time timeout: users 0-6 go idle after chunk 1; two later
    chunks from a lone sentinel user advance the watermark past
    last_event + gap, so the 7 idle sessions are emitted closed_by=
    'timeout' and their state removed. The sentinel's own session stays
    open (never emitted)."""
    import time

    from grapefruit_spark.streaming.events import run_to_memory, stream_sessions_ttl

    src = str(tmp_path / "src")
    _write_user_chunk(spark, src, 0, 119, None)      # users 0..6, ts 0..118 min
    time.sleep(1.1)  # file-source batches order by mod time
    _write_user_chunk(spark, src, 1000, 2, 100)      # watermark driver #1
    time.sleep(1.1)
    _write_user_chunk(spark, src, 2000, 2, 100)      # batch 3: fires timeouts
    rows = run_to_memory(stream_sessions_ttl(spark, src), "t_ttl", "append").collect()

    closed = {r["user_id"]: r for r in rows}
    assert set(closed) >= set(range(7)), f"missing timeouts: {sorted(closed)}"
    per_user = {u: 0 for u in range(7)}
    for i in range(119):
        per_user[i % 7] += 1
    for u in range(7):
        r = closed[u]
        assert r["closed_by"] == "timeout"
        assert r["n_events"] == per_user[u]
        assert r["total_value"] == float(per_user[u])
    # sentinel sessions: chunk at +1000 min closed by the +2000 min gap;
    # the last one is still open and must NOT be emitted
    if 100 in closed:
        assert closed[100]["closed_by"] == "gap"
    assert all(r["user_id"] != 100 or r["start_us"] < 1704067200_000_000 + 2000 * 60_000_000 for r in rows)


def test_stateful_checkpoint_restart_continues_counts(spark, tmp_path):
    """GroupState survives a query restart: run 1 processes 100 events
    through a checkpoint, run 2 (same checkpoint) sees 50 MORE events for
    the same keys and must emit CONTINUED running counts, not reset ones
    — the parity claim for the reference re-scheduling a failed juice
    task against surviving SDFS state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from grapefruit_spark.streaming.events import (
        _SESSION_OUT_SCHEMA,
        _SESSION_STATE_SCHEMA,
        _event_stream,
        _session_update,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        ev = _event_stream(spark, src, "*.parquet")
        out = ev.groupBy("user_id").applyInPandasWithState(
            _session_update,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        rows: list = []

        def sink(batch_df, _epoch):
            rows.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {r["user_id"]: r for r in rows}

    _write_chunk(spark, src, 0, 100)      # users 0..6 via id%7
    first = run_once("t_restart1")
    assert sum(r["n_events"] for r in first.values()) == 100

    _write_chunk(spark, src, 1000, 50)    # 50 more for the same users
    second = run_once("t_restart2")
    # run 2 emits only keys touched by the new batch, with CONTINUED counts
    assert second, "restarted run must emit updated keys"
    for u, r in second.items():
        expected = sum(1 for i in range(100) if i % 7 == u) + sum(
            1 for i in range(50) if i % 7 == u
        )
        assert r["n_events"] == expected, (u, r["n_events"], expected)


def test_partitioned_stream_sink_prunes(spark, tmp_path):
    """Streaming ingest partitioned by event date: landing-zone layout
    must be hive-partitioned and a dated batch query over it must prune
    partitions (scan reads one date dir, not the zone)."""
    import os

    from grapefruit_spark.streaming.events import read_event_stream, run_file_sink

    out = str(tmp_path / "zone")
    ev = read_event_stream(spark, SF_DIR).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    run_file_sink(ev, out, str(tmp_path / "ck"), partition_by=["event_date"])
    dirs = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(dirs) > 1, f"expected hive layout, got {os.listdir(out)[:5]}"

    zone = spark.read.parquet(out)
    one_day = sorted(dirs)[0].split("=", 1)[1]
    q = zone.where(F.col("event_date") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # row-count equivalence: pruned read returns exactly that day's rows
    want = ev.where(F.col("event_date") == one_day)
    from grapefruit_spark.catalog import table
    batch = table(spark, SF_DIR, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    assert q.count() == batch.where(F.col("event_date") == one_day).count()


def _write_typed_chunk(spark, src_dir: str, id_offset: int, n: int) -> None:
    """Events with rotating types so transitions are non-trivial."""
    df = spark.range(n).select(
        (F.col("id") + id_offset).alias("event_id"),
        (F.lit(1704067200000000000) + (F.col("id") + id_offset) * 60_000_000_000).alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            ((F.col("id") % 3) + 1).cast("int"),
        ).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("append").parquet(src_dir)


def test_stream_markov_matches_batch_counts(spark, tmp_path):
    """Summed streaming transition deltas across two checkpointed runs ==
    batch lag-window transition counts over the union — including the
    chains that span the microbatch boundary (held in GroupState)."""
    import time

    from pyspark.sql.window import Window

    from grapefruit_spark.streaming.events import stream_markov_transitions

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    rows: list = []

    def run_once():
        q = (
            stream_markov_transitions(spark, src)
            .writeStream.foreachBatch(lambda b, e: rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    _write_typed_chunk(spark, src, 0, 60)
    run_once()
    time.sleep(1.1)
    _write_typed_chunk(spark, src, 60, 45)
    run_once()

    got: dict = {}
    for r in rows:
        k = (r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + r["n"]

    ev = spark.read.parquet(src)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r["prev_type"], r["event_type"]): r["n"] for r in batch}
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed counts finalize when the watermark passes the
    window end, and an event arriving AFTER its window was finalized (by
    more than the watermark delay) is dropped — the bounded-state
    contract that makes 100 TB/day ingest possible."""
    import time

    from grapefruit_spark.streaming.events import _event_stream

    src = str(tmp_path / "src")
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 00:00 UTC, nanos

    def write_file(rows):
        df = spark.createDataFrame(
            [
                (i, base_ns + int(m * 60) * 1_000_000_000, 1, "view", 1.0, "{}")
                for i, m in rows
            ],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # batch 1: three events in [00:00, 00:10) + one at 00:20 that pushes
    # the watermark to (20 - 5) = 00:15, past the first window's end
    write_file([(0, 1), (1, 2), (2, 3), (3, 20)])
    time.sleep(1.1)  # file source orders batches by mod time
    # batch 2: 00:40 advances the watermark to 00:35 — the [00:00, 00:10)
    # window EMITS (n=3) and its state is evicted during this batch
    write_file([(11, 40)])
    time.sleep(1.1)
    # batch 3: an event 33 min behind the watermark, for a window whose
    # state is gone. The guaranteed semantics: it is dropped — no second
    # emission for 00:00, no count bump.
    write_file([(10, 2)])

    ev = _event_stream(spark, src, "*.parquet", max_files_per_trigger=1)
    agg = (
        ev.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("t_late")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("t_late").collect()
    per_window: dict = {}
    for r in rows:
        per_window.setdefault(r["w_start"], []).append(r["n"])
    assert per_window.get("00:00") == [3], f"late event leaked: {per_window}"
    assert per_window.get("00:20") == [1], per_window


def test_stream_session_window_matches_batch_on_adversarial_events(
    spark, tmp_path_factory
):
    """Batch↔stream session parity on the ADVERSARIAL stream — duplicate
    timestamps and gaps landing exactly on the 1800 s boundary exercise
    the merge-at-boundary semantics through the STREAMING merge iterator,
    which the stock driver events never hit."""
    from grapefruit_spark.operators.windows import events_session_window
    from grapefruit_spark.streaming.events import (
        run_to_memory,
        stream_session_window,
    )

    from .test_rich_events_parity import _build_events

    d = tmp_path_factory.mktemp("adv_stream")
    # single FILE named events.parquet: the stream's pathGlobFilter
    # matches the file name, like the stock testdata layout
    _build_events(str(d / "events.parquet"))

    got = run_to_memory(
        stream_session_window(spark, str(d)), "t_adv_sessionw", output_mode="complete"
    )
    want = events_session_window(spark, str(d))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert want.count() > 0


def test_stream_markov_ties_on_duplicate_timestamps(spark, tmp_path):
    """Events sharing one timestamp must chain in event_id order on BOTH
    sides — pins the (ts, event_id) tie-break inside the GroupState
    update against the batch lag window."""
    import time

    from pyspark.sql.window import Window

    from grapefruit_spark.streaming.events import stream_markov_transitions

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    # every user gets 6 events ALL at the same instant: ordering is
    # carried entirely by event_id
    df = spark.range(30).select(
        F.col("id").alias("event_id"),
        F.lit(1704067200000000000).alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            ((F.col("id") % 3) + 1).cast("int"),
        ).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("append").parquet(src)

    rows: list = []
    q = (
        stream_markov_transitions(spark, src)
        .writeStream.foreachBatch(lambda b, e: rows.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()

    got: dict = {}
    for r in rows:
        k = (r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + r["n"]
    ev = spark.read.parquet(src)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r["prev_type"], r["event_type"]): r["n"] for r in batch}
    assert got == want and got
