"""Streaming twins of the batch events operators.

The batch transforms (windows.tumbling_agg) are reused verbatim on a
readStream DataFrame — same Catalyst plan shape, plus watermark-bounded
state. At cluster scale the file source becomes Kafka; everything
downstream is unchanged.

Watermark semantics note (pinned by test_watermark_drops_late_events):
the watermark computed from batch N's data takes effect in batch N+1,
and append-mode emission/eviction of a finalized window happens in that
later batch — so a late row arriving in the SAME batch as the eviction
can still merge. The guarantee is one-sided: data later than the
threshold is dropped once the window's state is evicted, never
re-emitted as a duplicate. Size watermarks for the guarantee, not the
best-effort filter.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: historical on-disk schema of events.parquet (ts was TIMESTAMP(NANOS) →
#: long under spark.sql.legacy.parquet.nanosAsLong). Kept for tests that
#: synthesize bigint-ns stream input; production readers infer the schema
#: from the landed files instead (see _event_stream).
EVENTS_DISK_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def _event_stream(
    spark: SparkSession,
    path: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build a file-source events stream whose schema matches whatever the
    writer actually produced. A streaming source needs a declared schema up
    front, so we footer-read the already-landed files with a batch scan (a
    metadata-only operation) and declare THAT — then route the ts column
    through catalog.normalize_ts so bigint-nanos, timestamp_ntz, and zoned
    timestamp encodings all normalize to one session-zoned TIMESTAMP.
    Testdata generations have shipped all three (VERDICT r3).

    Both on-disk layouts of a wildcard-free ``glob`` work: when the
    named table is a DIRECTORY of part files (every normal writer), the
    stream reads that child directory directly — a pathGlobFilter would
    silently match nothing against the part file names; when it is a
    single FILE (the driver testdata layout), the parent-dir +
    pathGlobFilter mode applies, since a streaming source's basePath
    must be a directory."""
    import os

    from pyspark.sql.types import StructType

    from ..catalog import normalize_ts

    if (
        "*" not in glob
        and "?" not in glob
        and os.path.isdir(os.path.join(path, glob))
    ):
        path = os.path.join(path, glob)
        glob = None
    static = spark.read
    if glob is not None:
        static = static.option("pathGlobFilter", glob)
    ts_field = static.parquet(path).schema["ts"]
    # Canonical wide types for every column except ts (parquet upcasts
    # int→bigint etc. under a declared schema, but inference can pick a
    # narrow type from one file and then fail on another); only the ts
    # encoding genuinely varies, so splice the inferred ts dtype into the
    # canonical schema.
    schema = StructType.fromDDL(EVENTS_DISK_SCHEMA)
    schema = StructType(
        [ts_field if f.name == "ts" else f for f in schema.fields]
    )
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_ts(reader.parquet(path))


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file per microbatch
    discovery; glob keeps it to the events file)."""
    return _event_stream(spark, sf_dir, "events.parquet")


def stream_tumbling(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked streaming version of windows.tumbling_agg.

    The watermark bounds window state: at 100 TB/day ingest, state holds
    only windows younger than the watermark horizon instead of growing
    unboundedly.
    """
    from ..operators.windows import tumbling_agg

    return tumbling_agg(read_event_stream(spark, sf_dir).withWatermark("ts", watermark))


def stream_session_window(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked NATIVE session windows on the stream — the same
    session_window_agg transform as the batch query (C13). State holds
    only open sessions younger than the watermark horizon; merges happen
    incrementally as events arrive."""
    from ..operators.windows import session_window_agg

    return session_window_agg(
        read_event_stream(spark, sf_dir).withWatermark("ts", watermark)
    )


#: on-disk schema of documents.parquet
DOCS_DISK_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (ingest-pipeline shape:
    each newly landed file becomes a microbatch)."""
    return (
        spark.readStream.schema(DOCS_DISK_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup at ingest: dropDuplicates on the normalized
    content fingerprint — first arrival wins, duplicates never reach the
    sink. State is one row per distinct fingerprint; with an event-time
    column, dropDuplicatesWithinWatermark bounds it to the late-data
    horizon (the 100 TB/day configuration)."""
    from ..functions import md5_fingerprint

    docs = read_document_stream(spark, sf_dir)
    return (
        docs.withColumn("fp", md5_fingerprint(F.col("text")))
        .dropDuplicates(["fp"])
        .select("doc_id", "fp")
    )


_SESSION_STATE_SCHEMA = "n bigint, total double"
_SESSION_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _session_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user aggregate via explicit GroupState (the
    applyInPandasWithState custom-stateful-operator surface, C5)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op: per-user running counts with
    applyInPandasWithState. State is per-key and partition-local — scales
    linearly with distinct users, not events."""
    ev = read_event_stream(spark, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _session_update,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_MARKOV_STATE_SCHEMA = "last_type string"
_MARKOV_OUT_SCHEMA = "user_id bigint, prev_type string, next_type string, n bigint"


def _markov_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Incremental per-user transition counting: chain this batch's
    time-ordered events onto the stored last event type, emit the batch's
    (prev, next) pair counts, store the new tail. The streaming twin of
    the batch Markov estimator — the model updates per microbatch instead
    of rescanning history."""
    parts = [pdf for pdf in pdfs if len(pdf)]
    if not parts:
        return
    rows = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    rows = rows.sort_values(["ts", "event_id"])
    types = list(rows["event_type"])
    prev = state.get[0] if state.exists else None
    counts: dict[tuple, int] = {}
    for t in types:
        if prev is not None:
            counts[(prev, t)] = counts.get((prev, t), 0) + 1
        prev = t
    state.update((prev,))
    if counts:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(counts),
                "prev_type": [p for p, _ in counts],
                "next_type": [n for _, n in counts],
                "n": list(counts.values()),
            }
        )


def stream_markov_transitions(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Per-user transition-count deltas over the event stream
    (applyInPandasWithState; state = one row per user holding the last
    seen event type). Summing emissions over time reproduces the batch
    events_markov_transitions counts — asserted in tests AND by the
    driver-gated stream_markov_sim, including chains that span
    microbatch boundaries. Assumes the source delivers microbatches in
    event-time order per user (file source ordered by mod time;
    out-of-order WITHIN a batch is handled by the sort)."""
    ev = _event_stream(
        spark, src_dir, "*.parquet", max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "ts", "event_id", "event_type")
    return ev.groupBy("user_id").applyInPandasWithState(
        _markov_update,
        outputStructType=_MARKOV_OUT_SCHEMA,
        stateStructType=_MARKOV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_TTL_GAP_MIN = 30  # inactivity gap that closes a session

_TTL_STATE_SCHEMA = "n bigint, total double, start_us bigint, last_us bigint"
_TTL_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, "
    "start_us bigint, end_us bigint, closed_by string"
)


def _sessions_ttl_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Gap sessionizer with EXPIRING state: a session closes either when a
    later event for the key arrives past the gap ('gap'), or — the part
    only a timeout can do — when the key goes idle and the event-time
    watermark passes last_event + gap ('timeout'). Idle keys therefore
    cost zero state: at 100 TB/day with billions of users, state tracks
    ACTIVE sessions only, not the user universe."""
    gap_us = SESSION_TTL_GAP_MIN * 60 * 1_000_000
    cols = ["user_id", "n_events", "total_value", "start_us", "end_us", "closed_by"]
    out: list[tuple] = []
    if state.hasTimedOut:
        n, total, start_us, last_us = state.get
        out.append((key[0], n, total, start_us, last_us, "timeout"))
        state.remove()
        yield pd.DataFrame(out, columns=cols)
        return
    runs: list[list] = []  # [n, total, start_us, last_us]
    if state.exists:
        n, total, start_us, last_us = state.get
        runs.append([n, total, start_us, last_us])
    ev: list[tuple[int, float]] = []
    for pdf in pdfs:
        us = (pdf["ts"].astype("int64") // 1000).tolist()
        ev.extend(zip(us, pdf["value"].astype(float).tolist()))
    for us, val in sorted(ev):
        if runs and us - runs[-1][3] <= gap_us:
            r = runs[-1]
            r[0] += 1
            r[1] += val
            r[3] = max(r[3], us)
        else:
            runs.append([1, val, us, us])
    for n, total, start_us, last_us in runs[:-1]:
        out.append((key[0], n, total, start_us, last_us, "gap"))
    n, total, start_us, last_us = runs[-1]
    state.update((n, total, start_us, last_us))
    state.setTimeoutTimestamp((last_us + gap_us) // 1000)  # epoch millis
    yield pd.DataFrame(out, columns=cols)


def stream_sessions_ttl(
    spark: SparkSession, src_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Custom stateful sessionization with state TTL (C5 deepened): emits
    one row per CLOSED session; open sessions live in per-key GroupState
    with an event-time timeout at last_event + gap, so abandoned keys are
    evicted and emitted the moment the watermark clears them."""
    ev = (
        _event_stream(spark, src_dir, "*.parquet", max_files_per_trigger=1)
        .withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessions_ttl_update,
        outputStructType=_TTL_OUT_SCHEMA,
        stateStructType=_TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the customer
    dim — no stream state, the canonical dimension-enrichment shape.

    The static side is UNHINTED (r10): customer scales with SF, so the
    planner picks broadcast per microbatch from the parquet relation's
    size stats while it fits the threshold, and degrades to a per-batch
    shuffle join at 100 TB — a forced hint would OOM the executors there.
    """
    from ..catalog import read_parquet

    ev = read_event_stream(spark, sf_dir)
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    return ev.join(cust, ev.user_id == cust.c_custkey, "left").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )


ATTRIBUTION_WINDOW = "30 minutes"


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    views in the preceding 30 minutes (click attribution).

    Both sides carry watermarks so Spark can expire join state — the
    interval condition (view_ts ∈ [click_ts − 30 min, click_ts]) bounds
    how long a buffered view can still match, which is what makes the
    state finite at an unbounded ingest rate. The canonical shape for
    joining two event firehoses without a static side.
    """
    views = (
        read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
    ).select("c_user", "click_id", "view_id", "view_ts", "click_ts")


def stream_stream_attribution_outer(
    spark: SparkSession,
    src_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — with
    its matching preceding-30-minute views when they exist, or ONCE with
    nulls after the watermark proves no view can still arrive.

    The inner variant (stream_stream_attribution) emits matches as they
    pair; the outer side adds the semantics that make streaming outer
    joins subtle: an unmatched click may NOT emit immediately (a
    matching view could still be in flight), so Spark holds it in join
    state and releases the null-padded row only when the view-side
    watermark passes the click's match window. State stays bounded by
    the same watermark + interval condition as the inner join.

    Bounded-replay callers must push the watermark past the final
    clicks (e.g. a far-future sentinel batch) or the tail's outer rows
    stay buffered — see stream_attribution_outer_sim.
    """
    views = (
        _event_stream(spark, src_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        _event_stream(spark, src_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return clicks.join(
        views,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        ),
        "leftOuter",
    ).select("c_user", "click_id", "view_id", "view_ts", "click_ts")


def batch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_stream_attribution (same join semantics on the
    static events table) — the streaming test asserts set-equality."""
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
    ).select("c_user", "click_id", "view_id", "view_ts", "click_ts")


def run_file_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
) -> None:
    """Append-mode parquet sink with a checkpoint — exactly-once file
    output; restarting with the same checkpoint resumes at the last
    committed offset (no reprocessing, no duplicates).

    ``partition_by`` lays the landed files out hive-partitioned (the
    ingest-side half of partition pruning: a stream partitioned by event
    hour/date lets every downstream batch query prune to its window
    instead of listing the whole landing zone)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    q.awaitTermination()


def run_foreach_batch(
    stream_df: DataFrame, sink, checkpoint_dir: str | None = None
) -> None:
    """foreachBatch escape hatch: hand each microbatch (a normal batch
    DataFrame + epoch id) to arbitrary sink logic, e.g. an Sdfs upsert.
    With a checkpoint dir, restarts resume at the last committed offset —
    the incremental-maintenance contract."""
    w = stream_df.writeStream.foreachBatch(sink)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()


ROLLUP_KEYS = ("event_type", "hour")


def maintain_event_rollup(
    spark: SparkSession,
    src_dir: str,
    fs,
    name: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Incrementally maintained rollup: the (event_type, hour) aggregate
    is UPDATED from each newly landed file instead of recomputed from the
    full history — at 100 TB of history, each increment touches only the
    new data plus the (tiny) stored aggregate.

    Measures are re-aggregatable (counts/sums merge by addition; an avg
    would be carried as sum+count). The value sum is carried as
    DECIMAL(38,6): an incrementally maintained double sum would depend on
    the merge ORDER (which increment landed first), so the stored table
    would drift from the one-shot batch aggregate by accumulation order —
    decimal addition is exact and associative, making the maintained
    table bit-equal to a full recompute no matter how ingestion was
    sliced. The stored table swap is write-new → atomic rename, so
    readers never see a half-merged state; the stream checkpoint makes
    increments exactly-once across restarts.
    """
    ev = _event_stream(
        spark, src_dir, "*.parquet", max_files_per_trigger=max_files_per_trigger
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        delta = (
            batch_df.groupBy(
                "event_type", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                # (18,6) addends stay long-backed in codegen (see
                # functions.dec_sum); the sum widens exactly
                F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
            )
        )
        if fs.exists(name):
            merged = (
                fs.get(name).unionByName(delta)
                .groupBy("event_type", "hour")
                .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
            )
        else:
            merged = delta
        # stable stored schema across increments (sum-of-decimal widens
        # per merge otherwise, and unionByName would reject the drift)
        merged = merged.withColumn(
            "sum_value", F.col("sum_value").cast("decimal(38,6)")
        )
        # put writes beside and swaps the new generation in: readers never
        # see a half-written table, and ``merged`` (which reads the stored
        # table) is never overwritten mid-plan
        fs.put(merged, name)

    run_foreach_batch(ev, sink, checkpoint_dir)


def land_file(df: DataFrame, src_dir: str, name: str, mtime: float) -> None:
    """Materialize ``df`` as ONE plain parquet file ``src_dir/name`` with
    an explicit mtime — the deterministic way to stage a multi-batch
    file-source replay (FileStreamSource discovers files oldest-mtime
    first; same-millisecond writes would otherwise order arbitrarily)."""
    import glob as globmod
    import os
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory(prefix="grapefruit_land_") as stage:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = globmod.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.makedirs(src_dir, exist_ok=True)
        dest = os.path.join(src_dir, name)
        shutil.move(part, dest)
    os.utime(dest, (mtime, mtime))


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a bounded stream into an in-memory table (availableNow) and
    return the result as a batch DataFrame — the batch/stream parity
    harness used by tests.

    The memory sink registers its table as a session temp view. Here the
    view's name is unique per call and the view is dropped once the
    returned frame has resolved it, so concurrent calls with the same
    ``name`` never read each other's output and the session keeps no
    view."""
    import uuid

    view = f"{name}_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(view)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    out = spark.table(view)
    spark.catalog.dropTempView(view)
    return out


def stream_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event dedup with BOUNDED state: dropDuplicatesWithinWatermark on
    event_id — a duplicate delivery (at-least-once sources re-send) is
    dropped while its original is younger than the watermark horizon,
    and the state row expires afterward. The production-shape of
    exactly-once event ingest: state size tracks the horizon, not the
    stream's lifetime. ``max_files_per_trigger`` forces multi-microbatch
    replay (the redelivery-across-batches scenario)."""
    # wider glob than read_event_stream: redelivered copies land as new
    # files (events_*.parquet) and must flow through the dedup
    ev = _event_stream(
        spark, sf_dir, "events*.parquet", max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", horizon)
    return ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )


try:
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStatsProcessor(StatefulProcessor):
        """StatefulProcessor for transformWithStateInPandas (the Spark 4
        arbitrary-stateful API succeeding applyInPandasWithState):
        per-user running count/total in a typed ValueState cell."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, float(total)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

except ImportError:  # API not present on this build
    UserStatsProcessor = None  # type: ignore[assignment]


def stream_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via transformWithStateInPandas — same
    semantics as stream_sessionize_stateful but on the successor API
    (typed state cells, timers, RocksDB-backed state store)."""
    if UserStatsProcessor is None:
        raise NotImplementedError("transformWithStateInPandas not available")
    ev = read_event_stream(spark, sf_dir)
    return ev.groupBy("user_id").transformWithStateInPandas(
        UserStatsProcessor(),
        outputStructType=_SESSION_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
