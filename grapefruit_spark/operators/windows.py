"""Events / time-series operators (SURVEY §2 block C, batch side).

Tumbling windows, gap sessionization, as-of join, JSON prop extraction.
The streaming twins (readStream + watermark) in grapefruit_spark.streaming
reuse the same transform fns so batch/stream parity is testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions import dec_sum

ORACLE: dict[str, str] = {}

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ------------------------------------------------------------------ C1
def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling window per event_type (shared by batch + stream).

    F.window keeps the agg streaming-compatible; batch Catalyst compiles
    it to the same partial-agg + single shuffle as date_trunc.
    """
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(table(spark, sf_dir, "events"))


ORACLE["events_tumbling"] = f"""
SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS window_start,
       event_type,
       count(*)                                       AS n_events,
       round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE  AS sum_value
FROM events
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ C2
GAP_MINUTES = 30


def sessionize(events: DataFrame, gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """Gap-based sessionization: a >gap pause starts a new session.

    Classic lag + cumulative-sum-of-breaks — one shuffle on user_id, all
    window work stays in that partitioning (both windows share the key).
    """
    from ..catalog import normalize_ts

    events = normalize_ts(events)  # idempotent: accepts ts as timestamp/ntz/bigint-ns
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    # exact integer microsecond math — no float boundary flips vs the oracle
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    with_break = events.withColumn(
        "is_new", F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    )
    sessioned = with_break.withColumn(
        "session_id",
        F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
            dec_sum("value").alias("session_value"),
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(table(spark, sf_dir, "events"))


ORACLE["events_sessionize"] = f"""
WITH marked AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {GAP_MINUTES * 60 * 1000000}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*)                                   AS n_events,
       strftime(min(ts), '{_TS_FMT_DUCK}')        AS session_start,
       strftime(max(ts), '{_TS_FMT_DUCK}')        AS session_end,
       round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def session_window_agg(events: DataFrame) -> DataFrame:
    """Gap sessionization via the NATIVE session_window operator — the
    streaming-capable twin of sessionize. Boundary semantics (verified
    empirically by the exact-gap case in tests/test_rich_events_parity):
    an event landing EXACTLY on the previous window end MERGES — sessions
    merge when next.start <= prev.end — so a new session starts only
    when the delta STRICTLY exceeds the gap.

    One shuffle on (user_id, merged session); Catalyst's
    UpdatingSessionsIterator merges in-partition — no lag/cumsum pass.
    Shared by the batch query and streaming.stream_session_window.
    """
    return (
        events.groupBy(
            F.session_window("ts", f"{GAP_MINUTES} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            F.date_format("w.end", _TS_FMT).alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(table(spark, sf_dir, "events"))


# session_window end = last event + gap. Spark's native session_window
# MERGES an event landing exactly on the previous window end (sessions
# merge when next.start <= prev.end), so a new session starts only when
# delta STRICTLY exceeds the gap — caught by the exact-boundary case in
# tests/test_rich_events_parity.py (a >= here over-splits).
ORACLE["events_session_window"] = f"""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {GAP_MINUTES * 60 * 1000000}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
)
SELECT user_id,
       strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL {GAP_MINUTES} MINUTE, '{_TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events,
       round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


# ------------------------------------------------------------------ C3
def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    payload: list[str],
) -> DataFrame:
    """Distributed as-of join (most recent right row with time ≤ left time).

    Union + last-non-null window — ONE shuffle on the key, no join
    explosion: the scalable shape of pandas.merge_asof. Right rows sort
    before left rows at equal times (inclusive match); ties inside the
    right side resolve to the greatest (time, payload) row via the sort.
    Payload travels as a struct so all matched columns come from the SAME
    right row.
    """
    lt = left.select(
        F.col(left_on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_lrow"),
        F.lit(None).cast(
            right.select(F.struct(*[right[c] for c in payload]).alias("s")).schema["s"].dataType
        ).alias("_rpay"),
    )
    rt = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(lt.schema["_lrow"].dataType).alias("_lrow"),
        F.struct(*[right[c] for c in payload]).alias("_rpay"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_is_left").asc(), F.col("_rpay").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        lt.unionByName(rt)
        .withColumn("_match", F.last("_rpay", ignorenulls=True).over(w))
        .where(F.col("_is_left") == 1)
        .select("_lrow.*", "_match.*")
    )


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event matched to the user's most recent order at event time."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev, orders,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload=["o_orderdate", "o_orderkey", "o_totalprice"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("ts"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


ORACLE["events_asof_join"] = f"""
WITH dedup AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
    FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                     ORDER BY o_orderkey DESC, o_totalprice DESC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '{_TS_FMT_DUCK}')          AS ts,
       o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d')       AS orderdate,
       round(o.o_totalprice, 2)                  AS o_totalprice
FROM events e
ASOF LEFT JOIN dedup o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


# ------------------------------------------------------------------ C26
def events_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session conversion: how many of a user's gap-defined
    sessions contain a purchase. Same single-shuffle lag + cumsum
    sessionization as C2, then two cheap aggregates (session roll-up,
    user roll-up) that reuse the user_id partitioning.
    """
    events = table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    sessioned = (
        events.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > GAP_MINUTES * 60 * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                Window.partitionBy("user_id").orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per_session = sessioned.groupBy("user_id", "session_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").alias("n_converted"),
        F.expr("(sum(converted) * 1000000L) div count(1)").alias("conv_ppm"),
    )


ORACLE["events_session_conversion"] = f"""
WITH marked AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {GAP_MINUTES * 60 * 1000000}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
),
per_session AS (
    SELECT user_id, session_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_sessions,
       sum(converted)::BIGINT AS n_converted,
       CAST((sum(converted) * 1000000) // count(*) AS BIGINT) AS conv_ppm
FROM per_session
GROUP BY user_id
"""


# ------------------------------------------------------------------ C21
def interval_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    point_ts: str,
    start: str,
    end: str,
    bin_seconds: int,
) -> DataFrame:
    """Point-in-interval join that never degenerates into a nested-loop.

    A raw range predicate (``p.ts BETWEEN i.start AND i.end``) with no
    usable equi-condition plans as BroadcastNestedLoopJoin / Cartesian —
    O(points × intervals) at any scale. Binning manufactures the equi
    key: points get their containing time bin, intervals explode to every
    bin they overlap, the join runs as an ordinary hash join on
    (keys…, bin), and the exact half-open containment
    (start ≤ ts < end) filters after. Each (point, interval) pair meets
    in exactly one bin (the point's), so no dedup is needed. Cost:
    one hash shuffle of points + intervals×⌈len/bin⌉ rows. Pick
    bin_seconds near the typical interval length so the explode factor
    stays ~2.
    """
    bs_us = F.lit(bin_seconds * 1_000_000)
    pb = points.withColumn("_bin", F.floor(F.unix_micros(F.col(point_ts)) / bs_us))
    # degenerate intervals (end ≤ start) can't contain any point, and an
    # INVERTED one would make sequence() emit a huge descending bin range
    # per row — drop them before the explode
    intervals = intervals.where(F.col(end) > F.col(start))
    ib = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start)) / bs_us),
                # half-open end: the bin of the last contained microsecond
                F.floor((F.unix_micros(F.col(end)) - 1) / bs_us),
            )
        ),
    )
    return (
        pb.join(ib, [*keys, "_bin"])
        .where((F.col(point_ts) >= F.col(start)) & (F.col(point_ts) < F.col(end)))
        .drop("_bin")
    )


ATTR_WINDOW_MIN = 30


def events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-purchase attribution: for every purchase, the count and value
    of the same user's *view* events in the preceding 30 minutes — the
    batch twin of the stream-stream interval join (C12), built on the
    binned interval join so the plan is hash joins only (asserted in
    tests/test_plans.py; the naive range join is a nested loop).
    """
    ev = table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {ATTR_WINDOW_MIN} MINUTES")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    matched = interval_join_binned(
        views, purchases,
        keys=["user_id"], point_ts="view_ts",
        start="w_start", end="w_end",
        bin_seconds=ATTR_WINDOW_MIN * 60,
    )
    attr = matched.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        dec_sum("view_value").alias("view_value"),
    )
    # left join back so purchases with zero preceding views still report
    return (
        purchases.select("purchase_id", "user_id")
        .join(attr, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce("n_views", F.lit(0)).alias("n_views"),
            F.coalesce("view_value", F.lit(0.0)).alias("view_value"),
        )
    )


ORACLE["events_purchase_attribution"] = f"""
WITH views AS (
    SELECT user_id, ts AS view_ts, value AS view_value
    FROM events WHERE event_type = 'view'
),
purchases AS (
    SELECT user_id, event_id AS purchase_id,
           ts - INTERVAL {ATTR_WINDOW_MIN} MINUTE AS w_start, ts AS w_end
    FROM events WHERE event_type = 'purchase'
),
attr AS (
    SELECT p.purchase_id, count(*) AS n_views,
           round(sum((v.view_value)::DECIMAL(38,6)), 2)::DOUBLE AS view_value
    FROM views v JOIN purchases p
      ON v.user_id = p.user_id AND v.view_ts >= p.w_start AND v.view_ts < p.w_end
    GROUP BY 1
)
SELECT p.purchase_id, p.user_id,
       coalesce(a.n_views, 0) AS n_views,
       coalesce(a.view_value, 0.0) AS view_value
FROM purchases p LEFT JOIN attr a USING (purchase_id)
"""


# ------------------------------------------------------------------ C-extra
def events_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + agg (semi-structured path: props is a JSON
    string column, '$.k' extracted JVM-side — no Python)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            # exact integer e4 mean. Both Spark `div` and DuckDB integer
            # `//` TRUNCATE toward zero (verified empirically: -7 // 2 is
            # -3 in DuckDB 1.0 — the old "DuckDB floors" premise behind
            # the former 2^31 positivity shift was wrong), so negative
            # sums agree with no correction. Numerator is bounded by
            # |sum(k)|*10^4 — no int64 overflow until |sum(k)| > ~9.2e14.
            F.expr("(sum(k) * 10000L) div nullif(count(k), 0L)").alias("avg_k_e4"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE["events_props_agg"] = """
SELECT event_type,
       CAST((sum(k) * 10000) // nullif(count(k), 0) AS BIGINT) AS avg_k_e4,
       sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_k,
       count(*) AS n
FROM (
    -- malformed-tolerant extraction: Spark's get_json_object yields NULL
    -- on invalid JSON / missing keys; DuckDB's ->> ERRORS on bad JSON,
    -- so gate through json_valid and TRY_CAST
    SELECT event_type,
           TRY_CAST((CASE WHEN json_valid(props) THEN props END)->>'$.k' AS INT) AS k
    FROM events
)
GROUP BY event_type
"""


def stream_sessions_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible STREAMING correctness row: the native session
    windows computed by an actual Structured Streaming query (file
    source → watermark → session_window merge iterator, availableNow,
    complete mode to a memory sink), returned as the final batch frame.

    Shares events_session_window's oracle, so the STREAMING execution
    path — incremental state, session merges across microbatches — is
    hash-checked against DuckDB, not just pytest-compared to batch.
    """
    from ..streaming.events import run_to_memory, stream_session_window

    return run_to_memory(
        stream_session_window(spark, sf_dir),
        "drv_stream_sessions",
        output_mode="complete",
    )


ORACLE["stream_sessions_sim"] = ORACLE["events_session_window"]


def stream_tumbling_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming tumbling aggregation (C4) under the
    batch events_tumbling oracle — same complete-mode drain device as
    stream_sessions_sim."""
    from ..streaming.events import run_to_memory, stream_tumbling

    return run_to_memory(
        stream_tumbling(spark, sf_dir),
        "drv_stream_tumbling",
        output_mode="complete",
    )


ORACLE["stream_tumbling_sim"] = ORACLE["events_tumbling"]


def stream_attribution_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible STREAM-STREAM interval join (C12): each click
    joined to the same user's views in the preceding 30 minutes, executed
    as an actual two-sided watermarked streaming join (inner matches emit
    as they pair; the availableNow drain captures all of them), then
    hash-checked against the equivalent batch SQL."""
    from ..streaming.events import run_to_memory, stream_stream_attribution

    res = run_to_memory(
        stream_stream_attribution(spark, sf_dir),
        "drv_stream_attr",
        output_mode="append",
    )
    return res.select(
        "c_user",
        "click_id",
        "view_id",
        F.date_format("view_ts", _TS_FMT).alias("view_ts"),
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
    )


# INTERVAL 30 MINUTE mirrors streaming.events.ATTRIBUTION_WINDOW — pinned
# by test_streaming_sims.test_attribution_window_constant
ORACLE["stream_attribution_sim"] = """
WITH views AS (
    SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
clicks AS (
    SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT c_user, click_id, view_id,
       strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM views JOIN clicks
  ON v_user = c_user
 AND view_ts <= click_ts
 AND view_ts >= click_ts - INTERVAL 30 MINUTE
"""


def stream_attribution_outer_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stream-stream LEFT OUTER interval join (the C12
    join's outer half): clicks with no preceding-30-minute view must
    emit exactly once with nulls — and only after the view-side
    watermark proves no match can still arrive. The events table lands
    as batch 1; batch 2 is one far-future sentinel view+click pair
    (impossible user −1, ids below every real id), which advances both
    side watermarks past every real click so the tail's outer rows
    flush. Oracle: the equivalent batch LEFT JOIN."""
    import tempfile
    import time as _time

    from ..streaming.events import (
        land_file,
        run_to_memory,
        stream_stream_attribution_outer,
    )

    ev = table(spark, sf_dir, "events")
    hi, lo_id = ev.agg(F.max(F.unix_micros("ts")), F.min("event_id")).first()
    sent_us = hi + 2 * 86_400 * 1_000_000
    sent_base = min(0, lo_id) - 1
    sentinels = spark.createDataFrame(
        [(sent_base - 1, -1, "view"), (sent_base - 2, -1, "click")],
        "event_id bigint, user_id bigint, event_type string",
    ).select(
        "event_id",
        F.timestamp_micros(F.lit(sent_us)).alias("ts"),
        "user_id",
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    now = _time.time()
    with tempfile.TemporaryDirectory(prefix="grapefruit_attr_outer_sim_") as src:
        land_file(ev, src, "b1.parquet", now - 100)
        land_file(sentinels, src, "b2.parquet", now - 50)
        out = run_to_memory(
            stream_stream_attribution_outer(
                spark, src, glob="*.parquet", max_files_per_trigger=1
            ),
            "drv_stream_attr_outer",
            output_mode="append",
        )
    return out.where(
        F.col("click_ts") < F.timestamp_micros(F.lit(sent_us))
    ).select(
        "c_user",
        "click_id",
        "view_id",
        F.date_format("view_ts", _TS_FMT).alias("view_ts"),
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
    )


ORACLE["stream_attribution_outer_sim"] = """
WITH views AS (
    SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
clicks AS (
    SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT c_user, click_id, view_id,
       strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM clicks LEFT JOIN views
  ON v_user = c_user
 AND view_ts <= click_ts
 AND view_ts >= click_ts - INTERVAL 30 MINUTE
"""


def stream_dedup_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible watermark-bounded ingest dedup (C14): the events
    table lands TWICE (an at-least-once source redelivering the whole
    file), forced into separate microbatches (maxFilesPerTrigger=1).
    dropDuplicatesWithinWatermark must admit each event exactly once —
    batch-2 copies younger than the watermark dedup against retained
    state; older ones fall to the late-data filter. Either branch keeps
    the output identical to the deduped source, so the oracle is simply
    the events table."""
    import tempfile
    import time as _time

    from ..streaming.events import (
        land_file,
        run_to_memory,
        stream_dedup_within_watermark,
    )

    # each delivery must be ONE whole-table file: if a delivery were
    # split across part files (multi-part directory layouts), the part
    # processed first would advance the watermark and a later part's
    # FIRST-delivery rows older than the horizon would be late-dropped —
    # the output would no longer equal the deduped source. land_file
    # collapses any layout to a single file with a controlled mtime.
    ev = table(spark, sf_dir, "events")
    now = _time.time()
    # the memory sink holds the drained rows: the frame reads no file
    with tempfile.TemporaryDirectory(prefix="grapefruit_wmdedup_sim_") as src:
        land_file(ev, src, "events_b1.parquet", now - 100)
        land_file(ev, src, "events_b2.parquet", now - 50)
        return run_to_memory(
            stream_dedup_within_watermark(spark, src, max_files_per_trigger=1),
            "drv_stream_wmdedup",
            output_mode="append",
        )


ORACLE["stream_dedup_sim"] = (
    "SELECT event_id, user_id, event_type, value FROM events"
)


def stream_rollup_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible incremental rollup maintenance (E6): the events
    table lands as two increments (even event_ids, then odd), each merged
    into the stored (event_type, hour) aggregate by maintain_event_rollup
    — two delta merges, never a history rescan. The decimal carry makes
    the maintained sum exact and merge-order-independent, so the oracle
    is the ONE-SHOT batch rollup over everything."""
    import os
    import tempfile

    from ..reliability import pin
    from ..sdfs import Sdfs
    from ..streaming.events import maintain_event_rollup

    ev = table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(prefix="grapefruit_rollup_sim_") as base:
        src = os.path.join(base, "src")
        ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
        ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        fs = Sdfs(spark, os.path.join(base, "wh"))
        maintain_event_rollup(
            spark, src, fs, "rollup_sim", os.path.join(base, "ckpt"),
            max_files_per_trigger=1,
        )
        out = fs.get("rollup_sim").select(
            "event_type",
            "hour",
            "n_events",
            F.round("sum_value", 2).cast("double").alias("sum_value"),
        )
        return pin(out)  # reads no file of the warehouse removed here


ORACLE["stream_rollup_sim"] = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*)                                      AS n_events,
       round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_ttl_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible state-TTL sessionization (C18): the events table
    lands as batch 1, then one far-future SENTINEL event per user as
    batch 2 — the sentinel gap-closes every user's open tail session, so
    the emitted set is deterministically ALL real sessions (closed_by =
    'gap'), independent of whether the engine runs a final timer-only
    batch (the sentinels' own sessions are filtered by start time either
    way). Oracle: one-shot gaps-and-islands SQL over the same events.
    total_value is deliberately not emitted — the stateful op sums
    python floats in arrival order, which no cross-engine hash should
    depend on; the value math is pytest-covered instead."""
    import tempfile
    import time as _time

    from ..streaming.events import land_file, run_to_memory, stream_sessions_ttl

    ev = table(spark, sf_dir, "events")
    hi, lo_id = ev.agg(F.max(F.unix_micros("ts")), F.min("event_id")).first()
    sent_us = hi + 2 * 86_400 * 1_000_000  # 2 days past the last event
    # sentinel event_ids live strictly BELOW every real id (and below 0):
    # a plain -user_id would collide with real ids for user_id 0 or any
    # dataset carrying negative ids, making the within-batch
    # (ts, event_id) tie-break ambiguous against a same-timestamp real
    # event. ZigZag-encode the user id (u≥0 → 2u, u<0 → −2u−1 — a
    # bijection ℤ→ℕ) so sentinels are ALSO unique across users: the
    # former abs(user_id) offset collided for a dataset carrying both
    # user u and user −u
    sent_base = min(0, lo_id) - 1
    zz = F.when(F.col("user_id") >= 0, 2 * F.col("user_id")).otherwise(
        -2 * F.col("user_id") - 1
    )
    sentinels = ev.select("user_id").distinct().select(
        (F.lit(sent_base) - zz).alias("event_id"),
        F.timestamp_micros(F.lit(sent_us)).alias("ts"),
        "user_id",
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    now = _time.time()
    with tempfile.TemporaryDirectory(prefix="grapefruit_ttl_sim_") as src:
        land_file(ev, src, "b1.parquet", now - 100)
        land_file(sentinels, src, "b2.parquet", now - 50)
        out = run_to_memory(
            stream_sessions_ttl(spark, src), "drv_ttl_sim", output_mode="append"
        )
    return out.where(F.col("start_us") < sent_us).select(
        "user_id", "n_events", "start_us", "end_us", "closed_by"
    )


# mirrors streaming.events.SESSION_TTL_GAP_MIN (30 min, in µs) — pinned
# by test_streaming_sims.test_ttl_gap_constant
_TTL_GAP_US = 30 * 60 * 1_000_000

ORACLE["stream_ttl_sim"] = f"""
WITH seq AS (
    SELECT user_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
    FROM events
),
marked AS (
    SELECT user_id, us,
           CASE WHEN prev_us IS NULL
                  OR us - prev_us > {_TTL_GAP_US} THEN 1
                ELSE 0 END AS is_new
    FROM seq
),
sess AS (
    SELECT user_id, us,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING
           ) AS sid
    FROM marked
)
SELECT user_id, count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       'gap' AS closed_by
FROM sess
GROUP BY user_id, sid
"""


def stream_state_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible applyInPandasWithState surface (C5): per-user
    running aggregates over the event stream; the final emission per
    user must equal the batch groupBy. Emits the integer count only —
    the stateful operator accumulates total_value as python floats in
    arrival order, which no cross-engine hash should depend on (the
    value math is pytest-covered)."""
    from ..streaming.events import run_to_memory, stream_sessionize_stateful

    out = run_to_memory(
        stream_sessionize_stateful(spark, sf_dir),
        "drv_state_sim",
        output_mode="update",
    )
    # update mode re-emits a user on every batch that touches it; the
    # final (max) count is the converged state
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


ORACLE["stream_state_sim"] = (
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id"
)


QUERIES = {
    "events_tumbling": events_tumbling,
    "stream_ttl_sim": stream_ttl_sim,
    "stream_state_sim": stream_state_sim,
    "events_sessionize": events_sessionize,
    "events_session_window": events_session_window,
    "stream_sessions_sim": stream_sessions_sim,
    "stream_tumbling_sim": stream_tumbling_sim,
    "stream_attribution_sim": stream_attribution_sim,
    "stream_attribution_outer_sim": stream_attribution_outer_sim,
    "stream_dedup_sim": stream_dedup_sim,
    "stream_rollup_sim": stream_rollup_sim,
    "events_asof_join": events_asof_join,
    "events_purchase_attribution": events_purchase_attribution,
    "events_session_conversion": events_session_conversion,
    "events_props_agg": events_props_agg,
}
