"""Event-log analytics (SURVEY §2 C8-C11): funnel, cohort retention,
heavy hitters, value histogram.

The product-analytics queries an events pipeline serves once data is in a
warehouse — the reference's demo apps (WebGraph in-link counting,
`/root/reference/app/WebGraph.java`) are the degenerate single-stage form
of these: filter → count-by-key. Each one here is a single scan with one
aggregation shuffle; the funnel's step ordering is per-user min-timestamp
chaining (conditional aggs), not a self-join — at 100 TB a 3-way
event-table self-join is the classic anti-pattern this module avoids.

Timestamps: `catalog.table` normalizes events.ts to microseconds;
comparisons use epoch-microsecond integers so Spark and DuckDB agree
exactly (no double rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import dec_sum, md5_hash60, md5_hash60_sql

ORACLE: dict[str, str] = {}

_US = F.unix_micros


# ------------------------------------------------------------------ C8
FUNNEL_STEPS = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: per user, step k counts only
    if it happens strictly after the user's qualifying step k-1.

    One groupBy(user) with conditional min-timestamp aggregates, then a
    global roll-up — two tiny shuffles, no self-join. The strict-order
    semantics follow the reference's Condorcet staging (stage k consumes
    stage k-1 output, app/Win1.java → Win2.java).
    """
    ev = table(spark, sf_dir, "events")
    ev2 = ev.select("user_id", "event_type", _US("ts").alias("us"))
    steps = ev2.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1")
    )
    j = ev2.join(steps, "user_id")
    steps2 = j.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("us") > F.col("t1")), F.col("us"))
        ).alias("t2"),
    )
    j2 = ev2.join(steps2, "user_id")
    steps3 = j2.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("us") > F.col("t2")), F.col("us")
            )
        ).alias("t3"),
    )
    return steps3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t1").isNotNull().cast("int")).alias("step_view"),
        F.sum(F.col("t2").isNotNull().cast("int")).alias("step_click"),
        F.sum(F.col("t3").isNotNull().cast("int")).alias("step_purchase"),
    )


ORACLE["events_funnel"] = """
WITH s1 AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY 1
), s2 AS (
  SELECT e.user_id, any_value(s1.t1) AS t1,
         min(CASE WHEN e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
                  THEN epoch_us(e.ts) END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1
), s3 AS (
  SELECT e.user_id, any_value(s2.t1) AS t1, any_value(s2.t2) AS t2,
         min(CASE WHEN e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
                  THEN epoch_us(e.ts) END) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1
)
SELECT count(*) AS n_users,
       sum((t1 IS NOT NULL)::INT)::BIGINT AS step_view,
       sum((t2 IS NOT NULL)::INT)::BIGINT AS step_click,
       sum((t3 IS NOT NULL)::INT)::BIGINT AS step_purchase
FROM s3
"""


# ------------------------------------------------------------------ C9
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted as retained in each later week they reappear.

    Two aggregation shuffles on user_id-ish keys (first-seen, then
    cohort×week distinct users). At scale the distinct is the cost — it
    shuffles (cohort, week, user) once; no windowing over raw events.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            ((F.unix_micros("wk") - F.unix_micros("cohort_wk")) / F.lit(604800000000))
            .cast("int")
            .alias("weeks_since"),
        )
        .distinct()
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


ORACLE["events_retention"] = """
WITH wk AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events
), first AS (
  SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1
)
SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
       ((epoch_us(wk.wk) - epoch_us(cohort_wk)) / 604800000000)::INT AS weeks_since,
       count(DISTINCT wk.user_id) AS n_users
FROM wk JOIN first ON wk.user_id = first.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------------------------------------------------------------ C10
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-10 users by event count with traffic share —
    groupBy + scalar-total broadcast + TakeOrdered (no global sort)."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = per_user.agg(F.sum("n_events").alias("total"))
    return (
        per_user.join(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            # integer ppm: exact bigint math on both engines (no double
            # round() whose last ulp can differ cross-engine)
            F.expr("(n_events * 1000000L) div total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )


ORACLE["events_heavy_hitters"] = """
WITH per_user AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
)
SELECT user_id, n_events,
       CAST((n_events * 1000000) // (SELECT sum(n_events) FROM per_user)
            AS BIGINT) AS share_ppm
FROM per_user
ORDER BY n_events DESC, user_id
LIMIT 10
"""


# ------------------------------------------------------------------ C11
N_BUCKETS = 20


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type: bucket index from the
    global min/max (broadcast single-row bounds), one agg shuffle."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    b = (
        F.least(
            F.lit(N_BUCKETS - 1),
            F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / N_BUCKETS)),
        )
        .cast("int")
        .alias("bucket")
    )
    return (
        ev.join(F.broadcast(bounds))
        .select("event_type", b, "value")
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
        .orderBy("event_type", "bucket")
    )


ORACLE["events_histogram"] = f"""
WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT event_type,
       least({N_BUCKETS - 1},
             floor((value - lo) / ((hi - lo) / {N_BUCKETS})))::INT AS bucket,
       count(*) AS n, round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE AS sum_value
FROM events, bounds
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile: first/last seen, active days, events,
    value total — the standard user-dimension build from an event log.
    One shuffle (groupBy user); distinct-day count rides the same agg.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("total_value"),
    )


ORACLE["events_user_lifetime"] = """
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       count(DISTINCT ts::DATE) AS active_days,
       count(*) AS n_events,
       round(sum((value)::DECIMAL(38,6)), 2)::DOUBLE AS total_value
FROM events
GROUP BY user_id
"""


ANOM_TRAIL = 24  # trailing hours
ANOM_Z = 2.0


def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomaly detection per event_type: flag hours
    whose count deviates ≥ 2σ from the trailing-24h mean.

    Two shuffles total (hourly rollup, then a window per event_type over
    the SMALL rollup — hours × types, not raw events). Moments come from
    trailing sum/sum-of-squares in one window pass — the same closed form
    both engines evaluate exactly.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-ANOM_TRAIL, -1)
    )
    cnt = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    mean = s / cnt
    var = (ss - s * s / cnt) / (cnt - 1)
    # every window expression evaluates over the FULL hourly frame (all
    # columns in one select, filters strictly after). Zero-variance
    # windows are excluded on BOTH sides: under ANSI x/0 throws here,
    # DuckDB would yield inf — and a flat baseline has no σ to score by.
    # filter on the UNROUNDED z (identical double both engines) and emit
    # floor(z·10³) — deterministic where round()'s half-rule isn't
    z = (F.col("n") - F.col("trail_mean")) / F.sqrt(F.col("trail_var"))
    return (
        hourly.select(
            "event_type",
            "hour",
            "n",
            cnt.alias("trail_n"),
            mean.alias("trail_mean"),
            var.alias("trail_var"),
        )
        .where((F.col("trail_n") >= 12) & (F.col("trail_var") > 0))
        .select("event_type", "hour", "n", z.alias("z"))
        .where(F.abs(F.col("z")) >= ANOM_Z)
        .select(
            "event_type", "hour", "n", F.floor(F.col("z") * 1000).alias("zscore_e3")
        )
    )


ORACLE["events_rate_anomaly"] = f"""
WITH hourly AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           count(*) AS n
    FROM events GROUP BY 1, 2
),
scored AS (
    SELECT event_type, hour, n,
           count(*) OVER w AS trail_n,
           sum(n) OVER w / count(*) OVER w AS trail_mean,
           (sum(n * n) OVER w - sum(n) OVER w * sum(n) OVER w / count(*) OVER w)
               / (count(*) OVER w - 1) AS trail_var
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN {ANOM_TRAIL} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n,
       CAST(floor((n - trail_mean) / sqrt(trail_var) * 1000) AS BIGINT) AS zscore_e3
FROM scored
WHERE trail_n >= 12 AND trail_var > 0
  AND abs((n - trail_mean) / sqrt(trail_var)) >= {ANOM_Z}
"""


# ------------------------------------------------------------------ C31
#: CUSUM allowance (slack per observation) = mean/2; alarm threshold =
#: 3×mean. Both derived from the per-type mean so the detector is
#: scale-free across event types with very different base rates.
CUSUM_K_DIV = 2
CUSUM_H_MULT = 3


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection on hourly event volume per
    event_type (Page 1954) — the drift detector that catches a SUSTAINED
    small rate shift the per-hour z-score (events_rate_anomaly) misses,
    because CUSUM accumulates evidence across hours instead of testing
    each hour in isolation.

    The textbook recursion S_t = max(0, S_{t-1} + y_t) is not a window
    aggregate, but its closed form is: with W_t the running prefix sum
    of deviations y_t, S_t = W_t − min(0, min_{j≤t} W_j) — so the whole
    detector is two window passes (running sum, running min) over the
    hourly rollup, sharing one event_type partitioning. Everything is
    INTEGER micro-units: y_t = n·10⁶ − μ_e6 − k_e6 with μ_e6 the
    bigint-div per-type mean, allowance k = μ/2, alarm at S ≥ 3μ — no
    float fold order to drift cross-engine.

    Scale: shuffle 1 is the map-side-combined hourly rollup (moves
    (type,hour) partials, never raw events); shuffle 2 re-partitions the
    ROLLED-UP frame (types × hours rows) for the windows. Gaps (hours
    with zero events) are absent from the rollup by construction; the
    CUSUM runs over observed hours, which biases it conservative —
    missing hours contribute no positive drift.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.expr("(sum(n) * 1000000L) div count(*)").alias("mu_e6")
    )
    scored = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "y_e6",
        F.col("n") * F.lit(1_000_000)
        - F.col("mu_e6")
        - F.expr(f"mu_e6 div {CUSUM_K_DIV}"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = F.sum("y_e6").over(w)
    run = scored.select(
        "event_type", "hour", "n", "mu_e6", wt.alias("w_e6")
    ).withColumn("wmin_e6", F.min("w_e6").over(w))
    cusum = F.col("w_e6") - F.least(F.lit(0), F.col("wmin_e6"))
    return run.select(
        "event_type",
        "hour",
        "n",
        cusum.alias("cusum_e6"),
        (cusum >= F.lit(CUSUM_H_MULT) * F.col("mu_e6")).alias("alarm"),
    )


ORACLE["events_cusum_drift"] = f"""
WITH hourly AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           count(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           CAST(CAST(sum(n) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS mu_e6
    FROM hourly GROUP BY 1
),
run AS (
    SELECT h.event_type, h.hour, h.n, s.mu_e6,
           sum(h.n * 1000000 - s.mu_e6 - s.mu_e6 // {CUSUM_K_DIV}) OVER w AS w_e6
    FROM hourly h JOIN stats s USING (event_type)
    WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
clamped AS (
    SELECT event_type, hour, n, mu_e6,
           CAST(w_e6 - least(0, min(w_e6) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS BIGINT) AS cusum_e6
    FROM run
)
SELECT event_type, hour, n, cusum_e6,
       cusum_e6 >= {CUSUM_H_MULT} * mu_e6 AS alarm
FROM clamped
"""


# ------------------------------------------------------------------ C32
def events_seasonal_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline deviation (r9): each hour's volume vs the SAME
    HOUR-OF-DAY baseline for that event_type — the "is 3am traffic low
    for a 3am?" comparison that de-seasonalizes before alerting, where a
    trailing-window z-score (events_rate_anomaly) would flag every
    diurnal swing. CUSUM, z-score, and this seasonal ratio are the three
    detectors a rate-monitoring stack runs side by side.

    Exact integers end-to-end: ratio vs the baseline MEAN folds into a
    single bigint division n·cnt·10⁶ div Σn (never a float mean).
    Shuffle 1 = map-side-combined hourly rollup; the profile aggregate
    and join-back touch only the rolled-up frame (types × 24 rows of
    profile), so cost is independent of raw event volume.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    profile = hourly.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("seasonal_hours"),
        F.sum("n").cast("bigint").alias("seasonal_n"),
    )
    return (
        hourly.join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_type",
            "hour",
            "hod",
            "n",
            "seasonal_hours",
            F.expr("(n * seasonal_hours * 1000000L) div seasonal_n").alias(
                "ratio_ppm"
            ),
        )
    )


ORACLE["events_seasonal_ratio"] = """
WITH hourly AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           hour(ts) AS hod,
           count(*) AS n
    FROM events GROUP BY 1, 2, 3
),
profile AS (
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS seasonal_hours,
           CAST(sum(n) AS BIGINT) AS seasonal_n
    FROM hourly GROUP BY 1, 2
)
SELECT h.event_type, h.hour, h.hod, h.n, p.seasonal_hours,
       CAST((h.n * p.seasonal_hours * 1000000) // p.seasonal_n AS BIGINT)
           AS ratio_ppm
FROM hourly h JOIN profile p USING (event_type, hod)
"""


# ------------------------------------------------------------------ C17
def events_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style interval construction from a change log: collapse each
    user's event stream into contiguous event_type "states" with
    [valid_from, valid_to) validity — the standard warehouse transform
    that turns an append-only log into a slowly-changing-dimension
    history (valid_to NULL = current state).

    One shuffle total: the change-point filter and the lead() that closes
    each interval share the user_id partitioning, so Catalyst plans a
    single exchange + sort reused by both windows. Ties broken by
    event_id so both engines pick identical change points.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
    )


ORACLE["events_state_intervals"] = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS valid_to
FROM changes
"""


# ------------------------------------------------------------------ C19
EWMA_ALPHA = 0.3
EWMA_SPAN = 24  # trailing hours in the frame


def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of hourly event volume per
    event_type — the smoothing half of a rate-monitoring pipeline (the
    z-score anomaly op is the alerting half).

    EWMA over a BOUNDED 24h frame keeps it expressible as a window
    aggregate on both engines (the infinite-history recurrence isn't):
    weights (1-α)^k over the trailing frame, normalized. One shuffle for
    the hourly rollup; the window reuses the event_type partitioning.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(EWMA_SPAN - 1), Window.currentRow)
    )
    vals = F.collect_list("n").over(w)  # frame order: oldest → current
    length = F.size("vals")
    decay = F.lit(1.0 - EWMA_ALPHA)

    def _wsum(acc, x):
        return F.struct(
            (acc["i"] + 1).alias("i"),
            (acc["s"] + x * F.pow(decay, (length - 1 - acc["i"]).cast("double"))).alias("s"),
            (acc["w"] + F.pow(decay, (length - 1 - acc["i"]).cast("double"))).alias("w"),
        )

    init = F.struct(
        F.lit(0).alias("i"), F.lit(0.0).alias("s"), F.lit(0.0).alias("w")
    )
    ewma = F.aggregate(
        F.col("vals").cast("array<double>"), init, _wsum, lambda a: a["s"] / a["w"]
    )
    return (
        hourly.withColumn("vals", vals)
        .select("event_type", "hour", "n", F.round(ewma, 6).alias("ewma"))
    )


ORACLE["events_ewma_hourly"] = f"""
WITH hourly AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
),
framed AS (
    SELECT event_type, hour, n,
           list(n) OVER (PARTITION BY event_type ORDER BY hour
                         ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING AND CURRENT ROW) AS vals
    FROM hourly
)
SELECT event_type, hour, n,
       round(
           list_sum([vals[i] * pow({1.0 - EWMA_ALPHA}, len(vals) - i)
                     FOR i IN range(1, len(vals) + 1)])
           / list_sum([pow({1.0 - EWMA_ALPHA}, len(vals) - i)
                       FOR i IN range(1, len(vals) + 1)]),
           6) AS ewma
FROM framed
"""


# ------------------------------------------------------------------ C20
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior: P(next event type |
    current event type), estimated from each user's time-ordered stream.

    One shuffle on user_id feeds the lag window (per-user streams are
    short and uniform — no skew), then the (prev, next) pair counts
    aggregate map-side into a |types|² matrix. The transition matrix is
    what session-simulation / next-event-prediction features train on.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = steps.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return (
        steps.join(totals, "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(n * 1000000L) div n_from").alias("p_ppm"),
        )
    )


ORACLE["events_markov_transitions"] = """
WITH steps AS (
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
),
totals AS (
    SELECT prev_type, sum(n) AS n_from FROM steps GROUP BY 1
)
SELECT s.prev_type, s.next_type, s.n,
       CAST((s.n * 1000000) // t.n_from AS BIGINT) AS p_ppm
FROM steps s JOIN totals t USING (prev_type)
"""


# ------------------------------------------------------------------ C33
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transition DWELL TIME statistics (r10): for every
    (prev_type → next_type) edge of the behavior graph, how long users
    actually sit between the two events — the latency companion to
    events_markov_transitions' probability matrix (funnels optimize the
    slow edges, not the rare ones).

    Same one shuffle on user_id as the markov estimator (lag window
    over ts, event_id tiebreak), then a |types|² map-side aggregate.
    All-integer emission: total/min/max dwell in exact microseconds,
    mean via bigint div — no double anywhere.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_us", F.lag(_US("ts")).over(w))
        .where(F.col("prev_type").isNotNull())
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            (_US("ts") - F.col("prev_us")).alias("dwell_us"),
        )
    )
    return (
        steps.groupBy("prev_type", "next_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dwell_us").cast("bigint").alias("total_dwell_us"),
            F.min("dwell_us").cast("bigint").alias("min_dwell_us"),
            F.max("dwell_us").cast("bigint").alias("max_dwell_us"),
        )
        .select(
            "prev_type",
            "next_type",
            "n",
            "total_dwell_us",
            F.expr("total_dwell_us div n").alias("mean_dwell_us"),
            "min_dwell_us",
            "max_dwell_us",
        )
    )


ORACLE["events_transition_dwell"] = """
WITH steps AS (
    SELECT prev_type, event_type AS next_type,
           epoch_us(ts) - prev_us AS dwell_us
    FROM (
        SELECT event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_us
        FROM events
    )
    WHERE prev_type IS NOT NULL
)
SELECT prev_type, next_type, count(*) AS n,
       CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(CAST(sum(dwell_us) AS BIGINT) // count(*) AS BIGINT) AS mean_dwell_us,
       CAST(min(dwell_us) AS BIGINT) AS min_dwell_us,
       CAST(max(dwell_us) AS BIGINT) AS max_dwell_us
FROM steps
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ C30
def events_markov_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequence scoring under the corpus transition matrix
    (r8): each user's time-ordered event stream scored by the summed
    surprisal −ln P(next|prev) of its transitions, the matrix estimated
    from the whole corpus (events_markov_transitions' model applied back
    to its training stream). High average surprisal = the user's
    behavior is atypical under the aggregate model — the
    anomalous-session / bot-candidate ranking primitive, and the exact
    shape of perplexity-filtering a training corpus against a reference
    model (D-family quality scoring, sequence edition).

    Plan: ONE shuffle on user_id feeds the lag window; the per-user agg
    rides the same hash partitioning (no second user exchange). The
    |types|² transition matrix is a broadcast join onto the step stream.
    Cross-engine float device (doc_unigram_logprob's): every addend
    −ln(n/n_from) quantizes through DECIMAL(28,12) — exact,
    order-independent per-user sums under any partitioning — and the
    emission is floor(sum/steps·10⁶) of the identical double.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNotNull()
    )
    trans = steps.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    probs = trans.join(totals, "prev_type")
    scored = steps.join(
        F.broadcast(probs),
        (steps.prev_type == probs.prev_type)
        & (steps.event_type == probs.next_type),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.sum(
                (-F.log(F.col("n") / F.col("n_from"))).cast("decimal(28,12)")
            ).alias("ssum"),
        )
        .select(
            "user_id",
            "n_steps",
            F.floor(
                F.col("ssum").cast("double") / F.col("n_steps") * 1000000
            ).alias("avg_surprisal_e6"),
        )
    )


ORACLE["events_markov_surprisal"] = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
),
steps AS (SELECT * FROM seq WHERE prev_type IS NOT NULL),
trans AS (
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM steps GROUP BY 1, 2
),
totals AS (SELECT prev_type, sum(n) AS n_from FROM trans GROUP BY 1),
probs AS (SELECT t.*, tt.n_from FROM trans t JOIN totals tt USING (prev_type))
SELECT s.user_id,
       count(*)::BIGINT AS n_steps,
       CAST(floor(sum(CAST(-ln(p.n / p.n_from) AS DECIMAL(28,12)))::DOUBLE
                  / count(*) * 1000000) AS BIGINT) AS avg_surprisal_e6
FROM steps s
JOIN probs p ON s.prev_type = p.prev_type AND s.event_type = p.next_type
GROUP BY s.user_id
"""


# ------------------------------------------------------------------ C22
PATHS_TOP = 10


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavior paths (t1→t2→t3 event-type triples over
    each user's time-ordered stream) — the sequence-mining report behind
    "what do users do right before purchasing".

    One user_id shuffle feeds both lags (shared window sort), triple
    counts aggregate map-side, and the top-10 is the distributed
    TakeOrderedAndProject + finalists-only rank (never a global window).
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    triples = (
        ev.withColumn("t2", F.lag("event_type", 1).over(w))
        .withColumn("t1", F.lag("event_type", 2).over(w))
        .where(F.col("t1").isNotNull())
        .groupBy("t1", F.col("t2"), F.col("event_type").alias("t3"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    finalists = triples.orderBy(F.desc("n"), "t1", "t2", "t3").limit(PATHS_TOP)
    rk = Window.orderBy(F.desc("n"), "t1", "t2", "t3")
    return finalists.withColumn("rank", F.row_number().over(rk))


ORACLE["events_top_paths"] = f"""
WITH steps AS (
    SELECT lag(event_type, 2) OVER w AS t1,
           lag(event_type, 1) OVER w AS t2,
           event_type AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
triples AS (
    SELECT t1, t2, t3, count(*) AS n
    FROM steps WHERE t1 IS NOT NULL
    GROUP BY 1, 2, 3
)
SELECT t1, t2, t3, n,
       row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS rank
FROM triples
ORDER BY n DESC, t1, t2, t3
LIMIT {PATHS_TOP}
"""


# ------------------------------------------------------------------ C23
PATTERN_L = 6
#: the query shape: flat activity then a spike in the last hour
_PATTERN_RAW = (1.0, 1.0, 1.0, 1.0, 1.0, 6.0)


def _znorm(seq):
    m = sum(seq) / len(seq)
    sd = (sum((x - m) ** 2 for x in seq) / len(seq)) ** 0.5
    return [(x - m) / sd for x in seq]


#: z-normalized query pattern, precomputed in python so BOTH engines use
#: the exact same double literals (no cross-engine fold of the query side)
PATTERN_Z = _znorm(_PATTERN_RAW)
PATTERN_TOP = 10


def events_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern search (the distributed subsequence-similarity
    problem of Time Series Similarity Search for Streaming Data, EDBT
    2019): find the 10 user-hour windows whose z-normalized hourly event
    counts best match a spike query shape, by euclidean distance.

    Shape: hourly rollup (small), per-user sliding windows via ONE
    window sort shared with the frame collect (the ewma pattern),
    z-normalization + distance as higher-order folds over the in-row
    array — integer counts in, so both engines do identical double
    arithmetic in identical left-fold order. Top-10 via distributed
    TakeOrderedAndProject; constant windows (zero variance) are excluded
    on both sides.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy("hour").rowsBetween(0, PATTERN_L - 1)
    framed = (
        hourly.withColumn("vals", F.collect_list("n").over(w))
        .where(F.size("vals") == PATTERN_L)
        .withColumn("vals", F.col("vals").cast("array<double>"))
    )
    L = float(PATTERN_L)
    mean = F.aggregate("vals", F.lit(0.0), lambda a, x: a + x) / F.lit(L)
    framed = framed.withColumn("m", mean)
    var = F.aggregate(
        "vals", F.lit(0.0), lambda a, x: a + (x - F.col("m")) * (x - F.col("m"))
    ) / F.lit(L)
    framed = framed.withColumn("sd", F.sqrt(var)).where(F.col("sd") > 0)
    # indexed left fold: acc carries (i, partial sum of (z_i - q_i)^2)
    q = F.array(*[F.lit(v) for v in PATTERN_Z])
    framed = framed.withColumn("q", q)

    def _step(acc, x):
        z = (x - F.col("m")) / F.col("sd")
        d = z - F.element_at(F.col("q"), (acc["i"] + 1).cast("int"))
        return F.struct((acc["i"] + 1).alias("i"), (acc["s"] + d * d).alias("s"))

    init = F.struct(F.lit(0).cast("bigint").alias("i"), F.lit(0.0).alias("s"))
    dist = F.round(
        F.sqrt(F.aggregate("vals", init, _step, lambda a: a["s"])), 6
    )
    scored = framed.select(
        "user_id", F.col("hour").alias("window_start"), dist.alias("dist")
    )
    finalists = scored.orderBy(F.asc("dist"), "user_id", "window_start").limit(PATTERN_TOP)
    rk = Window.orderBy(F.asc("dist"), "user_id", "window_start")
    return finalists.withColumn("rank", F.row_number().over(rk))


def _pattern_sql_literal() -> str:
    return "[" + ", ".join(repr(v) for v in PATTERN_Z) + "]"


ORACLE["events_pattern_search"] = f"""
WITH hourly AS (
    SELECT user_id,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           count(*) AS n
    FROM events GROUP BY 1, 2
),
framed AS (
    SELECT user_id, hour,
           list(n::DOUBLE) OVER (PARTITION BY user_id ORDER BY hour
                                 ROWS BETWEEN CURRENT ROW AND {PATTERN_L - 1} FOLLOWING) AS vals
    FROM hourly
),
stats AS (
    SELECT user_id, hour, vals,
           list_sum(vals) / {float(PATTERN_L)} AS m
    FROM framed WHERE len(vals) = {PATTERN_L}
),
normed AS (
    SELECT user_id, hour, vals, m,
           sqrt(list_sum([(x - m) * (x - m) FOR x IN vals]) / {float(PATTERN_L)}) AS sd
    FROM stats
),
scored AS (
    SELECT user_id, hour AS window_start,
           round(sqrt(list_sum([
               ((vals[i] - m) / sd - ({_pattern_sql_literal()})[i])
               * ((vals[i] - m) / sd - ({_pattern_sql_literal()})[i])
               FOR i IN range(1, {PATTERN_L + 1})
           ])), 6) AS dist
    FROM normed WHERE sd > 0
)
SELECT user_id, window_start, dist,
       row_number() OVER (ORDER BY dist ASC, user_id, window_start) AS rank
FROM scored
ORDER BY dist ASC, user_id, window_start
LIMIT {PATTERN_TOP}
"""


# ------------------------------------------------------------------ C25
DAU_WINDOW = 7


def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct active users per calendar day —
    the canonical engagement report, computed EXACTLY at scale.

    A naive rolling COUNT(DISTINCT) over a window recomputes the
    distinct per frame; instead each (user, day) pair is exploded to the
    ≤7 window-end days it contributes to, then one distinct + count per
    window day. Shuffle volume is bounded at 7× the distinct
    (user, day) pairs — independent of raw event volume.
    """
    ev = table(spark, sf_dir, "events")
    pairs = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    bounds = pairs.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    daily = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", DAU_WINDOW - 1))).alias("wday"),
        "user_id",
    )
    rolling = (
        contrib.join(F.broadcast(bounds))
        .where((F.col("wday") >= F.col("mn")) & (F.col("wday") <= F.col("mx")))
        .select("wday", "user_id")
        .distinct()
        .groupBy("wday")
        .agg(F.count(F.lit(1)).alias("wau7"))
    )
    return (
        daily.join(rolling, daily.day == rolling.wday)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
        )
        .orderBy("day")
    )


ORACLE["events_rolling_dau"] = f"""
WITH pairs AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM pairs),
daily AS (SELECT day, count(*) AS dau FROM pairs GROUP BY 1),
contrib AS (
    SELECT day + to_days(i::INTEGER) AS wday, user_id
    FROM pairs, range(0, {DAU_WINDOW}) r(i)
),
rolling AS (
    SELECT wday, count(DISTINCT user_id) AS wau7
    FROM contrib, bounds
    WHERE wday BETWEEN mn AND mx
    GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, r.wau7
FROM daily d JOIN rolling r ON d.day = r.wday
ORDER BY day
"""


# ------------------------------------------------------------------ C27
BOT_MIN_EVENTS = 20


def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-traffic signal: coefficient of variation of each user's
    inter-event gaps. Human cadence is bursty (CV ≈ 1+); scripted
    traffic fires on a timer (CV → 0). The training-data analog of D8's
    doc-quality scoring — filter robotic event streams before they
    poison behavioral models.

    One user_id shuffle for the lag, then exact integer moment sums
    (gaps floored to whole seconds, so Σg and Σg² are exact BIGINTs on
    both engines — no streaming-variance float drift); the closed-form
    sample variance and CV round once at output.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.floor(
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w))
        / F.lit(1_000_000)
    )
    gaps = ev.select("user_id", gap_s.alias("g")).where(F.col("g").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("ss"),
    )
    mean = F.col("s") / F.col("n_gaps")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n_gaps")) / (F.col("n_gaps") - 1)
    # mean as exact bigint e4; cv (has a sqrt, irreducibly real) as
    # floor(cv·10⁶) of the identical double both engines derive from the
    # same integer moment sums
    return (
        agg.where((F.col("n_gaps") >= BOT_MIN_EVENTS) & (F.col("s") > 0))
        .select(
            "user_id",
            "n_gaps",
            F.expr("(s * 10000L) div n_gaps").alias("mean_gap_e4"),
            F.floor((F.sqrt(var) / mean) * 1000000).alias("cv_e6"),
        )
    )


ORACLE["events_bot_score"] = f"""
WITH gaps AS (
    SELECT user_id,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
clean AS (
    SELECT user_id, CAST(floor(gap_us / 1000000.0) AS BIGINT) AS g
    FROM gaps WHERE gap_us IS NOT NULL
),
agg AS (
    SELECT user_id, count(*) AS n_gaps, sum(g) AS s, sum(g * g) AS ss
    FROM clean GROUP BY 1
)
SELECT user_id, n_gaps,
       CAST((s * 10000) // n_gaps AS BIGINT) AS mean_gap_e4,
       CAST(floor((sqrt((ss - s * s / n_gaps) / (n_gaps - 1)) / (s / n_gaps)) * 1000000)
            AS BIGINT) AS cv_e6
FROM agg
WHERE n_gaps >= {BOT_MIN_EVENTS} AND s > 0
"""


# ------------------------------------------------------------------ C28
MAD_K = 1.4826  # consistency constant: MAD × k estimates σ for normal data
MAD_TAU = 3.5


def events_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers per event_type: |value − median| > τ·(1.4826·MAD)
    — the median/MAD twin of events_zscore_outliers. Mean/stddev gates
    move when a burst of anomalies drags the moments; median and MAD
    don't, so this is the detector that still fires during an incident.

    Two small aggregates (median, then MAD) broadcast back onto the scan;
    every per-row score is a deterministic scalar op on interpolated
    percentiles that Spark `percentile` and DuckDB `quantile_cont` define
    identically — no order-dependent float sums anywhere.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    scored = dev.join(F.broadcast(mad), "event_type").where(F.col("mad") > 0)
    # filter on the UNROUNDED score (identical double both engines — the
    # oracle mirrors Spark's percentile op sequence) and emit
    # floor(z·10⁴): floor of identical doubles is deterministic where
    # round()'s half-rule is engine-specific
    robust_z = (F.col("value") - F.col("med")) / (F.lit(MAD_K) * F.col("mad"))
    return (
        scored.withColumn("rz", robust_z)
        .where(F.abs("rz") >= MAD_TAU)
        .select(
            "event_type",
            "event_id",
            "value",
            F.floor(F.col("rz") * 10000).alias("robust_z_e4"),
        )
    )


def _events_value_mad_oracle() -> str:
    from ..functions import spark_percentile_sql

    p50v = spark_percentile_sql("0.5")
    p50a = spark_percentile_sql("0.5", v="adev")
    return f"""
WITH rankedv AS (
    SELECT event_type, value AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (SELECT event_type, {p50v} AS med FROM rankedv GROUP BY 1),
dev AS (
    SELECT e.event_type, e.event_id, e.value, m.med,
           abs(e.value - m.med) AS adev
    FROM events e JOIN med m USING (event_type)
),
rankeda AS (
    SELECT event_type, adev,
           row_number() OVER (PARTITION BY event_type ORDER BY adev) - 1 AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (SELECT event_type, {p50a} AS mad FROM rankeda GROUP BY 1)
SELECT d.event_type, d.event_id, d.value,
       CAST(floor((d.value - d.med) / ({MAD_K} * m.mad) * 10000) AS BIGINT) AS robust_z_e4
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0
  AND abs((d.value - d.med) / ({MAD_K} * m.mad)) >= {MAD_TAU}
"""


ORACLE["events_value_mad"] = _events_value_mad_oracle()


def stream_markov_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible incremental Markov maintenance (C24): the events
    table lands as two event-time halves (midpoint split, forced into
    separate microbatches), flows through stream_markov_transitions —
    per-user GroupState chains each user's last event type ACROSS the
    batch boundary — and the summed deltas rebuild the full transition
    matrix. Shares events_markov_transitions' oracle, so the incremental
    path is hash-checked against the one-shot batch SQL."""
    import tempfile
    import time as _time

    from ..streaming.events import land_file, run_to_memory, stream_markov_transitions

    ev = table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).first()
    mid = F.timestamp_micros(F.lit((lo + hi) // 2))
    now = _time.time()
    # drained into the memory sink, which holds the deltas
    with tempfile.TemporaryDirectory(prefix="grapefruit_markov_sim_") as src:
        land_file(ev.where(F.col("ts") < mid), src, "b1.parquet", now - 100)
        land_file(ev.where(F.col("ts") >= mid), src, "b2.parquet", now - 50)
        deltas = run_to_memory(
            stream_markov_transitions(spark, src, max_files_per_trigger=1),
            "drv_markov_sim",
            output_mode="append",
        )
    steps = deltas.groupBy("prev_type", "next_type").agg(F.sum("n").alias("n"))
    totals = steps.select(F.col("prev_type").alias("pt"), "n").groupBy("pt").agg(
        F.sum("n").alias("n_from")
    )
    return steps.join(totals, steps.prev_type == totals.pt).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("(n * 1000000L) div n_from").alias("p_ppm"),
    )


ORACLE["stream_markov_sim"] = ORACLE["events_markov_transitions"]


# ----------------------------------------------------------------- C35
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness (Fano factor) of hourly event counts: the
    variance-to-mean ratio of a user's active-hour volumes — ~1 for a
    Poisson (organic) arrival process, ≫1 for batchy/bursty traffic
    (the bot-and-scraper tell), ≈0 for metronome-constant automation.
    Complements events_bot_score's inter-arrival features with a
    rate-process statistic.

    Scale: two map-side-combined aggregations — (user, hour) → count,
    then per-user Σn, Σn², active-hour count — both shuffles keyed by
    the user axis, never a global window. The Fano value is kept
    all-integer: with population variance over h active hours,
    var/mean = (h·Σn² − (Σn)²) / (h·Σn), emitted in ppm via bigint
    div — no float fold, so the hash is order-independent and exact.
    Only multi-hour users are emitted (a single active hour has zero
    variance by construction, not by behavior).
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_user = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    return (
        per_user.where(F.col("n_hours") >= 2)
        .select(
            "user_id",
            "n_hours",
            F.col("sum_n").alias("n_events"),
            F.expr(
                "((n_hours * sum_n2 - sum_n * sum_n) * 1000000L)"
                " div (n_hours * sum_n)"
            ).alias("fano_ppm"),
        )
        .orderBy("user_id")
    )


ORACLE["events_burstiness"] = """
WITH hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n
    FROM events GROUP BY 1, 2
),
per_user AS (
    SELECT user_id,
           count(*)::BIGINT AS n_hours,
           CAST(sum(n) AS BIGINT) AS sum_n,
           CAST(sum(n * n) AS BIGINT) AS sum_n2
    FROM hourly GROUP BY user_id
)
SELECT user_id, n_hours, sum_n AS n_events,
       CAST(((n_hours * sum_n2 - sum_n * sum_n) * 1000000)
            // (n_hours * sum_n) AS BIGINT) AS fano_ppm
FROM per_user WHERE n_hours >= 2
ORDER BY user_id
"""


# ----------------------------------------------------------------- C34
def events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Pareto) report: users ranked by event
    count, bucketed into activity deciles (ntile over the per-user
    frame), each decile's share of total event volume and the running
    cumulative share in ppm. "Decile 1 owns 62% of traffic" is the
    skew number capacity planning, bot triage, and per-key salting
    decisions all start from — the 80/20 check as one 10-row frame.

    Scale: events collapse to a per-user count first (map-side combined
    — the only full-data pass). The global ranking NEVER runs as an
    unpartitioned window (that would sort all |users| rows — 10⁸–10⁹ at
    100 TB — through ONE task): instead the per-user frame is range-
    partitioned on the sort key, row_number runs per range partition
    (each task sees ~|users|/P rows), and the exact global rank is
    local rank + the partition's row offset — offsets come from an
    O(P)-row per-partition count frame whose cumsum window is bounded
    by config (shuffle partitions), not data. The decile is then pure
    arithmetic on (rank, n_users) reproducing standard-SQL ntile(10)
    exactly: the first (N mod 10) buckets take ceil(N/10) rows, the
    rest floor(N/10). Tie order is pinned by (n_events DESC, user_id
    ASC) — a total order, so bucket boundaries are deterministic in
    both engines and invariant to where the range partitioner happens
    to cut.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = per_user.repartitionByRange(
        nparts, F.desc("n_events"), F.asc("user_id")
    ).withColumn("_pid", F.spark_partition_id())
    # local rank: window keyed by _pid — every window group is ONE range
    # partition, so no task ever sorts more than ~|users|/P rows
    w_local = Window.partitionBy("_pid").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    local = ranged.withColumn("_rn", F.row_number().over(w_local))
    # partition offsets: O(P) rows — the ONLY unpartitioned window in
    # this plan runs over that config-bounded frame, never over users
    sizes = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    tot = per_user.agg(F.count(F.lit(1)).alias("_n_users"))
    # ntile(10) reproduced arithmetically from the exact global rank:
    # big buckets (size base+1) come first, one per remainder unit. The
    # else-branch divisor is greatest(base,1) only to keep ANSI mode
    # happy — when base=0 every rank falls in the when-branch.
    ranked = (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("_rank", F.col("_rn") + F.col("_off"))
        .withColumn(
            "decile",
            F.when(
                F.expr("_rank <= (_n_users % 10) * ((_n_users div 10) + 1)"),
                F.expr("(_rank - 1) div ((_n_users div 10) + 1) + 1"),
            )
            .otherwise(
                F.expr(
                    "(_n_users % 10) + (_rank - (_n_users % 10)"
                    " * ((_n_users div 10) + 1) - 1)"
                    " div greatest(_n_users div 10, 1L) + 1"
                )
            )
            .cast("int"),
        )
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.withColumn("events_cum", F.sum("n_events").over(w))
        .crossJoin(
            F.broadcast(dec.agg(F.sum("n_events").alias("total_events")))
        )
        .select(
            "decile",
            "n_users",
            "n_events",
            F.expr("(n_events * 1000000L) div total_events").alias("share_ppm"),
            F.expr("(events_cum * 1000000L) div total_events").alias(
                "share_cum_ppm"
            ),
        )
        .orderBy("decile")
    )


ORACLE["events_pareto_share"] = """
WITH per_user AS (
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
),
ranked AS (
    SELECT n_events,
           ntile(10) OVER (ORDER BY n_events DESC, user_id ASC) AS decile
    FROM per_user
),
dec AS (
    SELECT decile, count(*) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM ranked GROUP BY decile
)
SELECT decile, n_users, n_events,
       CAST((n_events * 1000000) // (SELECT sum(n_events) FROM dec) AS BIGINT)
           AS share_ppm,
       CAST((sum(n_events) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             * 1000000) // (SELECT sum(n_events) FROM dec) AS BIGINT)
           AS share_cum_ppm
FROM dec
ORDER BY decile
"""


# ----------------------------------------------------------------- C36
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-TYPE distribution — the
    behavioral-diversity statistic: H ≈ ln|types| for users who spread
    across actions, H = 0 for single-action accounts (scrapers hitting
    one endpoint, pixel bots). With events_burstiness (rate process)
    and events_bot_score (inter-arrival timing) this completes the
    three-axis bot-triage panel: WHAT a user does, HOW OFTEN, and WHEN.

    Scale: two map-side-combined aggregations keyed on the user axis —
    (user, type) → count, then per-user (n, Σc·ln c) — identical
    shuffle shape to events_burstiness; no windows, no corpus-sized
    joins. Entropy via the exact-count identity H = ln n − (Σc·ln c)/n,
    so only per-TYPE addends touch ln; each folds through
    DECIMAL(28,12) (order-independent sums under any partitioning, the
    doc_entropy device) with floor(·10⁶) emission.
    """
    ev = table(spark, sf_dir, "events")
    typed = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = typed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_events"),
        F.sum((F.col("c") * F.log(F.col("c"))).cast("decimal(28,12)")).alias("sclnc"),
    )
    return per_user.select(
        "user_id",
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.floor(
            (
                F.log(F.col("n_events").cast("double"))
                - F.col("sclnc").cast("double") / F.col("n_events")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("entropy_e6"),
    ).orderBy("user_id")


ORACLE["events_type_entropy"] = """
WITH typed AS (
    SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
),
per_user AS (
    SELECT user_id,
           count(*)::BIGINT AS n_types,
           CAST(sum(c) AS BIGINT) AS n_events,
           sum(CAST(c * ln(c) AS DECIMAL(28,12))) AS sclnc
    FROM typed GROUP BY user_id
)
SELECT user_id, n_types, n_events,
       CAST(floor((ln(n_events::DOUBLE) - sclnc::DOUBLE / n_events) * 1000000)
            AS BIGINT) AS entropy_e6
FROM per_user
ORDER BY user_id
"""


# ----------------------------------------------------------------- C37
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the event log: users split into two
    arms by the deterministic md5 hash of user_id (the same device the
    split/sample family uses — assignment is a pure function of the
    key, so any backfill or re-run reproduces it), conversion = the
    user emitted ≥ 1 'purchase' event. One row: per-arm user counts,
    converted counts, conversion in ppm, the lift in ppm, and the
    exact-integer cross-product difference c_b·n_a − c_a·n_b whose sign
    is the lift direction with ZERO rounding anywhere — the
    deterministic significance-direction probe (the z-test numerator's
    integer core) that needs no sqrt and therefore no cross-engine
    libm exposure.

    Scale: one map-side-combined per-user aggregate (the corpus's only
    shuffle, keyed on the user axis), a narrow hash-bucket map, then a
    2-group aggregate folded to one broadcast-size row. No windows, no
    joins against unbounded sides.
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        ).alias("converted")
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    armed = per_user.select(
        F.when(bucket % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("arm"),
        "converted",
    )
    return armed.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    ).select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.expr("(c_a * 1000000L) div nullif(n_a, 0)").alias("conv_a_ppm"),
        F.expr("(c_b * 1000000L) div nullif(n_b, 0)").alias("conv_b_ppm"),
        F.expr(
            "((c_b * 1000000L) div nullif(n_b, 0))"
            " - ((c_a * 1000000L) div nullif(n_a, 0))"
        ).alias("lift_ppm"),
        (F.col("c_b") * F.col("n_a") - F.col("c_a") * F.col("n_b")).alias(
            "cross_diff"
        ),
    )


ORACLE["events_ab_lift"] = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
armed AS (
    SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           converted
    FROM per_user
),
agg AS (
    SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS c_a,
           CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS c_b
    FROM armed
)
SELECT n_a, n_b, c_a, c_b,
       CAST((c_a * 1000000) // nullif(n_a, 0) AS BIGINT) AS conv_a_ppm,
       CAST((c_b * 1000000) // nullif(n_b, 0) AS BIGINT) AS conv_b_ppm,
       CAST(((c_b * 1000000) // nullif(n_b, 0))
            - ((c_a * 1000000) // nullif(n_a, 0)) AS BIGINT) AS lift_ppm,
       CAST(c_b * n_a - c_a * n_b AS BIGINT) AS cross_diff
FROM agg
"""


# ----------------------------------------------------------------- C38
#: Count-Min Sketch geometry: d hash rows × w buckets
CMS_D = 4
CMS_W = 1024
CMS_TOP = 10


def events_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy-hitter QA (Cormode & Muthukrishnan 2005):
    build a d×w CMS over per-user event counts, then report — for the
    top-CMS_TOP EXACT heavy hitters — the exact count, the CMS estimate
    (min over the d row cells), and the overestimate in ppm. This is
    the sketch-error-measurement row for the COUNT sketch family, the
    companion of minhash_est_error (Jaccard) and knn_*_recall_eval
    (ANN): every estimator in the repo ships with the operator that
    measures its error. Unlike the HLL/GK rows (engine-internal by
    design, rows-only), CMS built on the portable md5 hash is exactly
    SQL-mirrorable, so this sketch IS hash-gated.

    Scale: CMS is a SUM sketch — the d×w cell grid map-side-combines
    under any partitioning (this is why CMS is THE streaming/merge-
    friendly heavy-hitter structure); the build is one aggregate over
    the per-user frame exploded d ways (≤ d·w cells out of any
    partition), the exact top-K is a TakeOrdered, and the estimate join
    touches only K·d broadcast rows. Nothing here scales with corpus
    size except the two map-side-combined aggregates.

    All-integer: buckets from md5_hash60 % w, cells and estimates are
    integer sums/mins, overestimate ppm via bigint div. CMS guarantees
    est ≥ exact, so over_ppm ≥ 0 (pinned by pytest).
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))

    def bucket(r: int) -> F.Column:
        return (
            md5_hash60(F.col("user_id").cast("string"), f"|cms{r}")
            % CMS_W
        ).cast("int")

    hashed = per_user.select(
        "user_id",
        "n_events",
        F.posexplode(F.array(*[bucket(r) for r in range(CMS_D)])).alias(
            "row_id", "bucket"
        ),
    )
    cells = hashed.groupBy("row_id", "bucket").agg(
        F.sum("n_events").cast("bigint").alias("cell")
    )
    top = (
        per_user.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(CMS_TOP)
        .select(
            "user_id",
            "n_events",
            F.posexplode(F.array(*[bucket(r) for r in range(CMS_D)])).alias(
                "row_id", "bucket"
            ),
        )
    )
    return (
        top.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("user_id", "n_events")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "user_id",
            F.col("n_events").alias("n_exact"),
            "cms_est",
            F.expr(
                "((cms_est - n_events) * 1000000L) div n_events"
            ).alias("over_ppm"),
        )
    )


_cms_buckets = ", ".join(
    f"{md5_hash60_sql('user_id::VARCHAR', f'|cms{r}')} % {CMS_W}"
    for r in range(CMS_D)
)
ORACLE["events_cms_error"] = f"""
WITH per_user AS (
    SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY 1
),
hashed AS (
    SELECT user_id, n_events,
           generate_subscripts(bks, 1) - 1 AS row_id, unnest(bks) AS bucket
    FROM (SELECT user_id, n_events, [{_cms_buckets}] AS bks FROM per_user)
),
cells AS (
    SELECT row_id, bucket, CAST(sum(n_events) AS BIGINT) AS cell
    FROM hashed GROUP BY 1, 2
),
top AS (
    SELECT user_id, n_events FROM per_user
    ORDER BY n_events DESC, user_id ASC LIMIT {CMS_TOP}
),
est AS (
    SELECT h.user_id, h.n_events, min(c.cell) AS cms_est
    FROM (SELECT user_id, n_events,
                 generate_subscripts(bks, 1) - 1 AS row_id,
                 unnest(bks) AS bucket
          FROM (SELECT user_id, n_events, [{_cms_buckets}] AS bks
                FROM top)) h
    JOIN cells c ON c.row_id = h.row_id AND c.bucket = h.bucket
    GROUP BY 1, 2
)
SELECT user_id, n_events AS n_exact, CAST(cms_est AS BIGINT) AS cms_est,
       CAST((cms_est - n_events) * 1000000 // n_events AS BIGINT) AS over_ppm
FROM est
"""


#: widths swept by events_cms_width_curve — divisor-nested so the whole
#: sweep derives from the ONE finest-width cell grid
CMS_WIDTHS = (64, 256, 1024)


def events_cms_width_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS width tuning curve — the minhash_band_curve of the count-
    sketch family: the same d-row sketch evaluated at widths 64/256/
    1024, reporting per width the mean and max heavy-hitter
    overestimate (ppm over the exact counts of the top-CMS_TOP users).
    Read where the curve flattens to size the sketch for a target key
    cardinality — the memory/error trade a production CMS deployment
    actually decides.

    Scale — the sweep costs ONE sketch build, not three: the widths
    NEST (w | W ⇒ h mod w = (h mod W) mod w), so the finest-width cell
    grid is built once and each coarser grid is an O(d·W) rollup of its
    cells — the band-curve nesting trick in modular form. Estimates are
    pointwise monotone (coarser width ⇒ superset cells ⇒ larger min),
    which the pytest pins.
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w_max = CMS_WIDTHS[-1]

    def bucket(r: int) -> F.Column:
        return (
            md5_hash60(F.col("user_id").cast("string"), f"|cms{r}")
            % w_max
        ).cast("int")

    hashed = per_user.select(
        "user_id",
        "n_events",
        F.posexplode(F.array(*[bucket(r) for r in range(CMS_D)])).alias(
            "row_id", "bucket"
        ),
    )
    cells = hashed.groupBy("row_id", "bucket").agg(
        F.sum("n_events").cast("bigint").alias("cell")
    )
    top = (
        per_user.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(CMS_TOP)
        .select(
            "user_id",
            "n_events",
            F.posexplode(F.array(*[bucket(r) for r in range(CMS_D)])).alias(
                "row_id", "bucket"
            ),
        )
    )
    legs = []
    for w in CMS_WIDTHS:
        cw = cells.groupBy(
            "row_id", (F.col("bucket") % w).alias("bucket_w")
        ).agg(F.sum("cell").alias("cell"))
        est = (
            top.withColumn("bucket_w", F.col("bucket") % w)
            .join(F.broadcast(cw), ["row_id", "bucket_w"])
            .groupBy("user_id", "n_events")
            .agg(F.min("cell").alias("est"))
            .select(
                F.expr("((est - n_events) * 1000000L) div n_events").alias(
                    "over_ppm"
                )
            )
        )
        legs.append(
            est.agg(
                F.lit(w).alias("width"),
                F.expr(f"sum(over_ppm) div {CMS_TOP}").alias("mean_over_ppm"),
                F.max("over_ppm").alias("max_over_ppm"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("width")


def _cms_width_leg(w: int) -> str:
    return f"""SELECT {w} AS width,
       CAST(sum(over_ppm) // {CMS_TOP} AS BIGINT) AS mean_over_ppm,
       CAST(max(over_ppm) AS BIGINT) AS max_over_ppm
FROM (
    SELECT CAST((min(c.cell) - any_value(h.n_events)) * 1000000
                // any_value(h.n_events) AS BIGINT) AS over_ppm
    FROM (SELECT user_id, n_events, row_id, bucket % {w} AS bucket_w
          FROM tophash) h
    JOIN (SELECT row_id, bucket % {w} AS bucket_w, sum(cell) AS cell
          FROM cells GROUP BY 1, 2) c
      ON c.row_id = h.row_id AND c.bucket_w = h.bucket_w
    GROUP BY h.user_id
)"""


# the sim's oracle IS the one-shot sketch SQL: hash-green proves the
# increment-merged grid is value-identical to the batch-built one
ORACLE["stream_cms_sim"] = ORACLE["events_cms_error"]

ORACLE["events_cms_width_curve"] = f"""
WITH per_user AS (
    SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY 1
),
hashed AS (
    SELECT user_id, n_events,
           generate_subscripts(bks, 1) - 1 AS row_id, unnest(bks) AS bucket
    FROM (SELECT user_id, n_events, [{_cms_buckets}] AS bks FROM per_user)
),
cells AS (
    SELECT row_id, bucket, CAST(sum(n_events) AS BIGINT) AS cell
    FROM hashed GROUP BY 1, 2
),
top AS (
    SELECT user_id, n_events FROM per_user
    ORDER BY n_events DESC, user_id ASC LIMIT {CMS_TOP}
),
tophash AS (
    SELECT user_id, n_events,
           generate_subscripts(bks, 1) - 1 AS row_id, unnest(bks) AS bucket
    FROM (SELECT user_id, n_events, [{_cms_buckets}] AS bks FROM top)
)
SELECT width, mean_over_ppm, max_over_ppm FROM (
    {" UNION ALL ".join(f"({_cms_width_leg(w)})" for w in CMS_WIDTHS)}
)
ORDER BY width
"""


def stream_cms_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CMS maintenance sim — the property that makes CMS
    THE streaming heavy-hitter sketch: cell grids are sums, so a sketch
    maintained by merging per-batch increments is BIT-IDENTICAL to the
    one-shot sketch over the union. The event log splits into two
    deterministic arrival batches (event_id parity), each batch builds
    its own d×w grid, the grids merge by cell addition, and the merged
    sketch answers the same top-K estimate query. The ORACLE is the
    one-shot events_cms_error SQL — a hash-green row therefore PROVES
    increment-merge ≡ batch, the invariant a production streaming
    deployment (foreachBatch merging grids into a stored sketch) rests
    on. The ingest_dedup batch pattern applied to a sketch.

    Scale: each batch's grid is one map-side-combined aggregate
    (≤ d·w cells out of any partition); the merge is an O(d·w) union
    rollup — state is KB-sized forever, never keyed by user.
    """
    ev = table(spark, sf_dir, "events")

    def bucket(r: int) -> F.Column:
        return (
            md5_hash60(F.col("user_id").cast("string"), f"|cms{r}")
            % CMS_W
        ).cast("int")

    grids = []
    for b in range(2):
        batch = ev.where(F.col("event_id") % 2 == b)
        per_user_b = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        grids.append(
            per_user_b.select(
                "n_events",
                F.posexplode(
                    F.array(*[bucket(r) for r in range(CMS_D)])
                ).alias("row_id", "bucket"),
            )
            .groupBy("row_id", "bucket")
            .agg(F.sum("n_events").cast("bigint").alias("cell"))
        )
    merged = (
        grids[0]
        .unionByName(grids[1])
        .groupBy("row_id", "bucket")
        .agg(F.sum("cell").cast("bigint").alias("cell"))
    )
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    top = (
        per_user.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(CMS_TOP)
        .select(
            "user_id",
            "n_events",
            F.posexplode(F.array(*[bucket(r) for r in range(CMS_D)])).alias(
                "row_id", "bucket"
            ),
        )
    )
    return (
        top.join(F.broadcast(merged), ["row_id", "bucket"])
        .groupBy("user_id", "n_events")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "user_id",
            F.col("n_events").alias("n_exact"),
            "cms_est",
            F.expr(
                "((cms_est - n_events) * 1000000L) div n_events"
            ).alias("over_ppm"),
        )
    )


QUERIES = {
    "events_user_lifetime": events_user_lifetime,
    "events_type_entropy": events_type_entropy,
    "events_ab_lift": events_ab_lift,
    "stream_markov_sim": stream_markov_sim,
    "events_value_mad": events_value_mad,
    "events_state_intervals": events_state_intervals,
    "events_markov_transitions": events_markov_transitions,
    "events_transition_dwell": events_transition_dwell,
    "events_markov_surprisal": events_markov_surprisal,
    "events_top_paths": events_top_paths,
    "events_pattern_search": events_pattern_search,
    "events_rolling_dau": events_rolling_dau,
    "events_bot_score": events_bot_score,
    "events_ewma_hourly": events_ewma_hourly,
    "events_rate_anomaly": events_rate_anomaly,
    "events_cusum_drift": events_cusum_drift,
    "events_seasonal_ratio": events_seasonal_ratio,
    "events_funnel": events_funnel,
    "events_retention": events_retention,
    "events_heavy_hitters": events_heavy_hitters,
    "events_cms_error": events_cms_error,
    "events_cms_width_curve": events_cms_width_curve,
    "stream_cms_sim": stream_cms_sim,
    "events_histogram": events_histogram,
    "events_pareto_share": events_pareto_share,
    "events_burstiness": events_burstiness,
}
