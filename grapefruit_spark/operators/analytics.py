"""Second-wave analytics operators (SURVEY §2 block B extension): running
windows, lead/lag deltas, percentiles, pivot, anti join, set ops, and the
raw spark.sql surface. All oracle-backed."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions import DEC_SUM_SQL

ORACLE: dict[str, str] = {}


# ------------------------------------------------------------------ B13
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total + order sequence number.

    One shuffle on the partition key; both window functions share it.
    """
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
    )


ORACLE["running_total"] = """
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS order_seq,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ------------------------------------------------------------------ B14
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytics: days since a customer's previous order."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", prev).alias("gap_days"),
    )


ORACLE["order_gap_days"] = """
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate)::INT AS gap_days
FROM orders
"""


# ------------------------------------------------------------------ B15
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order totals per priority.

    Emitted as floor(x·10⁴) integers: the oracle mirrors Spark's exact
    interpolation op sequence (spark_percentile_sql), so both engines
    hold the identical double and floor-scaling is deterministic —
    unlike round(), whose half-rule implementation differs cross-engine.
    """
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        *[
            F.floor(F.expr(f"percentile(o_totalprice, {q})") * 10000).alias(
                f"p{int(q * 100)}_e4"
            )
            for q in (0.5, 0.9, 0.99)
        ]
    )


def _price_percentiles_oracle() -> str:
    from ..functions import spark_percentile_sql

    cols = ", ".join(
        f"CAST(floor({spark_percentile_sql(str(q))} * 10000) AS BIGINT) AS p{int(q * 100)}_e4"
        for q in (0.5, 0.9, 0.99)
    )
    return f"""
WITH ranked AS (
    SELECT o_orderpriority, o_totalprice AS v,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) - 1 AS i,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
)
SELECT o_orderpriority, {cols}
FROM ranked GROUP BY o_orderpriority
"""


ORACLE["price_percentiles"] = _price_percentiles_oracle()


# ------------------------------------------------------------------ B16
_STATUSES = ("F", "O", "P")


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority (explicit column set →
    single-pass conditional aggregation, no second job to discover keys)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in _STATUSES],
        )
    )


ORACLE["pivot_status"] = """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F') AS n_F,
       count(*) FILTER (o_orderstatus = 'O') AS n_O,
       count(*) FILTER (o_orderstatus = 'P') AS n_P
FROM orders
GROUP BY o_orderpriority
"""


# ------------------------------------------------------------------ B17
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no URGENT order (left_anti — only the key
    column of the filtered orders side crosses the shuffle)."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ORACLE["customers_without_orders"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


# ------------------------------------------------------------------ B18
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations having high-balance BUILDING customers but
    no high-balance MACHINERY ones (EXCEPT over distinct key sets)."""
    cust = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 8000)
    b = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    m = cust.where(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey").distinct()
    return b.exceptAll(m).select(F.col("c_nationkey").alias("nationkey"))


ORACLE["segment_set_ops"] = """
SELECT c_nationkey AS nationkey FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000
EXCEPT
SELECT c_nationkey FROM customer
WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 8000
"""


# ------------------------------------------------------------------ B19
def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw SQL surface: run ANSI SQL through spark.sql over the
    catalog's tables — proves a reference user can bring plain SQL.

    The tables are DataFrame arguments (``{lineitem}`` placeholders), not
    session temp views: PySpark binds each under a unique name and drops
    it after analysis, so concurrent calls for different ``sf_dir`` never
    read each other's tables."""
    # r14: catalog.spread on lineitem measured ~neutral here (the
    # count(DISTINCT) expand re-shuffles regardless) — the raw-SQL
    # surface reads exactly the catalog tables
    return spark.sql(
        """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
               count(DISTINCT o_orderkey)                        AS n_orders
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation} ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'N'
        GROUP BY n_name
        """,
        **{t: table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation")},
    )


ORACLE["sql_revenue_by_nation"] = """
SELECT n_name,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(38,6)), 2)::DOUBLE AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'N'
GROUP BY n_name
"""


# ------------------------------------------------------------------ C7
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide) event counts.

    Spark's window() emits each event into window_len/slide buckets; the
    oracle reproduces that with the two half-hour-aligned window starts.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


ORACLE["events_sliding"] = """
WITH starts AS (
    SELECT ts, event_type,
           unnest([
               date_trunc('hour', ts - INTERVAL 30 MINUTE)
                   + CASE WHEN extract(minute FROM ts - INTERVAL 30 MINUTE) >= 30
                          THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
               date_trunc('hour', ts)
                   + CASE WHEN extract(minute FROM ts) >= 30
                          THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
           ]) AS window_start
    FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events
FROM starts
GROUP BY 1, 2
"""


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of event value per event_type via Spark's
    mergeable quantile sketch (percentile_approx, accuracy 10k).

    The sketch path for quantiles at scale: one pass, map-side partial
    sketches merged per group — no per-group sort, bounded memory —
    where the exact twin (price_percentiles) must shuffle+sort full
    groups. rows-only gate (sketch internals are engine-specific);
    pytest bounds the rank error vs the exact percentiles.
    """
    ev = table(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000)
    return (
        ev.groupBy("event_type")
        .agg(pcts.alias("q"))
        .select(
            "event_type",
            F.round(F.col("q")[0], 4).alias("p50"),
            F.round(F.col("q")[1], 4).alias("p90"),
            F.round(F.col("q")[2], 4).alias("p99"),
        )
    )


SAMPLE_Q_RATE = int(0.25 * 4294967296)  # 25% of the uint32 hash space


def events_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-sample quantiles — the ORACLE-CHECKABLE approximate
    path beside the GK sketch (events_quantile_sketch, whose internals
    are engine-specific): a 25% hash-threshold sample on md5(event_id)
    (reproducible under any partitioning — never df.sample), then EXACT
    interpolated percentiles over the sample, floor-e4 emitted via the
    spark_percentile_sql mirror. Mergeable/scalable the same way any
    hash sample is; error ~ O(1/√(0.25·n)) per group.
    """
    ev = table(spark, sf_dir, "events")
    b = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    sampled = ev.where(b < SAMPLE_Q_RATE)
    return sampled.groupBy("event_type").agg(
        *[
            F.floor(F.expr(f"percentile(value, {q})") * 10000).alias(
                f"p{int(q * 100)}_e4"
            )
            for q in (0.5, 0.9, 0.99)
        ]
    )


def _events_quantile_sample_oracle() -> str:
    from ..functions import spark_percentile_sql

    cols = ", ".join(
        f"CAST(floor({spark_percentile_sql(str(q))} * 10000) AS BIGINT) AS p{int(q * 100)}_e4"
        for q in (0.5, 0.9, 0.99)
    )
    return f"""
WITH sampled AS (
    SELECT event_type, value FROM events
    WHERE ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
          < {SAMPLE_Q_RATE}
),
ranked AS (
    SELECT event_type, value AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM sampled
)
SELECT event_type, {cols}
FROM ranked GROUP BY event_type
"""


ORACLE["events_quantile_sample"] = _events_quantile_sample_oracle()


def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) value quartiles per order priority, profiled: count and
    value range of each quartile. The tile window partitions by priority
    — no global ordering, each group sorts independently."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


ORACLE["order_value_quartiles"] = """
SELECT o_orderpriority, quartile,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (
    SELECT o_orderpriority, o_totalprice,
           ntile(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
    FROM orders
)
GROUP BY o_orderpriority, quartile
"""


def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value outliers (|z| >= 3) per event_type.

    Group moments come from ONE aggregate (sum / sum-of-squares — the
    same closed form both engines evaluate, so the rounded z-scores are
    engine-portable) broadcast back onto the scan; no window over the
    full event set.
    """
    ev = table(spark, sf_dir, "events")
    # moment sums folded through exact decimals: a raw double sum is
    # partial-agg-order-dependent (the one nondeterminism a driver-side
    # shuffle layout could expose); the decimal sums are exact under any
    # partitioning and their ::double casts are the same value on both
    # engines. Filter on the unrounded z, emit floor(z·10³).
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,12)"))
        .cast("double")
        .alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", "event_id", z.alias("z"))
        .where(F.abs(F.col("z")) >= 3.0)
        .select("event_type", "event_id", F.floor(F.col("z") * 1000).alias("zscore_e3"))
    )


ORACLE["events_zscore_outliers"] = """
WITH stats AS (
    SELECT event_type, count(*) AS n,
           sum((value)::DECIMAL(18,6))::DOUBLE AS s,
           sum((value * value)::DECIMAL(28,12))::DOUBLE AS ss
    FROM events GROUP BY event_type
)
SELECT event_type, event_id,
       CAST(floor((value - s / n) / sqrt((ss - s * s / n) / (n - 1)) * 1000) AS BIGINT)
           AS zscore_e3
FROM events e JOIN stats USING (event_type)
WHERE abs((value - s / n) / sqrt((ss - s * s / n) / (n - 1))) >= 3.0
"""


def customer_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window profile over each customer's order history:
    percent_rank + cume_dist along the timeline, first/last price over
    the full frame. One shuffle on o_custkey; every window shares it."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # the ordering key includes the unique o_orderkey, so there are no
    # ties: percent_rank ≡ (rn−1)/(n−1) and cume_dist ≡ rn/n — emitted
    # as exact integer ppm (the engine-native double versions round
    # differently in the last ulp across engines)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wf).alias("npart"),
            F.round(F.first("o_totalprice").over(wf), 2).alias("first_price"),
            F.round(F.last("o_totalprice").over(wf), 2).alias("last_price"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr(
                "coalesce(((rn - 1) * 1000000L) div nullif(npart - 1, 0L), 0L)"
            ).alias("pr_ppm"),
            F.expr("(rn * 1000000L) div npart").alias("cd_ppm"),
            "first_price",
            "last_price",
        )
    )


ORACLE["customer_order_windows"] = """
SELECT o_custkey, o_orderkey,
       coalesce(((rn - 1) * 1000000) // nullif(npart - 1, 0), 0) AS pr_ppm,
       (rn * 1000000) // npart AS cd_ppm,
       first_price, last_price
FROM (
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           count(*) OVER wp AS npart,
           round(first_value(o_totalprice) OVER wf, 2) AS first_price,
           round(last_value(o_totalprice) OVER wf, 2) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wp AS (PARTITION BY o_custkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
"""


# ------------------------------------------------------------------ B37
_RFM_QS = (0.2, 0.4, 0.6, 0.8)


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), each
    scored 1-5 by exact quintiles — the classic CRM slicing.

    Scale-right scoring: quintile thresholds come from ONE 1-row
    aggregate broadcast into a narrow comparison map — never a global
    ntile/percent_rank window (which would sort every customer in a
    single task). Thresholds rounded to 6 dp on both engines so a
    boundary customer can't flip on float noise; recency anchors to the
    corpus max order date (deterministic, no wall clock).
    """
    from ..functions import dec_sum

    o = table(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dec_sum("o_totalprice").alias("monetary"),
        )
    )
    ref = per_cust.agg(F.max("last_order").alias("ref_date"))
    per_cust = per_cust.join(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_date", "last_order")
    )
    # raw (unrounded) thresholds: the oracle mirrors Spark's exact
    # percentile op sequence (spark_percentile_sql), so both engines hold
    # the identical threshold double and boundary customers compare the
    # same way — rounding the threshold would re-open the cross-engine
    # round() half-rule gap it was meant to close
    th = per_cust.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m[0]}q{int(q * 100)}")
            for m in ("recency_days", "frequency", "monetary")
            for q in _RFM_QS
        ]
    )
    scored = per_cust.join(F.broadcast(th))
    r_score = F.lit(5) - sum(
        (F.col("recency_days") > F.col(f"rq{int(q * 100)}")).cast("int") for q in _RFM_QS
    )
    f_score = F.lit(1) + sum(
        (F.col("frequency") > F.col(f"fq{int(q * 100)}")).cast("int") for q in _RFM_QS
    )
    m_score = F.lit(1) + sum(
        (F.col("monetary") > F.col(f"mq{int(q * 100)}")).cast("int") for q in _RFM_QS
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )


def _rfm_threshold_sql() -> str:
    """Per-metric ranked CTEs + Spark-exact percentile mirrors (see
    functions.spark_percentile_sql), cross-joined into one 1-row th."""
    from ..functions import spark_percentile_sql

    ctes, tables = [], []
    for m in ("recency_days", "frequency", "monetary"):
        a = m[0]
        ctes.append(
            f"r_{a} AS (SELECT {m}::DOUBLE AS v, "
            f"row_number() OVER (ORDER BY {m}) - 1 AS i, count(*) OVER () AS n FROM pc)"
        )
        cols = ", ".join(
            f"{spark_percentile_sql(str(q))} AS {a}q{int(q * 100)}" for q in _RFM_QS
        )
        ctes.append(f"th_{a} AS (SELECT {cols} FROM r_{a})")
        tables.append(f"th_{a}")
    return ",\n".join(ctes) + f",\nth AS (SELECT * FROM {' CROSS JOIN '.join(tables)})"


ORACLE["customer_rfm"] = f"""
WITH per_cust AS (
    SELECT o_custkey,
           max(CAST(o_orderdate AS DATE)) AS last_order,
           count(*) AS frequency,
           round(sum((o_totalprice)::DECIMAL(38,6)), 2)::DOUBLE AS monetary
    FROM orders GROUP BY 1
),
ref AS (SELECT max(last_order) AS ref_date FROM per_cust),
pc AS (
    SELECT p.*, date_diff('day', last_order, ref_date) AS recency_days
    FROM per_cust p CROSS JOIN ref
),
{_rfm_threshold_sql()}
SELECT o_custkey, recency_days, frequency, monetary,
       5 - ((recency_days > rq20)::INT + (recency_days > rq40)::INT
            + (recency_days > rq60)::INT + (recency_days > rq80)::INT) AS r_score,
       1 + ((frequency > fq20)::INT + (frequency > fq40)::INT
            + (frequency > fq60)::INT + (frequency > fq80)::INT) AS f_score,
       1 + ((monetary > mq20)::INT + (monetary > mq40)::INT
            + (monetary > mq60)::INT + (monetary > mq80)::INT) AS m_score
FROM pc CROSS JOIN th
"""


# ------------------------------------------------------------------ B38
def order_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    quarter; per (cohort, quarters-since) cell, revenue, active customers,
    and cumulative LTV per cohort member — the B2C analytics staple behind
    "how fast does a cohort pay back".

    Scale shape: the first-order date is one groupBy on o_custkey and the
    join back shares that key partitioning; cells aggregate to a tiny
    (cohorts × quarters) frame, so the cumulative window runs on the
    result, not the fact table. dec_sum keeps cell revenue exact under any
    partitioning; the cumulative sum folds ≤ O(quarters) already-rounded
    cells in deterministic q_index order, so both engines fold identically.
    """
    from ..functions import dec_sum

    orders = table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_date"))
    cohorted = orders.join(first, "o_custkey").select(
        "o_custkey",
        "o_totalprice",
        F.trunc("first_date", "quarter").alias("cohort_q"),
        (
            F.months_between(
                F.trunc("o_orderdate", "quarter"), F.trunc("first_date", "quarter")
            )
            / 3
        )
        .cast("int")
        .alias("q_index"),
    )
    size = cohorted.groupBy("cohort_q").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    cell = cohorted.groupBy("cohort_q", "q_index").agg(
        dec_sum("o_totalprice", 2).alias("revenue"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )
    w = (
        Window.partitionBy("cohort_q")
        .orderBy("q_index")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.join(F.broadcast(size), "cohort_q")
        .select(
            F.date_format("cohort_q", "yyyy-MM-dd").alias("cohort_q"),
            "q_index",
            "cohort_size",
            "active_customers",
            "revenue",
            # DECIMAL window sum (DuckDB's windowed double sum uses a
            # segment tree — different association order than a left
            # fold), then integer cents floor-divided per member: the
            # exact quotient can land on a .xx5 that double-rounds
            # differently across engines, so no float touches the metric
            (
                (F.sum(F.col("revenue").cast("decimal(18,2)")).over(w) * 100)
                .cast("bigint")
            ).alias("cum_cents"),
        )
        .select(
            "cohort_q",
            "q_index",
            "cohort_size",
            "active_customers",
            "revenue",
            F.expr("cum_cents div cohort_size").alias("cum_ltv_cents"),
        )
    )


ORACLE["order_cohort_ltv"] = f"""
WITH first AS (
    SELECT o_custkey, min(o_orderdate) AS first_date FROM orders GROUP BY 1
),
cohorted AS (
    SELECT o.o_custkey, o.o_totalprice,
           date_trunc('quarter', f.first_date) AS cohort_q,
           date_diff('quarter', date_trunc('quarter', f.first_date),
                     date_trunc('quarter', o.o_orderdate)) AS q_index
    FROM orders o JOIN first f USING (o_custkey)
),
sizes AS (
    SELECT cohort_q, count(DISTINCT o_custkey) AS cohort_size
    FROM cohorted GROUP BY 1
),
cells AS (
    SELECT cohort_q, q_index,
           {DEC_SUM_SQL.format(expr="o_totalprice", scale=2)} AS revenue,
           count(DISTINCT o_custkey) AS active_customers
    FROM cohorted GROUP BY 1, 2
)
SELECT strftime(cells.cohort_q, '%Y-%m-%d') AS cohort_q, q_index,
       cohort_size, active_customers, revenue,
       (sum(revenue::DECIMAL(18,2)) OVER (PARTITION BY cells.cohort_q ORDER BY q_index
                                          ROWS UNBOUNDED PRECEDING) * 100)::BIGINT
           // cohort_size AS cum_ltv_cents
FROM cells JOIN sizes USING (cohort_q)
"""


# ------------------------------------------------------------------ B39
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration per nation: Herfindahl-Hirschman index over
    supplier revenue shares (Σ share² × 10⁴) — the antitrust-style
    concentration report.

    Per-supplier revenue reduces the fact table in one hash aggregate;
    the per-nation Σrev and Σrev² fold exactly in DECIMAL (a 2-dp double
    casts to DECIMAL(18,2) losslessly, and the (37,4) product is exact),
    so the one final double division can't flip with partitioning.
    """
    from ..functions import dec_sum

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("rev"),
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    srev = li.groupBy("l_suppkey").agg(dec_sum("rev", 2).alias("supp_rev"))
    # 19,2: wide enough that the product type (19+19 = 38 digits) holds
    # the square exactly in BOTH engines (DuckDB errors on a DECIMAL(18)
    # multiply overflow instead of widening)
    dec = F.col("supp_rev").cast("decimal(19,2)")
    # integer cents: HHI×10⁴ (4 implied decimals) is exact bigint/decimal
    # arithmetic end-to-end — the cents scale cancels in Σc²/（Σc)², so no
    # double round() whose last ulp could differ cross-engine
    cents = F.expr("CAST(supp_rev * 100 AS DECIMAL(18,0))")
    return (
        # supplier is UNHINTED (scales with SF, r10): AQE broadcasts it
        # at small scale from size stats; nation (25 rows) keeps its hint
        srev.join(sup, srev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(dec).cast("double").alias("total_rev_raw"),
            F.sum(cents).alias("t_cents"),
            F.sum(cents * cents).alias("sq_cents"),
        )
        .select(
            "n_name",
            "n_suppliers",
            F.round("total_rev_raw", 2).alias("total_rev"),
            F.expr("(sq_cents * 100000000L) div (t_cents * t_cents)").alias("hhi_e4"),
        )
    )


ORACLE["supplier_hhi"] = f"""
WITH srev AS (
    SELECT l_suppkey,
           {DEC_SUM_SQL.format(expr="l_extendedprice * (1.0 - l_discount)", scale=2)} AS supp_rev
    FROM lineitem GROUP BY 1
)
SELECT n_name,
       count(*) AS n_suppliers,
       round(sum(supp_rev::DECIMAL(19,2))::DOUBLE, 2) AS total_rev,
       CAST((sum(CAST(supp_rev * 100 AS HUGEINT) * CAST(supp_rev * 100 AS HUGEINT)) * 100000000)
            // (sum(CAST(supp_rev * 100 AS HUGEINT)) * sum(CAST(supp_rev * 100 AS HUGEINT)))
            AS BIGINT) AS hhi_e4
FROM srev
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


QUERIES = {
    "customer_rfm": customer_rfm,
    "order_cohort_ltv": order_cohort_ltv,
    "supplier_hhi": supplier_hhi,
    "events_quantile_sketch": events_quantile_sketch,
    "events_quantile_sample": events_quantile_sample,
    "order_value_quartiles": order_value_quartiles,
    "events_zscore_outliers": events_zscore_outliers,
    "customer_order_windows": customer_order_windows,
    "running_total": running_total,
    "order_gap_days": order_gap_days,
    "price_percentiles": price_percentiles,
    "pivot_status": pivot_status,
    "customers_without_orders": customers_without_orders,
    "segment_set_ops": segment_set_ops,
    "sql_revenue_by_nation": sql_revenue_by_nation,
    "events_sliding": events_sliding,
}
