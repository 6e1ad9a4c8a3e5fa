"""Scale-out primitives (SURVEY §2 A13 / §6): skew salting and bucketed
co-located joins. These are engine utilities rather than queries — a
100 TB job reaches for them when AQE alone isn't enough (extreme
single-key skew, repeated fact-fact joins on the same key).

`scale_skew_sim` (r10, VERDICT_r9 order #5) drives both primitives
through the driver's hash gate: plan-shape guarantees (two-phase
exchange count, zero-exchange bucketed join) stay in test_scale.py
where they belong; the sim proves the REWRITES ARE SEMANTICS-PRESERVING
against a plain-SQL oracle on the same inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ORACLE: dict[str, str] = {}


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation under key skew.

    Phase 1 groups on (key, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers instead of one; phase 2 merges the partials
    on the real key (tiny input: buckets × distinct keys). Every agg in
    ``aggs`` must be re-aggregable by SUM after phase 1 (sum/count);
    compose avg as sum/count at the call site.

    The reference's range shuffle (JuiceJob.java:3) has the same failure
    mode — one hot key pins one juice task — and no counterpart to this.
    """
    salt = (F.abs(F.xxhash64(F.monotonically_increasing_id())) % salt_buckets).alias("_salt")
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*[c.alias(f"_p_{name}") for name, c in aggs.items()])
    )
    return phase1.groupBy(key).agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist a dataset bucketed (and optionally sorted) on its join key.

    Two tables bucketed the same way join with ZERO exchange — the
    pre-shuffle is paid once at write time and amortized over every later
    join. This is the Spark-native version of the reference's
    hash-partitioned intermediate files (MapleJuice.java:677), made
    durable and reusable. With ``path`` the files go there instead of
    under the session's warehouse directory.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables; plan tests assert no Exchange."""
    return spark.table(left_table).join(spark.table(right_table), on)


# ------------------------------------------------------------------ A13
def scale_skew_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible A13 round trip: per-supplier revenue via
    ``salted_agg`` (two-phase, skew-immune), both sides written with
    ``write_bucketed`` on the join key, re-joined with ``bucketed_join``
    (zero exchange — pinned in test_scale.py), rolled up per nation.

    Every aggregate is DECIMAL (exact, order-independent), so the hash
    can only match if the salted two-phase rewrite and the bucketed
    write→read→join path preserve semantics bit-for-bit vs the oracle's
    plain GROUP BY + JOIN.
    """
    import os
    import uuid

    from ..catalog import table
    from ..streaming.events import scratch_dir

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
    )
    srev = salted_agg(
        li,
        "l_suppkey",
        {"rev_dec": F.sum("rev"), "n_items": F.count(F.lit(1))},
        salt_buckets=8,
    ).withColumnRenamed("l_suppkey", "s_suppkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # tables of this call only, named and stored apart from every other
    # call's: the frame returned reads them whenever it runs
    base = scratch_dir("gf_scale_sim_")
    srev_t, supp_t = (f"gf_scale_sim_{t}_{uuid.uuid4().hex}" for t in ("srev", "supp"))
    write_bucketed(srev, srev_t, "s_suppkey", 8, path=os.path.join(base, "srev"))
    write_bucketed(supp, supp_t, "s_suppkey", 8, path=os.path.join(base, "supp"))
    joined = bucketed_join(spark, srev_t, supp_t, "s_suppkey")
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("n_items").alias("n_items"),
            F.round(F.sum("rev_dec"), 2).cast("double").alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


ORACLE["scale_skew_sim"] = """
WITH srev AS (
    SELECT l_suppkey AS s_suppkey,
           sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS rev_dec,
           count(*) AS n_items
    FROM lineitem GROUP BY 1
)
SELECT s_nationkey, count(*) AS n_suppliers,
       CAST(sum(n_items) AS BIGINT) AS n_items,
       round(sum(rev_dec), 2)::DOUBLE AS revenue
FROM srev JOIN supplier USING (s_suppkey)
GROUP BY 1
ORDER BY s_nationkey
"""


# ----------------------------------------------------------------- A13b
#: rows a single reducer task should see before a key gets salted
SKEW_TARGET_ROWS = 10_000


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report a 100 TB operator reads
    BEFORE picking a salting factor or trusting AQE's skew-join split:
    the log₂-binned histogram of per-key weights for the
    lineitem.l_partkey join axis (one row per occupied weight bin, so
    the output is O(log max_weight) ≈ ≤ 40 rows at ANY scale), each bin
    carrying its key count, row mass, row share in ppm, the heaviest
    key inside the bin, and the salt factor ceil(max_weight /
    SKEW_TARGET_ROWS) that bin's keys would need. A healthy key is
    salt_factor = 1; the whale bins at the bottom of the report are the
    keys AQE will split or salted_agg should spread.

    Scale shape: one map-side-combined groupBy(key) collapses the fact
    table to its key frame, a second O(bins) aggregate collapses that —
    no windows, no sorts over the key frame (a global weight sort is
    exactly the C34 anti-pattern this report replaces). The bin index
    is the all-integer binary-length device, length(bin(w)) − 1 =
    floor(log₂ w) with NO float log whose last-ulp could flip a
    boundary key between engines.
    """
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem").where(F.col("l_partkey").isNotNull())
    keys = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("w"))
    binned = keys.select(
        (F.length(F.bin(F.col("w"))) - 1).cast("int").alias("bin"), "w"
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("w").cast("bigint").alias("n_rows"),
        F.max("w").cast("bigint").alias("max_weight"),
    )
    tot = per_bin.agg(F.sum("n_rows").alias("t_rows"))
    return (
        per_bin.join(F.broadcast(tot))
        .select(
            "bin",
            F.expr("shiftleft(cast(1 as bigint), bin)").alias("lo_weight"),
            "n_keys",
            "n_rows",
            F.expr("(n_rows * 1000000L) div nullif(t_rows, 0)").alias("rows_ppm"),
            "max_weight",
            F.expr(
                f"(max_weight + {SKEW_TARGET_ROWS - 1}L) div {SKEW_TARGET_ROWS}L"
            ).alias("salt_factor"),
        )
        .orderBy("bin")
    )


ORACLE["join_skew_report"] = f"""
WITH keys AS (
    SELECT l_partkey, count(*) AS w
    FROM lineitem WHERE l_partkey IS NOT NULL
    GROUP BY 1
),
per_bin AS (
    SELECT (length(format('{{:b}}', w)) - 1)::INT AS bin,
           count(*) AS n_keys,
           CAST(sum(w) AS BIGINT) AS n_rows,
           CAST(max(w) AS BIGINT) AS max_weight
    FROM keys GROUP BY 1
),
tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t_rows FROM per_bin)
SELECT bin,
       (1::BIGINT << bin) AS lo_weight,
       n_keys,
       n_rows,
       CAST((n_rows * 1000000) // nullif(t_rows, 0) AS BIGINT) AS rows_ppm,
       max_weight,
       CAST((max_weight + {SKEW_TARGET_ROWS - 1}) // {SKEW_TARGET_ROWS} AS BIGINT)
           AS salt_factor
FROM per_bin CROSS JOIN tot
ORDER BY bin
"""


QUERIES = {
    "scale_skew_sim": scale_skew_sim,
    "join_skew_report": join_skew_report,
}
