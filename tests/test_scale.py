from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from grapefruit_spark.operators.scale import (
    ORACLE,
    bucketed_join,
    salted_agg,
    scale_skew_sim,
    write_bucketed,
)
from grapefruit_spark.plans import executed_plan

from .conftest import SF_DIR
from .util import assert_matches_oracle


def test_salted_agg_matches_plain(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    salted = salted_agg(
        li,
        "l_returnflag",
        {"n": F.count(F.lit(1)), "qty": F.sum("l_quantity")},
        salt_buckets=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty")
    )
    got = {r["l_returnflag"]: (r["n"], round(r["qty"], 6)) for r in salted.collect()}
    want = {r["l_returnflag"]: (r["n"], round(r["qty"], 6)) for r in plain.collect()}
    assert got == want


def test_salted_agg_two_phase_plan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = executed_plan(
        salted_agg(li, "l_returnflag", {"n": F.count(F.lit(1))}, salt_buckets=8)
    )
    assert plan.count("Exchange hashpartitioning") == 2  # (key,salt) then key


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "t_orders_b", "okey", 8)
    write_bucketed(li.withColumnRenamed("l_orderkey", "okey"), "t_lineitem_b", "okey", 8)
    yield "t_orders_b", "t_lineitem_b"
    for t in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    """With broadcast disabled (the 100 TB fact-fact case), same-bucketed
    tables sort-merge join with no shuffle exchange at all."""
    lt, rt = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(bucketed_join(spark, lt, rt, "okey"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, f"bucketed join shuffled:\n{plan[:600]}"


def test_bucketed_join_correct(spark, bucketed_tables):
    lt, rt = bucketed_tables
    n = bucketed_join(spark, lt, rt, "okey").count()
    want = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert n == want


def test_aqe_splits_skewed_join(spark):
    """AQE must split a pathologically skewed join partition (the runtime
    answer to single-hot-key skew at scale). Thresholds are lowered so
    local-scale data trips the same code path a 100 TB hot key would."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # thresholds compare COMPRESSED shuffle sizes — keep them small and
        # the payload incompressible (md5) so local-scale data crosses them
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        big = spark.range(100_000).select(
            F.when(F.col("id") < 90_000, F.lit(0)).otherwise(F.col("id") % 64).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(64).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        joined = big.join(dim, "k").select(F.count(F.lit(1)).alias("n"))
        # execute THIS dataset (count() would build a separate plan whose
        # adaptive execution we couldn't inspect afterwards)
        assert joined.collect()[0]["n"] == 100_000  # correctness under the split
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not mark the skew split: {plan[:500]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scale_skew_sim_frame_outlives_a_later_call(spark, duck):
    """A later call writes tables of its own: the frame of an earlier call,
    on other data, still reads its own tables and gives its own answer."""
    first = scale_skew_sim(spark, SF_DIR)
    later = scale_skew_sim(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    assert_matches_oracle(first, duck, ORACLE["scale_skew_sim"])
    assert sum(r["n_items"] for r in later.collect()) > sum(r["n_items"] for r in first.collect())
