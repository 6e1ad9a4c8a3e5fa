"""Empirical scale-up probe: does each heavy plan survive 10× the data?

Builds a 10×-scaled copy of the sf0.1 fact tables in /tmp/sfbig —
orders/lineitem replicated with shifted orderkeys (same customers /
suppliers / parts, i.e. realistic per-key densification) and events
replicated with shifted user/event ids (independent user streams) —
then times representative heavy operators at both scales and prints the
wall-clock ratio. A plan whose ratio tracks ~10× has a linear hot path;
a ratio far above 10× means a quadratic term is hiding; ratios ≲2× mean
the local numbers are fixed-overhead-dominated and say little about the
asymptote (the usual result at these sizes).

Usage: python tools/scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
BIG = "/tmp/sfbig"


def build_big() -> None:
    import duckdb

    os.makedirs(BIG, exist_ok=True)
    con = duckdb.connect()
    for t in ("region nation customer supplier part documents embeddings").split():
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{BIG}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.sql(f"""
COPY (
  SELECT o_orderkey + 10000000 * g.i AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet'), (SELECT unnest(range(10)) AS i) g
) TO '{BIG}/orders.parquet' (FORMAT PARQUET)""")
    con.sql(f"""
COPY (
  SELECT l_orderkey + 10000000 * g.i AS l_orderkey, l_partkey, l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet'), (SELECT unnest(range(10)) AS i) g
) TO '{BIG}/lineitem.parquet' (FORMAT PARQUET)""")
    con.sql(f"""
COPY (
  SELECT event_id + 100000000 * g.i AS event_id, ts,
         user_id + 1000000 * g.i AS user_id, event_type, value, props
  FROM read_parquet('{SRC}/events.parquet'), (SELECT unnest(range(10)) AS i) g
) TO '{BIG}/events.parquet' (FORMAT PARQUET)""")


def build_corpus(path: str, n_docs: int, seed: int = 7) -> None:
    """Zipfian-vocabulary corpus (20k types, 30-300 tokens/doc, 2%
    planted near-dups) — the REALISTIC text distribution; the driver
    testdata's ~31-type vocabulary makes every doc near-similar and is
    the worst case for similarity pruning."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(20000)]
    weights = [1.0 / (i + 10) ** 1.1 for i in range(20000)]
    rows = []
    for i in range(n_docs):
        n = rng.randint(30, 300)
        text = " ".join(rng.choices(vocab, weights, k=n))
        rows.append((i, text, rng.choice(["en", "de", "fr"]),
                     rng.choice(["web", "wiki", "code"]), len(text)))
    base = len(rows)
    for j in range(n_docs // 50):
        src = rng.randrange(base)
        toks = rows[src][1].split()
        for _ in range(max(1, len(toks) // 50)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        t = " ".join(toks)
        rows.append((base + j, t, rows[src][2], "dupe", len(t)))
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["n_chars"].astype("int64")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)


def docs_mode() -> None:
    """10× document-corpus probe for the dedup/text family (invoked with
    `--docs`): 5k vs 50k Zipfian docs, planted near-dups both."""
    from grapefruit_spark.operators import dedup, search, text
    from grapefruit_spark.session import get_spark

    build_corpus("/tmp/zipf1/documents.parquet", 5_000)
    build_corpus("/tmp/zipf10/documents.parquet", 50_000)
    spark = get_spark("scale-probe-docs")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn, sf_dir: str) -> float:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rid in list(jsc.getPersistentRDDs().keySet().toArray()):
            jsc.sc().unpersistRDD(rid, False)
        return best

    cases = [
        ("ngram_jaccard_pairs", dedup.ngram_jaccard_pairs),
        ("dedup_minhash", dedup.dedup_minhash),
        ("dedup_simhash", dedup.dedup_simhash),
        ("tfidf_top_terms", search.tfidf_top_terms),
        ("token_count", text.token_count),
    ]
    print("| query | 5k docs s | 50k docs s | ratio |")
    print("|---|---|---|---|")
    for name, fn in cases:
        t1 = run(fn, "/tmp/zipf1")
        t10 = run(fn, "/tmp/zipf10")
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {t10 / t1:.1f}x |")


SKEW_DIR = "/tmp/skewprobe"


def build_skew(spark) -> None:
    """Zipfian-keyed fact + uniform control + non-broadcastable dim.

    fact_skew: 8M rows; key 0 holds EXACTLY 20% of rows, the remainder
    spreads uniformly over 400k keys (~16 rows/key) — the hot shuffle
    partition is ~75× the median. fact_uniform: same 8M rows, all keys
    uniform. dim: one row per key with a 128-char incompressible pad
    (4×md5) so its ~50 MB never falls under the broadcast threshold and
    the join stays a genuine shuffled fact-fact/SMJ shape — a
    compressible pad would let AQE demote the join to broadcast and
    dodge the skew machinery entirely."""
    from pyspark.sql import functions as F

    done = os.path.join(SKEW_DIR, "_done")
    if os.path.exists(done):
        return
    os.makedirs(SKEW_DIR, exist_ok=True)
    n_keys = 400_000
    base = spark.range(8_000_000)
    skew = base.select(
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)) + 1)
        .alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    skew.write.mode("overwrite").parquet(f"{SKEW_DIR}/fact_skew.parquet")
    uni = base.select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_keys + 1)).alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    uni.write.mode("overwrite").parquet(f"{SKEW_DIR}/fact_uniform.parquet")
    # wide fact for the bloom probe: an incompressible 64-char payload
    # makes the fact SHUFFLE the dominant cost, so pre-shuffle pruning
    # has something to save (with narrow bigint rows the bloom build
    # costs more than the tiny shuffle it prunes — measured)
    wide = base.select(
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_keys + 1)).alias("k"),
        (F.col("id") % 997).alias("v"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.md5(F.concat(F.col("id").cast("string"), F.lit("p"))),
        ).alias("payload"),
    )
    wide.write.mode("overwrite").parquet(f"{SKEW_DIR}/fact_wide.parquet")
    ids = spark.range(n_keys + 1).select(F.col("id").alias("k"))
    dim = ids.select(
        "k",
        F.concat(
            F.md5(F.col("k").cast("string")),
            F.md5(F.concat(F.col("k").cast("string"), F.lit("a"))),
            F.md5(F.concat(F.col("k").cast("string"), F.lit("b"))),
            F.md5(F.concat(F.col("k").cast("string"), F.lit("c"))),
        ).alias("pad"),
    )
    dim.write.mode("overwrite").parquet(f"{SKEW_DIR}/dim.parquet")
    open(done, "w").close()


def skew_mode() -> None:
    """AQE skew-join probe (`--skew`, r8 order #5): demonstrate that
    spark.sql.adaptive.skewJoin actually SPLITS the hot partition of a
    Zipfian fact-fact join at runtime — plan evidence (`skew=true` in
    the final adaptive plan) plus wall-clock vs both the skew-handling-
    off run and the uniform-key control.

    The skew thresholds are scaled to the probe's data (the defaults —
    256 MB threshold — are sized for production shuffle partitions):
    detection compares COMPRESSED map-output sizes, and the probe's hot
    partition is ~10 MB compressed. On a real cluster the same ratios
    hold at the default thresholds. Static salting (operators/scale.py)
    remains the plan-level alternative; this probe covers the RUNTIME
    path §6 leans on at 100×."""
    from grapefruit_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_skew(spark)
    from pyspark.sql import functions as F

    dim = spark.read.parquet(f"{SKEW_DIR}/dim.parquet")
    # thresholds scaled to the probe (see docstring); factor stays
    # conservative so uniform partitions are never split
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    # pin the SHUFFLED join strategy: the probe's miniature tables
    # compress under the broadcast threshold (observed: Spark happily
    # broadcast the 8M-row fact — (k, v) bigints compress to single-MB
    # parquet), which dodges the skew machinery entirely. The production
    # scenario this probe stands in for is a fact-fact join where
    # NEITHER side can broadcast; disabling the threshold reproduces
    # that shape at probe scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def run(fact_name: str, skew_on: bool) -> tuple[float, int]:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
        )

        # the aggregate must CONSUME pad: column pruning would otherwise
        # strip it from the dim scan, the 400k-row key column broadcasts
        # (3 MB), and the probe silently measures a BroadcastHashJoin
        # with no skew machinery in sight (observed on the first cut).
        # A FRESH DataFrame per timed run: re-collecting one DF reuses
        # its completed AQE query stages (shuffles included) and times
        # only the final stage (also observed on the first cut).
        def build():
            fact = spark.read.parquet(f"{SKEW_DIR}/{fact_name}.parquet")
            return fact.join(dim, "k").agg(
                F.sum("v").alias("sv"),
                F.sum(F.length("pad")).alias("spad"),
                F.count(F.lit(1)).alias("n"),
            )

        build().collect()  # warm (file listing, codegen)
        best = float("inf")
        plan = ""
        for _ in range(3):
            df = build()
            t0 = time.perf_counter()
            df.collect()
            best = min(best, time.perf_counter() - t0)
            plan = df._jdf.queryExecution().executedPlan().toString()
        return best, plan.count("skew=true")

    print("| fact | skewJoin | wall s | skew=true in final plan |")
    print("|---|---|---|---|")
    for fact_name in ("fact_skew", "fact_uniform"):
        for skew_on in (False, True):
            wall, nskew = run(fact_name, skew_on)
            print(
                f"| {fact_name} | {'on' if skew_on else 'off'} "
                f"| {wall:.2f} | {nskew} |"
            )


def bloom_mode() -> None:
    """Runtime bloom-filter join pruning probe (`--bloom`): when one join
    side is made selective by a filter, Spark (3.5+) can inject a bloom
    filter built from that side into the OTHER side's scan
    (`might_contain` in the plan), dropping non-matching fact rows
    BEFORE the shuffle — at 100 TB that's the difference between
    shuffling the full fact table and shuffling the ~1% that can join.
    Reuses the skew probe's tables; dim filtered to 1% of keys.
    Thresholds scaled to probe size (defaults expect a 10 GB application
    side); broadcast disabled for the same reason as the skew probe."""
    from pyspark.sql import functions as F

    from grapefruit_spark.session import get_spark

    spark = get_spark("bloom-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_skew(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1MB",
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )

    def run(on: bool) -> tuple[float, int, int]:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", str(on).lower()
        )

        def build():
            fact = spark.read.parquet(f"{SKEW_DIR}/fact_wide.parquet")
            # the selective predicate must be on a NON-KEY column: a
            # key-expressible filter (k % 100 == 0, the first cut)
            # transits the equi-join via constraint propagation and
            # lands on the fact SCAN deterministically — Catalyst makes
            # the bloom filter redundant before it's even considered.
            # ~1.2% of pads start below '03' in hex
            dim = spark.read.parquet(f"{SKEW_DIR}/dim.parquet").where(
                F.substring("pad", 1, 2) < "03"
            )
            return fact.join(dim, "k").agg(
                F.sum("v").alias("sv"),
                F.sum(F.length("payload")).alias("spay"),
                F.sum(F.length("pad")).alias("sp"),
                F.count(F.lit(1)).alias("n"),
            )

        build().collect()  # warm
        best, plan, rows = float("inf"), "", 0
        for _ in range(3):
            df = build()
            t0 = time.perf_counter()
            rows = df.collect()[0]["n"]
            best = min(best, time.perf_counter() - t0)
            plan = df._jdf.queryExecution().executedPlan().toString()
        return best, plan.count("might_contain"), rows

    print("| bloomFilter | wall s | might_contain in plan | join rows |")
    print("|---|---|---|---|")
    for on in (False, True):
        wall, nbloom, rows = run(on)
        print(f"| {'on' if on else 'off'} | {wall:.2f} | {nbloom} | {rows} |")


def build_embeddings(path: str, n_vecs: int, seed: int = 11) -> None:
    """Clustered 64-d float32 vectors (10 gaussian cells — the structure
    IVF/kmeans exploit) with 2% planted near-dups (a copy of an earlier
    vector plus ~1% noise — the structure the neardup/semantic ops hunt).
    The 10× table keeps cell count and dup fraction fixed so the probe
    measures data scaling, not distribution drift."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    k = 10
    centers = rng.normal(size=(k, 64))
    labels = rng.integers(0, k, n_vecs)
    vecs = centers[labels] + 0.3 * rng.normal(size=(n_vecs, 64))
    n_dup = n_vecs // 50
    src = rng.integers(0, n_vecs - n_dup, n_dup)
    vecs[-n_dup:] = vecs[src] + 0.01 * rng.normal(size=(n_dup, 64))
    labels[-n_dup:] = labels[src]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row for row in vecs.astype("float32")], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )
    pq.write_table(tbl, path)


def emb_mode() -> None:
    """10× embeddings probe for the ANN/semantic family (`--emb`): the
    cogrouped block-pair matmul (embedding_neardup) and the per-cell
    quadratic stage (semantic_dedup) are the two places a super-linear
    term could still hide (VERDICT r6 order #4)."""
    from grapefruit_spark.operators import ml, similarity
    from grapefruit_spark.session import get_spark

    build_embeddings("/tmp/emb1/embeddings.parquet", 2_000)
    build_embeddings("/tmp/emb10/embeddings.parquet", 20_000)
    spark = get_spark("scale-probe-emb")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn, sf_dir: str) -> float:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rid in list(jsc.getPersistentRDDs().keySet().toArray()):
            jsc.sc().unpersistRDD(rid, False)
        return best

    cases = [
        ("knn_lsh", similarity.knn_lsh),
        ("knn_ivf_trained", similarity.knn_ivf_trained),
        ("embedding_neardup", similarity.embedding_neardup),
        ("semantic_dedup", ml.semantic_dedup),
    ]
    print("| query | 2k vecs s | 20k vecs s | ratio |")
    print("|---|---|---|---|")
    for name, fn in cases:
        t1 = run(fn, "/tmp/emb1")
        t10 = run(fn, "/tmp/emb10")
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {t10 / t1:.1f}x |")


def main() -> None:
    from grapefruit_spark.operators import (
        analytics,
        event_analytics,
        graph,
        relational,
        relational_ext,
        windows,
    )
    from grapefruit_spark.session import get_spark

    build_big()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    cases = [
        ("q1_pricing_summary", relational.q1_pricing_summary),
        ("q9_product_profit", relational_ext.q9_product_profit),
        ("q18_large_volume", relational.q18_large_volume),
        ("events_sessionize", windows.events_sessionize),
        ("events_top_paths", event_analytics.events_top_paths),
        ("events_heavy_hitters", event_analytics.events_heavy_hitters),
        ("copurchase_triangles", graph.copurchase_triangles),
        ("supplier_pagerank", graph.supplier_pagerank),
        ("customer_rfm", analytics.customer_rfm),
    ]

    def run(fn, sf_dir: str) -> float:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rid in list(jsc.getPersistentRDDs().keySet().toArray()):
            jsc.sc().unpersistRDD(rid, False)
        return best

    print(f"| query | sf0.1 s | 10x s | ratio |")
    print("|---|---|---|---|")
    for name, fn in cases:
        t1 = run(fn, SRC)
        t10 = run(fn, BIG)
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {t10 / t1:.1f}x |")


if __name__ == "__main__":
    if "--docs" in sys.argv:
        docs_mode()
    elif "--emb" in sys.argv:
        emb_mode()
    elif "--skew" in sys.argv:
        skew_mode()
    elif "--bloom" in sys.argv:
        bloom_mode()
    else:
        main()
