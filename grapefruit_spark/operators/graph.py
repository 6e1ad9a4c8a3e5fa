"""Iterative graph operators (SURVEY §2 D12): connected components over
the near-duplicate pair graph → dedup clusters.

The loop is driver-coordinated but all data movement is joins — no
collect of edges or labels. reliability.pin() truncates lineage each
round so plan size stays O(1) across iterations (the classic Spark
iterative-algorithm pitfall); with SPARK_GRAFT_CHECKPOINT_DIR set it
upgrades to durable checkpoints that survive executor loss (the Spark
analog of the reference re-replicating SDFS blocks on failure). Dedup graphs have tiny diameters, so
convergence is a handful of rounds; the cap bounds the worst case.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..reliability import pin, unpin

ORACLE: dict[str, str] = {}

MAX_ITERS = 10

#: edge sets up to this many rows run the whole min-label fixpoint in one
#: numpy kernel (a single applyInPandas group ≈ ~32 MB Arrow batch) —
#: the same small-graph tier pagerank() uses (PR_FUSED_MAX_EDGES, same
#: rationale): after LSH/prefix pruning a dedup pair graph is orders of
#: magnitude smaller than the corpus, and each DataFrame CC round costs
#: a checkpoint job + an agg job (~0.5 s) for microseconds of actual
#: label propagation. Above the threshold the distributed loop below
#: takes over — the layout that holds at 100 TB, and the tier
#: dedup_clusters_star keeps driver-gated every round. Unlike the
#: pagerank kernel there is no float in CC at ALL: both tiers compute
#: the identical integer fixpoint (component = min reachable id), so
#: tier choice can never flip a value.
CC_FUSED_MAX_EDGES = 2_000_000


def _cc_fused(sym: DataFrame) -> DataFrame:
    """Min-label fixpoint over one Arrow batch: vectorized
    Shiloach-Vishkin-style rounds (hook minimum + pointer halving),
    O(E) work per round, O(log n) rounds. Exact integer result —
    identical to the distributed loop's fixpoint."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        a = pdf["a"].to_numpy(dtype="int64")
        b = pdf["b"].to_numpy(dtype="int64")
        nodes = np.unique(a)  # sym is symmetric: every node appears as a
        ai = np.searchsorted(nodes, a)
        bi = np.searchsorted(nodes, b)
        # labels live in INDEX space; nodes is sorted ascending, so the
        # min index is the min node id — map back at the end
        lab = np.arange(len(nodes), dtype="int64")
        while True:
            prev = lab
            nxt = lab.copy()
            np.minimum.at(nxt, ai, lab[bi])  # hook: pull neighbor minima
            nxt = nxt[nxt]  # pointer halving: jump one level per round
            if np.array_equal(nxt, prev):
                break
            lab = nxt
        return pd.DataFrame({"node": nodes, "component": nodes[lab]})

    return sym.groupBy(F.lit(1).alias("g")).applyInPandas(
        kernel, "node bigint, component bigint"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    fused_max_edges: int = CC_FUSED_MAX_EDGES,
) -> DataFrame:
    """Min-label propagation: returns (node, component) with component =
    min node id reachable. Non-SQL-expressible (iterative) → rows-only.
    Edge sets ≤ fused_max_edges run the fused numpy kernel (see
    CC_FUSED_MAX_EDGES); pass 0 to force the distributed loop.
    """
    spark = edges.sparkSession
    # one job materializes the symmetrized edge set; the expensive edge
    # pipeline under both union branches is identical, so ReuseExchange
    # computes it once inside that job
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .transform(pin)
    )
    # Size iteration parallelism to the edge set, not the corpus: after
    # LSH pruning the graph is orders of magnitude smaller than the input,
    # and per-iteration shuffle/task overhead at corpus-width partitioning
    # dominates. ~100k edges per partition keeps tasks ms-scale; the
    # explicit hash partitioning on the join key is reused by every
    # iteration's join (no per-round exchange of sym).
    n_edges = sym.count()
    if fused_max_edges > 0 and n_edges <= fused_max_edges:
        return _cc_fused(sym)
    parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000))
    sym = sym.repartition(parts, "b").transform(pin)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .repartition(parts, "node")
        .transform(pin)
    )
    pinned = labels
    for _ in range(MAX_ITERS):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        nxt = F.least(
            F.col("component"), F.coalesce("nbr_component", F.col("component"))
        )
        # carry the convergence flag in-row: the changed check is then a
        # cheap agg over the checkpointed result, not another join job
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                nxt.alias("component"),
                (nxt < F.col("component")).cast("int").alias("changed"),
            )
            .transform(pin)
        )
        changed = new_labels.agg(F.sum("changed")).first()[0] or 0
        # new_labels is materialized — the previous generation's blocks
        # are dead weight now; release them so the loop holds at most two
        # label generations in block storage, not MAX_ITERS of them
        unpin(pinned)
        pinned = new_labels
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return labels


#: round cap for the alternating star algorithm — it converges in
#: O(log n) rounds on ANY graph (Kiveris et al.), so 20 covers graphs
#: far past 2⁶⁰ nodes; the cap is a runaway backstop, not a tuning knob
STAR_MAX_ROUNDS = 20


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components via the ALTERNATING large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): same (node, component=min reachable id)
    contract as :func:`connected_components`, different convergence
    class — O(log n) rounds on ANY graph versus min-label's O(diameter).

    Dedup pair graphs have tiny diameters, so min-label wins there (and
    stays the default); this is the tier for HIGH-DIAMETER graphs at
    100 TB — chain-like link graphs, road-network-shaped data — where
    O(d) rounds of a label join is the scale killer. Each round is two
    groupBy-join passes over the current edge set:

    - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
      v > u      [symmetric neighborhood]
    - small-star(c): m = min(parents(c)); emit (c, m) and (p, m) for
      the other parents  [edges already parent < child]

    Both passes only ever LOWER parent pointers, and the final state is
    a star per component rooted at its min id. Convergence is an exact
    set-equality check (counts equal + exceptAll empty — no hash
    collision risk), one extra job per round on the pinned edge frame.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("c"), F.col(dst).alias("p"))
        .where(F.col("c") != F.col("p"))
        .distinct()
        .transform(pin)
    )
    all_nodes = (
        e.select(F.col("c").alias("node"))
        .union(e.select(F.col("p").alias("node")))
        .distinct()
        .transform(pin)
    )
    n_edges = e.count()
    parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000))
    pinned = e
    same = n_edges == 0  # empty graph is trivially converged
    for _ in range(STAR_MAX_ROUNDS):
        # large-star over the symmetric adjacency
        sym = e.select(F.col("c").alias("u"), F.col("p").alias("v")).union(
            e.select(F.col("p").alias("u"), F.col("c").alias("v"))
        )
        mn = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(mn, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("c"),
                F.least(F.col("mn"), F.col("u")).alias("p"),
            )
            .distinct()
        )
        # small-star over the (child, parent) edges, parent < child
        pm = ls.groupBy("c").agg(F.min("p").alias("m"))
        ss = (
            ls.join(pm, "c")
            .where(F.col("p") != F.col("m"))
            .select(F.col("p").alias("c"), F.col("m").alias("p"))
            .union(pm.select(F.col("c"), F.col("m").alias("p")))
            .distinct()
            .repartition(parts, "c")
            .transform(pin)
        )
        same = ss.count() == e.count() and ss.exceptAll(e).limit(1).count() == 0
        unpin(pinned)
        pinned = ss
        e = ss
        if same:
            break
    # emitting possibly-wrong labels silently would be a correctness
    # hole for direct library callers (only dedup_clusters_star is
    # oracle-gated) — a cap exhaustion means the O(log n) bound was
    # violated, which is a bug or a poisoned input, never a tuning
    # matter (ADVICE r10)
    if not same:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{STAR_MAX_ROUNDS} rounds ({n_edges} input edges)"
        )
    # stars: child → root; roots (and isolated inputs, excluded above
    # with self-loops) label themselves
    return (
        all_nodes.join(e.select(F.col("c").alias("node"), "p"), "node", "left")
        .select("node", F.coalesce("p", F.col("node")).alias("component"))
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from MinHash-LSH pairs: every doc in a cluster
    maps to its keeper (min doc_id in the connected component). The final
    step of a 100 TB dedup pipeline — 'drop all but one per cluster'.

    Hash-checked since the MinHash base hash became the SQL-portable
    md5_hash60 (r6): the oracle replays the whole signature → band →
    verify pipeline and closes the pair graph with a recursive CTE, so
    the iterative min-label loop is driver-verified end-to-end.
    """
    from .dedup import dedup_minhash

    pairs = dedup_minhash(spark, sf_dir)
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id")
    )


def _dedup_clusters_oracle() -> str:
    from .dedup import ORACLE as DEDUP_ORACLE

    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_ORACLE["dedup_minhash"]}) mp
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
walk(node, comp) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, walk.comp FROM walk JOIN edges e ON e.a = walk.node
)
SELECT node AS doc_id, min(comp) AS keep_doc_id FROM walk GROUP BY node
"""


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters computed by the ALTERNATING star algorithm (r10,
    D53) instead of min-label propagation — same MinHash-LSH pair graph,
    same (doc_id, keep_doc_id) contract, same DuckDB oracle, different
    round complexity: O(log n) for any graph shape vs min-label's
    O(diameter). The driver hash-checking BOTH against one oracle pins
    that the two distributed CC implementations agree end-to-end — the
    cross-implementation property a 100 TB dedup run relies on when it
    switches tiers for a high-diameter graph."""
    from .dedup import dedup_minhash

    pairs = dedup_minhash(spark, sf_dir)
    comps = connected_components_star(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper selection (r8, D43): within every
    MinHash near-dup cluster keep the HIGHEST-QUALITY member, not the
    smallest id. This is the policy real training-data pipelines want —
    'drop all but one' should keep the best copy (longest clean text,
    least boilerplate), and min-id is only a tie-break. Singletons (docs
    in no cluster) keep themselves.

    Composition of two driver-verified pieces: dedup_clusters (MinHash →
    LSH → CC) for membership, doc_quality's integer-exact quality_e6 for
    ranking. ONE extra shuffle on cluster_id for the keeper window
    (clusters are tiny relative to the corpus; singleton rows — the vast
    majority at real dup rates — pass through with cluster_id = doc_id
    and never inflate a window partition past its own cluster). The
    keeper is first_value ordered by (quality_e6 DESC, doc_id ASC) —
    a total order, so both engines agree deterministically.

    The membership join is deliberately UNHINTED (r9): cluster
    membership scales with the corpus's duplicate mass — 20-50% of docs
    on realistic web corpora — so a forced broadcast is a
    multi-hundred-GB executor OOM at 100 TB. AQE still picks a broadcast
    join whenever the cluster frame actually fits under
    spark.sql.adaptive.autoBroadcastJoinThreshold (it does at driver
    scale), and degrades to a shuffle hash join on doc_id past it —
    pinned by a plan test that forces the threshold to -1."""
    from pyspark.sql.window import Window as _W

    from .text import doc_quality

    clusters = dedup_clusters(spark, sf_dir)
    quality = doc_quality(spark, sf_dir).select("doc_id", "quality_e6")
    member = quality.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("keep_doc_id", "doc_id").alias("cluster_id"),
        "quality_e6",
    )
    w = _W.partitionBy("cluster_id").orderBy(
        F.desc("quality_e6"), F.asc("doc_id")
    )
    return member.select(
        "doc_id",
        "cluster_id",
        "quality_e6",
        F.first("doc_id").over(w).alias("best_doc_id"),
    ).withColumn("is_keeper", F.col("doc_id") == F.col("best_doc_id"))


def _dedup_keep_best_oracle() -> str:
    from .text import ORACLE as TEXT_ORACLE

    return f"""
WITH clusters AS ({_dedup_clusters_oracle()}),
q AS (SELECT doc_id, quality_e6 FROM ({TEXT_ORACLE["doc_quality"]}) dq),
member AS (
    SELECT q.doc_id,
           coalesce(c.keep_doc_id, q.doc_id) AS cluster_id,
           q.quality_e6
    FROM q LEFT JOIN clusters c ON q.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, quality_e6,
       first_value(doc_id) OVER (
           PARTITION BY cluster_id
           ORDER BY quality_e6 DESC, doc_id ASC
       ) AS best_doc_id,
       doc_id = first_value(doc_id) OVER (
           PARTITION BY cluster_id
           ORDER BY quality_e6 DESC, doc_id ASC
       ) AS is_keeper
FROM member
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the MinHash near-dup graph (r9, D49):
    (cluster_size, n_clusters, n_docs) including the size-1 row for
    singletons — THE summary a dedup run is judged by (dup mass = 1 −
    keepers/docs; a fat tail of giant clusters means boilerplate, not
    prose, is driving the pair graph).

    Two tiny aggregates over the (already driver-verified)
    dedup_clusters frame — sizes per keeper, then counts per size — plus
    a 1-row corpus count for the singleton remainder; everything after
    the CC output is O(clusters), so the report is free at any scale."""
    from ..catalog import table as _table

    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("keep_doc_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    n_docs = _table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    n_clustered = clusters.agg(F.count(F.lit(1)).alias("n_in"))
    singletons = (
        n_docs.join(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_total") - F.col("n_in")).cast("bigint").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return (
        hist.select(F.col("cluster_size").cast("bigint"), "n_clusters")
        .unionByName(singletons)
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
        )
        .orderBy("cluster_size")
    )


def _dedup_cluster_stats_oracle() -> str:
    return f"""
WITH clusters AS ({_dedup_clusters_oracle()}),
sizes AS (
    SELECT keep_doc_id, count(*) AS cluster_size FROM clusters GROUP BY 1
),
hist AS (
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY 1
),
singles AS (
    SELECT CAST(1 AS BIGINT) AS cluster_size,
           CAST((SELECT count(*) FROM documents)
                - (SELECT count(*) FROM clusters) AS BIGINT) AS n_clusters
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
FROM (
    SELECT * FROM hist
    UNION ALL
    SELECT * FROM singles WHERE n_clusters > 0
)
ORDER BY cluster_size
"""


def doc_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup mass per source domain (r9, D50): for each `source`, how
    many docs sit in a near-dup cluster and what fraction they lose to
    dedup (docs − keepers, in ppm) — the "which domains are polluted"
    report that decides per-source sampling rates in a curation
    pipeline. A keeper here is cluster-min-id *within the source's own
    docs* when the cluster spans sources? No — keeper is the GLOBAL
    cluster keeper (keep_doc_id), so a source whose docs always lose to
    another source's copies shows 100% loss: exactly the signal (its
    content exists elsewhere first).

    Plan: the docs→cluster membership join is unhinted (the r9 rule for
    membership frames); everything else is one groupBy over the corpus
    projection. removed = docs whose id is NOT their cluster's keeper.
    """
    from ..catalog import table as _table

    docs = _table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = dedup_clusters(spark, sf_dir)
    marked = docs.join(clusters, "doc_id", "left").select(
        "source",
        F.col("keep_doc_id").isNotNull().alias("clustered"),
        (
            F.col("keep_doc_id").isNotNull()
            & (F.col("keep_doc_id") != F.col("doc_id"))
        ).alias("removed"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("clustered").cast("int")).cast("bigint").alias("n_clustered"),
            F.sum(F.col("removed").cast("int")).cast("bigint").alias("n_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_clustered",
            "n_removed",
            F.expr("(n_removed * 1000000L) div n_docs").alias("removed_ppm"),
        )
    )


def _doc_dup_ratio_oracle() -> str:
    return f"""
WITH clusters AS ({_dedup_clusters_oracle()}),
marked AS (
    SELECT d.source,
           c.keep_doc_id IS NOT NULL AS clustered,
           (c.keep_doc_id IS NOT NULL AND c.keep_doc_id != d.doc_id) AS removed
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST((sum(CASE WHEN removed THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS removed_ppm
FROM marked GROUP BY source
"""


def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass cost of dedup per source (r10, D52): how many TOKENS
    (not docs) each domain loses when every near-dup cluster keeps one
    member — the number that actually moves a training-data budget
    (Lee et al. 2022 report dedup savings in tokens for exactly this
    reason; a source losing 40% of its docs but 5% of its tokens is
    boilerplate-spam, the reverse is a long-form mirror).

    Composition of two driver-verified frames: dedup_clusters membership
    (min-id keeper; unhinted join — membership scales with dup mass) ×
    token_count's ws_tokens. One groupBy(source) after the joins; the
    ppm ratio is exact bigint div with a nullif(0) guard on both
    engines.
    """
    from ..catalog import table as _table
    from .text import token_count

    docs = _table(spark, sf_dir, "documents").select("doc_id", "source")
    toks = token_count(spark, sf_dir).select("doc_id", "ws_tokens")
    clusters = dedup_clusters(spark, sf_dir)
    marked = (
        docs.join(toks, "doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "source",
            "ws_tokens",
            (
                F.col("keep_doc_id").isNotNull()
                & (F.col("keep_doc_id") != F.col("doc_id"))
            ).alias("removed"),
        )
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("removed"), F.col("ws_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_total",
            "tokens_removed",
            F.expr("(tokens_removed * 1000000L) div nullif(tokens_total, 0L)").alias(
                "removed_token_ppm"
            ),
        )
        .orderBy("source")
    )


def _dedup_token_savings_oracle() -> str:
    from .text import ORACLE as TEXT_ORACLE

    return f"""
WITH clusters AS ({_dedup_clusters_oracle()}),
tok AS (SELECT doc_id, ws_tokens FROM ({TEXT_ORACLE["token_count"]}) tc),
marked AS (
    SELECT d.source, t.ws_tokens,
           (c.keep_doc_id IS NOT NULL AND c.keep_doc_id != d.doc_id) AS removed
    FROM documents d
    JOIN tok t USING (doc_id)
    LEFT JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN removed THEN ws_tokens ELSE 0 END) AS BIGINT)
           AS tokens_removed,
       CAST(CAST(sum(CASE WHEN removed THEN ws_tokens ELSE 0 END) AS BIGINT)
            * 1000000
            // nullif(CAST(sum(ws_tokens) AS BIGINT), 0) AS BIGINT)
           AS removed_token_ppm
FROM marked GROUP BY source ORDER BY source
"""


def jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT n-gram-Jaccard pair graph —
    the oracle-checkable twin of dedup_clusters (whose MinHash pair source
    uses our xxhash64 family, unreproducible in SQL). Same iterative
    min-label machinery (connected_components), but the edge set is the
    SQL-expressible ngram_jaccard_pairs, so DuckDB can replay the whole
    thing as a recursive transitive closure and the driver hash-checks
    the iterative loop end-to-end."""
    from .dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id")
    )


def _jaccard_clusters_oracle() -> str:
    # built lazily so module import order doesn't matter
    from .dedup import ORACLE as DEDUP_ORACLE

    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_ORACLE["ngram_jaccard_pairs"]}) jp
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
walk(node, comp) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, walk.comp FROM walk JOIN edges e ON e.a = walk.node
)
SELECT node AS doc_id, min(comp) AS keep_doc_id FROM walk GROUP BY node
"""


PR_DAMPING = 0.85
PR_ITERS = 10


#: rank vectors up to this many nodes broadcast to executors; larger
#: graphs fall back to co-partitioning the rank vector on the join key
PR_BCAST_MAX_NODES = 5_000_000

#: edge sets up to this many rows run ALL power iterations in one fused
#: numpy kernel (a single applyInPandas group ≈ one ~40 MB Arrow batch).
#: Rationale: at this size the per-iteration DataFrame loop is pure
#: scheduling overhead — each generation costs a broadcast-collect job
#: plus a shuffle for ~ms of actual matvec compute (measured 3.0 s of a
#: 4.6 s sf0.1 supplier_pagerank wall). Above the threshold the
#: distributed loop below takes over: edges stay partitioned, the rank
#: vector broadcasts (≤ PR_BCAST_MAX_NODES) or co-partitions, which is
#: the layout that holds at 100 TB. Same tiering every vectorized engine
#: applies — distribute the O(E) matvec only once E stops fitting a task.
PR_FUSED_MAX_EDGES = 2_000_000


def _pr_links(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst, out_deg) edge frame, pinned. One
    materialization covers the whole edge pipeline: hashpartitioning(src)
    satisfies BOTH the (src,dst) distinct agg and the out-degree window,
    so dedup and degree ride one shuffle (measured 2.6→1.7 s at sf0.1)."""
    from pyspark.sql.window import Window as _W

    e = edges.select(F.col("src"), F.col("dst")).repartition("src").distinct()
    return e.withColumn(
        "out_deg", F.count(F.lit(1)).over(_W.partitionBy("src"))
    ).transform(pin)


def _pr_fused(
    links: DataFrame, damping: float, iters: int, n_seeds: int | None
) -> DataFrame:
    """All power iterations in ONE numpy kernel over a single
    applyInPandas group (small-graph tier, edge count ≤
    PR_FUSED_MAX_EDGES — see the constant's rationale).

    The kernel re-derives nodes / dangling set / seeds from the edge
    batch itself, so the tier skips the nodes-pin + dangling-count jobs
    entirely. Every scalar/elementwise operation mirrors the unrolled
    SQL oracle op-for-op ((1−d)/n, (d/n)·dm, base + d·contrib, and for
    PPR (1−d)·p + (d·dm)·p + d·contrib), so float results are
    bit-identical up to summation order — the same ~1e-14 tolerance the
    distributed loop already documents (np.bincount accumulates in edge
    order where Spark merges partials; both land inside the 6-dp
    emission grid).
    """

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        src = pdf["src"].to_numpy(dtype="int64")
        dst = pdf["dst"].to_numpy(dtype="int64")
        outd = pdf["out_deg"].to_numpy(dtype="float64")
        nodes = np.unique(np.concatenate([src, dst]))
        n = len(nodes)
        si = np.searchsorted(nodes, src)
        di = np.searchsorted(nodes, dst)
        has_out = np.zeros(n, dtype=bool)
        has_out[si] = True
        dangling = np.flatnonzero(~has_out)
        if n_seeds is None:
            p = None
            rank = np.full(n, 1.0 / n)
        else:
            k = min(n_seeds, n)
            p = np.zeros(n)
            p[:k] = 1.0 / k  # np.unique sorts → k smallest node ids
            rank = p.copy()
        for _ in range(iters):
            dm = float(rank[dangling].sum()) if len(dangling) else 0.0
            contrib = np.bincount(di, weights=rank[si] / outd, minlength=n)
            if n_seeds is None:
                base = (1.0 - damping) / n
                if len(dangling):
                    base = base + (damping / n) * dm
                rank = base + damping * contrib
            else:
                base = (1.0 - damping) * p
                if len(dangling):
                    base = base + (damping * dm) * p
                rank = base + damping * contrib
        return pd.DataFrame({"node": nodes, "rank": rank})

    return links.groupBy(F.lit(1).alias("g")).applyInPandas(
        kernel, "node bigint, rank double"
    )


def _pr_graph_setup(links: DataFrame):
    """Shared pagerank/PPR graph preparation for the DISTRIBUTED loop:
    takes the pinned links frame from :func:`_pr_links`, returns (nodes,
    n, dangling_nodes, no_dangling) with nodes pinned."""
    # r15 (guide §1.2 — fewer passes): ONE pass over links builds the
    # node set AND its has_out flag (max over {src→1, dst→0} markers),
    # so the dangling set no longer needs a second anti-join pass over
    # the 640k-row links frame, and node count + dangling count collapse
    # into one aggregate over the pinned ~|V|-row frame. The node set
    # (distinct src ∪ dst) and the dangling set (nodes never a src) are
    # definitionally identical to the old distinct + left_anti pair.
    flagged = (
        links.select(F.col("src").alias("node"), F.lit(1).alias("has_out"))
        .union(links.select(F.col("dst").alias("node"), F.lit(0).alias("has_out")))
        .groupBy("node")
        .agg(F.max("has_out").alias("has_out"))
        .transform(pin)
    )
    cnt = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("has_out") == 0, 1).otherwise(0)).alias("nd"),
    ).first()
    n, n_dangling = int(cnt["n"]), int(cnt["nd"] or 0)
    # dangling node SET is iteration-invariant; only its current mass (a
    # scalar) is recomputed per round. When the graph has NO dangling
    # nodes (co-occurrence graphs: every node that exists has an
    # out-edge), dm ≡ 0.0 exactly in both engines, so the whole
    # per-iteration mass branch is skipped — one broadcast and one agg
    # per iteration instead of two of each.
    nodes = flagged.select("node")
    dangling_nodes = flagged.where(F.col("has_out") == 0).select("node")
    return nodes, n, dangling_nodes, n_dangling == 0


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    bcast_max_nodes: int = PR_BCAST_MAX_NODES,
    fused_max_edges: int = PR_FUSED_MAX_EDGES,
    links: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed (src, dst) edge frame.

    The deepened WebGraph app (the reference's
    `app/WebGraph.java` + wg_maple/wg_juice stop at in-link counting;
    PageRank is the same shuffle shape iterated). Spark-first layout:
    the EDGE set — the big side — is hash-partitioned once on src and
    lineage-pinned (reliability.pin); each iteration broadcasts the (small) rank
    vector into an edge-colocated join, so per-iteration cost is one
    scan of edges + one agg shuffle on dst, never an edge re-shuffle.
    Dangling mass (nodes without out-links) is folded back uniformly, so
    ranks sum to 1 every iteration (a one-row agg, broadcast back).
    Edge sets ≤ fused_max_edges skip the iteration loop entirely and run
    the fused numpy kernel (see PR_FUSED_MAX_EDGES).

    NOTE: this builder is EAGER, not a lazy plan constructor — the links
    frame is checkpoint-materialized up front (iterative lineage
    truncation) and tier selection then runs a count job over it, so
    jobs execute at call time even if the returned DataFrame is never
    consumed. ``fused_max_edges=0`` skips the tier-sizing count (the
    distributed loop runs unconditionally); the links materialization is
    inherent to the iteration design.
    """
    # ONE materialization for the whole edge pipeline: out-degree rides a
    # window over src instead of a groupBy+self-join, so the (possibly
    # expensive) upstream edge build executes exactly once — the r6 plan
    # audit showed the former e-pin + links-pin pair re-materializing the
    # same 640k-row frame twice for >3 s of the query's wall time.
    # Callers sharing one edge set across several rankings pass a
    # pre-built ``links`` (see _supplier_links) and skip the build.
    if links is None:
        links = _pr_links(edges)
    if fused_max_edges > 0 and links.count() <= fused_max_edges:
        # small-graph tier: all iterations in one numpy kernel (see
        # PR_FUSED_MAX_EDGES) — skips the nodes/dangling setup jobs too
        return _pr_fused(links, damping, iters, None)
    nodes, n, dangling_nodes, no_dangling = _pr_graph_setup(links)
    # rank vector: broadcast while it plausibly fits on executors; past
    # that, co-partition on the join key so only the SMALL side shuffles
    # each iteration (links stays pinned on src either way)
    bcast_ok = n <= bcast_max_nodes

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    prev_pinned: DataFrame | None = None
    for i in range(iters):
        base = F.lit((1.0 - damping) / n)
        if no_dangling:
            # dm ≡ 0.0: (1−d)/n + d/n·0 folds to the constant — the
            # expression is bit-identical to the dangling path's with
            # dm = 0, so the unrolled SQL oracle needs no variant
            dm = None
        else:
            # dangling mass stays a lazy 1-row aggregate crossJoin'd in,
            # so each iteration is ONE job (the eager checkpoint) — a
            # .first() here would double the per-iteration job count
            dm = ranks.join(dangling_nodes.select("node"), "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            base = base + F.lit(damping / n) * F.col("dm")
        rside = F.broadcast(ranks) if bcast_ok else ranks.repartition("node")
        contribs = (
            links.join(rside, links.src == rside.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        new_rank = base + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
        ranks = nodes.join(contribs, nodes.node == contribs.dst, "left")
        if dm is not None:
            ranks = ranks.join(F.broadcast(dm))
        ranks = ranks.select("node", new_rank.alias("rank"))
        # Checkpoint cadence. No-dangling path: an unpinned generation
        # has exactly ONE consumer (the next contribs join), so it is
        # recomputed exactly once and every branch sees the same values
        # — safe to pin every third generation, dropping the loop's
        # dominant wall cost (r6 plan audit) from 10 to 4
        # materializations. Dangling path: generation i feeds BOTH the
        # dm aggregate and the contribs join; if it were unpinned the
        # two branches could recompute its double-sums under different
        # partial-merge orders and derive dm and contribs from slightly
        # different (~1 ulp) rank snapshots — so that path pins every
        # generation, exactly like the pre-r7 loop.
        cadence = 2 if no_dangling else 1
        if i % cadence == cadence - 1 or i == iters - 1:
            ranks = ranks.transform(pin)
            # the eager pin above already consumed the previous rank
            # vector — drop its blocks so only this generation stays
            if prev_pinned is not None:
                unpin(prev_pinned)
            prev_pinned = ranks
    return ranks


def supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed supplier co-purchase edges: s1→s2 when s1's line precedes
    s2's in the same order (per-order fan-out bounded ≤7 lines, so this
    is a bounded self-join on o_orderkey). Shared by supplier_pagerank
    and the cross-SF invariant tests."""
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"),
        F.col("l_linenumber").alias("ln_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"),
        F.col("l_linenumber").alias("ln_b"),
    )
    return (
        a.join(b, "k")
        .where((F.col("ln_a") < F.col("ln_b")) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
    )


def _supplier_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned (src, dst, out_deg) supplier links frame of all four
    supplier ranking rows."""
    return _pr_links(supplier_edges(spark, sf_dir))


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-purchase graph: edge s1→s2 when s1's
    line precedes s2's in the same order. Per-order fan-out is bounded
    (≤7 lines), so edge construction is a bounded self-join on o_orderkey.
    Top-20 by rank.

    Hash-checked: the ten damped power iterations unroll as chained SQL
    CTEs (dangling-mass scalar folded back uniformly each round, exactly
    as pagerank() does). Ranks are double sums whose fold order differs
    between engines (~1e-14 relative), so ties at the 6-dp emission
    grid are broken identically and a flip needs a value within ~1e-14
    of a rounding boundary; a pytest additionally checks the python
    reference and the Σrank=1 invariant."""
    ranks = pagerank(supplier_edges(spark, sf_dir), links=_supplier_links(spark, sf_dir))
    return (
        ranks.select("node", F.round("rank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )


def _pagerank_oracle(damping: float = PR_DAMPING, iters: int = PR_ITERS) -> str:
    """supplier_pagerank unrolled: one CTE pair (dangling mass, contribs)
    per iteration. Constant factors are computed IN SQL from the same
    literals Spark's python closure uses ((1 - 0.85)/n etc.) so both
    engines derive bit-identical coefficients."""
    d = damping
    parts = [
        """WITH edges AS MATERIALIZED (
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_linenumber < b.l_linenumber AND a.l_suppkey != b.l_suppkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
params AS (SELECT count(*) AS n FROM nodes),
outd AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / p.n AS rank FROM nodes, params p),"""
    ]
    for i in range(iters):
        parts.append(f"""dm{i} AS MATERIALIZED (
    SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
    FROM r{i} WHERE node NOT IN (SELECT src FROM outd)
),
contrib{i} AS MATERIALIZED (
    SELECT e.dst, sum(r.rank / o.out_deg) AS contrib
    FROM edges e JOIN r{i} r ON e.src = r.node JOIN outd o ON e.src = o.src
    GROUP BY e.dst
),
r{i + 1} AS MATERIALIZED (
    SELECT n.node,
           (CAST(1 AS DOUBLE) - CAST({d} AS DOUBLE)) / p.n
           + CAST({d} AS DOUBLE) / p.n * dm.dm
           + CAST({d} AS DOUBLE) * coalesce(c.contrib, CAST(0 AS DOUBLE)) AS rank
    FROM nodes n
    LEFT JOIN contrib{i} c ON n.node = c.dst
    CROSS JOIN dm{i} dm CROSS JOIN params p
),""")
    parts.append(f"""final AS (SELECT node, round(rank, 6) AS pagerank FROM r{iters})
SELECT node, pagerank FROM final
ORDER BY pagerank DESC, node ASC
LIMIT 20""")
    return "\n".join(parts)


ORACLE["supplier_pagerank"] = _pagerank_oracle()


def supplier_pagerank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier_pagerank with the fused small-graph tier DISABLED
    (``fused_max_edges=0``): forces the DISTRIBUTED broadcast /
    co-partition power-iteration loop — the tier that actually runs at
    100 TB — onto the driver graph, under the SAME unrolled-CTE oracle.

    The fused numpy kernel takes over below 2M edges, so on test-scale
    data supplier_pagerank runs only the kernel. This is the only
    registry query that forces the distributed PageRank tier."""
    ranks = pagerank(
        supplier_edges(spark, sf_dir),
        fused_max_edges=0,
        links=_supplier_links(spark, sf_dir),
    )
    return (
        ranks.select("node", F.round("rank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )


# identical math, identical emission → identical oracle text: the two
# tiers must agree at the 6-dp grid (pinned additionally by the
# cross-tier pytest), so both registry rows share one SQL twin
ORACLE["supplier_pagerank_dist"] = _pagerank_oracle()


# ------------------------------------------------------------------ A19
PPR_SEEDS = 5


def personalized_pagerank(
    edges: DataFrame,
    n_seeds: int = PPR_SEEDS,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    bcast_max_nodes: int = PR_BCAST_MAX_NODES,
    fused_max_edges: int = PR_FUSED_MAX_EDGES,
    links: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the restart
    vector is uniform over a SEED set instead of the whole graph, so the
    stationary ranks measure proximity TO THE SEEDS — the related-entity
    / recommendation primitive ("suppliers most associated with this
    cohort"). Seeds here: the ``n_seeds`` smallest node ids (a
    deterministic, SQL-mirrorable stand-in for a caller-supplied seed
    set). Dangling mass restarts onto the seeds (∝ p), so total mass
    stays 1 every iteration.

    Same scale layout as pagerank(): edges pinned once, seed/restart
    vector (tiny) broadcast, rank vector broadcast under the node
    threshold with a co-partition fallback, checkpoint cadence 3 when
    the graph has no dangling nodes (single consumer per generation) and
    1 otherwise (two consumer branches must see one materialized
    snapshot). Edge sets ≤ fused_max_edges take the fused numpy tier
    (see PR_FUSED_MAX_EDGES). Like pagerank(), this builder is EAGER —
    see the NOTE there."""
    if links is None:
        links = _pr_links(edges)
    if fused_max_edges > 0 and links.count() <= fused_max_edges:
        return _pr_fused(links, damping, iters, n_seeds)
    nodes, n, dangling_nodes, no_dangling = _pr_graph_setup(links)
    seeds = nodes.orderBy("node").limit(n_seeds).transform(pin)
    s_count = seeds.count()
    p_val = 1.0 / s_count
    pvec = (
        nodes.join(
            F.broadcast(seeds.withColumn("is_seed", F.lit(1))), "node", "left"
        )
        .select(
            "node",
            F.when(F.col("is_seed").isNotNull(), F.lit(p_val))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .transform(pin)
    )
    bcast_ok = n <= bcast_max_nodes

    ranks = pvec.select("node", F.col("p").alias("rank"))
    prev_pinned: DataFrame | None = None
    for i in range(iters):
        base = F.lit(1.0 - damping) * F.col("p")
        if no_dangling:
            # dm ≡ 0.0: adding d·0·p is the IEEE identity, so the
            # unrolled SQL oracle needs no variant
            dm = None
        else:
            dm = ranks.join(dangling_nodes.select("node"), "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            base = base + F.lit(damping) * F.col("dm") * F.col("p")
        rside = F.broadcast(ranks) if bcast_ok else ranks.repartition("node")
        contribs = (
            links.join(rside, links.src == rside.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        new_rank = base + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
        ranks = pvec.join(contribs, pvec.node == contribs.dst, "left")
        if dm is not None:
            ranks = ranks.join(F.broadcast(dm))
        ranks = ranks.select("node", new_rank.alias("rank"))
        # same cadence rationale as pagerank(): see the comment there
        cadence = 2 if no_dangling else 1
        if i % cadence == cadence - 1 or i == iters - 1:
            ranks = ranks.transform(pin)
            if prev_pinned is not None:
                unpin(prev_pinned)
            prev_pinned = ranks
    return ranks


def supplier_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the supplier co-purchase graph, seeded
    on the 5 smallest supplier ids: top-20 suppliers by proximity to the
    seed cohort. Hash-checked the same way as supplier_pagerank — the
    damped seeded iterations unroll as chained SQL CTEs."""
    ranks = personalized_pagerank(
        supplier_edges(spark, sf_dir), links=_supplier_links(spark, sf_dir)
    )
    return (
        ranks.select("node", F.round("rank", 6).alias("ppr"))
        .orderBy(F.desc("ppr"), F.asc("node"))
        .limit(20)
    )


def _ppr_oracle(
    n_seeds: int = PPR_SEEDS, damping: float = PR_DAMPING, iters: int = PR_ITERS
) -> str:
    """supplier_ppr unrolled: seed-uniform restart vector as a pvec CTE,
    one (dm, contrib) CTE pair per iteration, constants computed IN SQL
    from the same literals the python closure uses so both engines derive
    bit-identical coefficients (the _pagerank_oracle pattern)."""
    d = damping
    parts = [
        f"""WITH edges AS MATERIALIZED (
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_linenumber < b.l_linenumber AND a.l_suppkey != b.l_suppkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT {n_seeds}),
sp AS (SELECT CAST(1 AS DOUBLE) / count(*) AS pv FROM seeds),
pvec AS MATERIALIZED (
    SELECT n.node,
           CASE WHEN s.node IS NOT NULL THEN sp.pv ELSE CAST(0 AS DOUBLE) END AS p
    FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN sp
),
outd AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, p AS rank FROM pvec),"""
    ]
    for i in range(iters):
        parts.append(f"""dm{i} AS MATERIALIZED (
    SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
    FROM r{i} WHERE node NOT IN (SELECT src FROM outd)
),
contrib{i} AS MATERIALIZED (
    SELECT e.dst, sum(r.rank / o.out_deg) AS contrib
    FROM edges e JOIN r{i} r ON e.src = r.node JOIN outd o ON e.src = o.src
    GROUP BY e.dst
),
r{i + 1} AS MATERIALIZED (
    SELECT pv.node,
           (CAST(1 AS DOUBLE) - CAST({d} AS DOUBLE)) * pv.p
           + CAST({d} AS DOUBLE) * dm.dm * pv.p
           + CAST({d} AS DOUBLE) * coalesce(c.contrib, CAST(0 AS DOUBLE)) AS rank
    FROM pvec pv
    LEFT JOIN contrib{i} c ON pv.node = c.dst
    CROSS JOIN dm{i} dm
),""")
    parts.append(f"""final AS (SELECT node, round(rank, 6) AS ppr FROM r{iters})
SELECT node, ppr FROM final
ORDER BY ppr DESC, node ASC
LIMIT 20""")
    return "\n".join(parts)


ORACLE["supplier_ppr"] = _ppr_oracle()


def supplier_ppr_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier_ppr with the fused tier DISABLED (``fused_max_edges=0``)
    — the distributed seeded-restart loop re-proven every rotation
    against the same unrolled-CTE oracle (see supplier_pagerank_dist's
    rationale)."""
    ranks = personalized_pagerank(
        supplier_edges(spark, sf_dir),
        fused_max_edges=0,
        links=_supplier_links(spark, sf_dir),
    )
    return (
        ranks.select("node", F.round("rank", 6).alias("ppr"))
        .orderBy(F.desc("ppr"), F.asc("node"))
        .limit(20)
    )


ORACLE["supplier_ppr_dist"] = _ppr_oracle()


# ------------------------------------------------------------------ A16
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw co-purchase pair counts (u < v, n_cooc) over the basket
    self-join — the shared edge primitive of copurchase_triangles /
    copurchase_kcore (which use the distinct pair SET, = this frame's
    keys) and copurchase_adamic_adar (which filters on the raw
    multiplicity n_cooc). copurchase_lift stays separate — its
    counts are over the DISTINCT (order, part) basket, a different
    multiset. repartition(u) first: hashpartitioning(u) satisfies the
    (u, v) aggregate's distribution, one shuffle instead of two."""
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "k")
        .where(F.col("u") < F.col("v"))
        .repartition("u")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .transform(pin)
    )


#: pair sets up to this many rows run the whole orient→wedge→close
#: triangle count in one numpy kernel (a single applyInPandas group),
#: the CC_FUSED_MAX_EDGES rationale — BUT with a much lower cutoff than
#: CC: a triangle census is O(Σ outdeg²) real work, not O(E) label
#: pushing, and on the dense co-purchase graph that crosses over fast.
#: Measured at sf0.1 (1.2M edges, 41M oriented wedges): one-task numpy
#: kernel 6.4 s vs 3.1 s for the 32-way JVM array_intersect pipeline —
#: so the fused tier is reserved for graphs small enough that per-job
#: scheduling (5 shuffle jobs) dominates the census itself (≲1M wedges,
#: sub-0.1 s serial). Above the cutoff the Latapy compact-forward
#: DataFrame pipeline runs — the layout that holds at 100 TB, and the
#: tier every bench-scale corpus exercises. Both tiers are pure integer
#: counting over the same (degree, id) orientation, so tier choice can
#: never flip a value; equality on planted graphs is pinned by pytest.
TRI_FUSED_MAX_EDGES = 150_000


def _triangles_fused(edges: DataFrame) -> DataFrame:
    """One-batch numpy triangle census: full-degree orientation
    (compact-forward), per-source wedge enumeration batched by
    out-degree class, sorted-key membership test for the closing edge.
    Emits the same single (n_nodes, n_edges, n_triangles, n_wedges)
    integer row the distributed phases aggregate."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        u = pdf["u"].to_numpy(dtype="int64")
        v = pdf["v"].to_numpy(dtype="int64")
        nodes = np.unique(np.concatenate([u, v]))
        n = len(nodes)
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        deg = np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)
        n_wedges = int((deg * (deg - 1) // 2).sum())
        # orient low→high (degree, node id) — nodes is sorted ascending,
        # so index order IS id order and the tie-break matches the
        # distributed path's (du == dv) & (u < v)
        lo_is_u = (deg[ui] < deg[vi]) | ((deg[ui] == deg[vi]) & (u < v))
        s = np.where(lo_is_u, ui, vi)
        d = np.where(lo_is_u, vi, ui)
        # rank key (degree, id) as one int64 — deg < n and the gate
        # bounds n ≤ 2·TRI_FUSED_MAX_EDGES, so deg·n + id < 2^63
        rkey = deg * np.int64(n) + np.arange(n, dtype="int64")
        order = np.lexsort((rkey[d], s))
        s, d = s[order], d[order]
        ekeys = np.sort(s * np.int64(n) + d)
        _, run_start, run_cnt = np.unique(s, return_index=True, return_counts=True)
        n_tri = 0
        # wedge pairs (x, y) with rank(x) < rank(y) over each source's
        # rank-sorted out-neighbors close a triangle iff oriented edge
        # x→y exists; batch the enumeration by out-degree class so each
        # class is one vectorized gather + one searchsorted
        for c in np.unique(run_cnt):
            if c < 2:
                continue
            starts = run_start[run_cnt == c]
            dmat = d[starts[:, None] + np.arange(int(c))[None, :]]
            iu, ju = np.triu_indices(int(c), 1)
            wkeys = dmat[:, iu].ravel() * np.int64(n) + dmat[:, ju].ravel()
            pos = np.searchsorted(ekeys, wkeys)
            ok = pos < len(ekeys)
            n_tri += int((ekeys[pos[ok]] == wkeys[ok]).sum())
        return pd.DataFrame(
            {
                "n_nodes": [n],
                "n_edges": [len(u)],
                "n_triangles": [n_tri],
                "n_wedges": [n_wedges],
            }
        )

    return edges.groupBy(F.lit(1).alias("g")).applyInPandas(
        kernel, "n_nodes bigint, n_edges bigint, n_triangles bigint, n_wedges bigint"
    )


def _triangles_distributed(edges: DataFrame) -> DataFrame:
    """The compact-forward DataFrame pipeline (see copurchase_triangles
    docstring) emitting the same (n_nodes, n_edges, n_triangles,
    n_wedges) single row as _triangles_fused."""
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # degree rank = (degree, node id): a total order both engines share
    ranked = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    lo_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lo_is_u, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )
    # Count per ORIENTED EDGE, not per wedge: for edge u→v the closing
    # vertices are N+(u) ∩ N+(v), so triangles = Σ_edges |intersect|.
    # The wedge set (Σ outdeg² rows, ~16M at sf0.1) never materializes —
    # only E adjacency-array rows move through two equi-join shuffles,
    # and orientation bounds every array at O(sqrt(E)), hub-safe.
    adj = oriented.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    # re-derive the edge rows by EXPLODING adj (each dst appears once per
    # src) instead of joining the edge list back — the src-side adjacency
    # arrives attached for free, so only ONE shuffle join (on dst) remains
    pairs = adj.select("src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nu"))
    e_adj = pairs.join(
        adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
        pairs.dst == F.col("v"),
        "left",
    )
    n_tri = e_adj.agg(
        F.sum(
            F.size(
                F.array_intersect(
                    F.col("nu"),
                    F.coalesce(F.col("nv"), F.array().cast("array<bigint>")),
                )
            )
        ).cast("bigint").alias("n_triangles")
    )
    n_wedge_all = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edge = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_wedge_all.join(F.broadcast(n_edge))
        .join(F.broadcast(n_tri))
        .select("n_nodes", "n_edges", "n_triangles", "n_wedges")
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph (parts appearing in
    the same order are connected) — the WebGraph demo app's edge analysis
    (`/root/reference/src/main/java/edu/cs425/mp3/app/WebGraph.java`)
    deepened from degree counting to clustering structure.

    Scale design: edges are oriented low→high **degree rank** before the
    wedge join (Latapy's compact-forward scheme), so every out-degree is
    O(sqrt(E)) and the wedge set — the only superlinear intermediate —
    stays near-linear even with hub parts; orienting by raw id instead
    would square the hottest hub. One row out: nodes/edges/triangles +
    global clustering coefficient. Pair sets ≤ TRI_FUSED_MAX_EDGES run
    the fused numpy kernel (see the constant's rationale); larger
    graphs run the distributed pipeline — same integer census either
    way.
    """
    # the pinned pair frame's keys ARE the distinct edge set the old
    # in-operator self-join + distinct + pin produced
    edges = _copurchase_pairs(spark, sf_dir).select("u", "v")
    if TRI_FUSED_MAX_EDGES > 0 and edges.count() <= TRI_FUSED_MAX_EDGES:
        counts = _triangles_fused(edges)
    else:
        counts = _triangles_distributed(edges)
    return counts.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        # exact integer ppm: all-int inputs, bigint div both engines
        F.expr(
            "(3 * n_triangles * 1000000L) div greatest(n_wedges, 1L)"
        ).alias("clustering_ppm"),
    )


ORACLE["copurchase_triangles"] = """
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
),
deg AS (
    SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
    ) GROUP BY n
),
oriented AS (
    SELECT CASE WHEN gu.d < gv.d OR (gu.d = gv.d AND u < v) THEN u ELSE v END AS src,
           CASE WHEN gu.d < gv.d OR (gu.d = gv.d AND u < v) THEN v ELSE u END AS dst,
           CASE WHEN gu.d < gv.d OR (gu.d = gv.d AND u < v) THEN gv.d ELSE gu.d END AS ddeg
    FROM edges
    JOIN deg gu ON gu.n = edges.u
    JOIN deg gv ON gv.n = edges.v
),
wedges AS (
    SELECT o1.dst AS b, o2.dst AS c
    FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
    WHERE o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM wedges w
    WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.b AND o.dst = w.c)
),
stats AS (
    SELECT count(*) AS n_nodes,
           (sum(d * (d - 1)) / 2)::BIGINT AS n_wedges
    FROM deg
),
ne AS (SELECT count(*) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_triangles,
       (3 * n_triangles * 1000000) // greatest(n_wedges, 1) AS clustering_ppm
FROM stats, ne, tri
"""


# ------------------------------------------------------------------ A17
LIFT_MIN_SUPPORT = 3
LIFT_TOP = 20


def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top-20 part pairs by lift
    (P(a,b) / P(a)P(b)) with a minimum pair support — the
    recommendation-engine complement to copurchase_triangles on the same
    basket data.

    One basket scan feeds everything: distinct (order, part) → pair
    co-occurrence counts via self-join on the order key, item supports
    via one groupBy, the order total as a broadcast scalar. Min-support
    prunes the pair tail BEFORE the support joins, so the join input is
    the (tiny) frequent-pair set, not every pair seen once.
    """
    from ..catalog import table

    # r14: catalog.spread measured HERE (lift is self-join-bound, not
    # scan-bound): 1.46 -> 2.47 s — the fan-out shuffle costs more than
    # the one-task distinct partials it parallelizes. Left unspread.
    basket = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = basket.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = basket.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    pair_n = (
        a.join(b, "k")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= LIFT_MIN_SUPPORT)
    )
    item_n = basket.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    total = basket.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    su = item_n.select(F.col("item").alias("u"), F.col("n_item").alias("n_a"))
    sv = item_n.select(F.col("item").alias("v"), F.col("n_item").alias("n_b"))
    scored = (
        pair_n.join(su, "u")
        .join(sv, "v")
        .join(F.broadcast(total))
        # DOUBLE lift for ORDERING: the counts are exact int64 < 2⁵³ so
        # the double casts are exact, and * / are single IEEE-rounded ops
        # — bit-identical in any engine, so the order (with the (u,v)
        # tie-break) is deterministic cross-engine. The former per-pair
        # DECIMAL(38,0)×DECIMAL(38,0) product ran a 128-bit multiply on
        # EVERY frequent pair (the r6 bench outlier, 1.43→2.5 s);
        # ordering needs no exactness the double doesn't already have.
        .withColumn(
            "lift_dbl",
            (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        )
    )
    from pyspark.sql.window import Window

    # Distributed top-N: orderBy().limit() compiles to TakeOrderedAndProject
    # (per-partition heap + tiny driver merge), so no task ever sorts the
    # full pair set. Only the LIFT_TOP finalists see the rank window — a
    # single partition of 20 rows, not a single partition of everything.
    finalists = scored.orderBy(F.desc("lift_dbl"), F.asc("u"), F.asc("v")).limit(LIFT_TOP)
    w = Window.orderBy(F.desc("lift_dbl"), F.asc("u"), F.asc("v"))
    return (
        # exact integer ppm EMISSION, computed for the 20 finalists only:
        # all-int inputs through a widening decimal so the product can't
        # overflow at corpus scale; bigint div is engine-independent
        finalists.withColumn(
            "lift_ppm",
            F.expr(
                "(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_ab",
            "lift_ppm",
            "rank",
        )
    )


ORACLE["copurchase_lift"] = f"""
WITH basket AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair_n AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_ab
    FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {LIFT_MIN_SUPPORT}
),
item_n AS (
    SELECT l_partkey AS item, count(*) AS n_item FROM basket GROUP BY 1
),
total AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket)
SELECT part_a, part_b, n_ab, lift_ppm, rank FROM (
    SELECT p.u AS part_a, p.v AS part_b, p.n_ab,
           CAST((CAST(p.n_ab AS HUGEINT) * t.n_orders * 1000000)
               // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_ppm,
           row_number() OVER (
               ORDER BY (CAST(p.n_ab AS DOUBLE) * CAST(t.n_orders AS DOUBLE))
                        / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) DESC,
                        p.u ASC, p.v ASC
           ) AS rank
    FROM pair_n p
    JOIN item_n ia ON ia.item = p.u
    JOIN item_n ib ON ib.item = p.v
    CROSS JOIN total t
)
WHERE rank <= {LIFT_TOP}
"""


# ------------------------------------------------------------------ A18
KCORE_K = 3
KCORE_MAX_ITERS = 30


def kcore(
    edges: DataFrame,
    k: int = KCORE_K,
    src: str = "src",
    dst: str = "dst",
    distinct_oriented: bool = False,
) -> DataFrame:
    """k-core: the maximal subgraph where every node has degree ≥ k —
    the classic web-graph quality/spam filter (low-core pages are
    isolated link spam; high-core is the densely-audited center).

    Iterative peel: drop nodes below degree k, restrict edges to
    survivors, repeat to fixed point. All joins — degrees via groupBy,
    survivor restriction via two semi joins per round; lineage pinned
    per round (reliability.pin) and the previous round's blocks released
    (unpin), so the loop holds one edge generation. Convergence in
    O(peel depth) rounds, each O(|E| remaining).
    ``distinct_oriented=True`` declares the input already deduped with
    src < dst on every row — the two union branches are then DISJOINT by
    construction and the symmetrization skips its 2|E|-row dedup shuffle.
    Returns (node, core_degree) for the surviving subgraph (rows-only:
    iterative; python-reference pytest).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not distinct_oriented:
        sym = sym.distinct()
    sym = sym.transform(pin)
    n_edges = sym.count()
    for _ in range(KCORE_MAX_ITERS):
        if n_edges == 0:
            break
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select(F.col("a").alias("node"))
        nxt = (
            sym.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(pin)
        )
        n_next = nxt.count()
        unpin(sym)
        # a peeled node always removes its remaining edges, so an
        # unchanged edge count IS the fixed point — one count per round,
        # no extra convergence job
        converged = n_next == n_edges
        sym, n_edges = nxt, n_next
        if converged:
            break
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph: parts that remain after
    iteratively peeling weakly-connected parts — the dense center of
    the basket graph. The peel is pure integer math with a fixed
    iteration cap, so (unlike the float-iterating PageRank) it carries a
    full DuckDB oracle: the same KCORE_MAX_ITERS peel rounds unrolled as
    SQL CTE levels — peeling a fixed point is the identity, so the
    unrolled depth matches the loop whether it converges early or hits
    the cap. Upgraded from rows-only in round 5."""
    # copurchase_edges guarantees distinct u < v rows, so the
    # symmetrization's dedup shuffle is provably redundant here
    return kcore(copurchase_edges(spark, sf_dir), KCORE_K, distinct_oriented=True)


def _kcore_oracle() -> str:
    lvls = [
        """edges AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e0 AS MATERIALIZED (SELECT u AS a, v AS b FROM edges UNION SELECT v, u FROM edges)"""
    ]
    for i in range(KCORE_MAX_ITERS):
        lvls.append(
            f"k{i} AS MATERIALIZED (SELECT a FROM e{i} GROUP BY a HAVING count(*) >= {KCORE_K}),\n"
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e\n"
            f"  WHERE e.a IN (SELECT a FROM k{i}) AND e.b IN (SELECT a FROM k{i}))"
        )
    return (
        "WITH "
        + ",\n".join(lvls)
        + f"\nSELECT a AS node, count(*) AS core_degree FROM e{KCORE_MAX_ITERS} GROUP BY a"
    )


ORACLE["copurchase_kcore"] = _kcore_oracle()


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase edges (u < v, distinct). Shared by
    copurchase_kcore and the cross-SF invariant tests. The distinct
    pair set is exactly the pair-count frame's keys (see
    _copurchase_pairs)."""
    return _copurchase_pairs(spark, sf_dir).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )


ORACLE["jaccard_clusters"] = _jaccard_clusters_oracle()
ORACLE["dedup_clusters"] = _dedup_clusters_oracle()
# same contract, second distributed implementation (alternating star) —
# hash-checking both against ONE oracle pins cross-implementation parity
ORACLE["dedup_clusters_star"] = _dedup_clusters_oracle()

ORACLE["dedup_keep_best"] = _dedup_keep_best_oracle()
ORACLE["dedup_cluster_stats"] = _dedup_cluster_stats_oracle()
ORACLE["doc_dup_ratio_by_source"] = _doc_dup_ratio_oracle()
ORACLE["dedup_token_savings"] = _dedup_token_savings_oracle()

# ----------------------------------------------------------------- A20
#: co-purchase count below which an edge is basket NOISE, not signal
AA_EDGE_SUPPORT = 2
#: how many predicted links the report surfaces
AA_TOP = 20


def copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the SIGNAL co-purchase graph: top-20
    NON-adjacent part pairs by Adamic–Adar index Σ_z 1/ln(deg z) over
    their common neighbors z (Adamic & Adar 2003) — "parts never yet
    bought together that the graph says will be": the
    recommendation-candidate generator that complements
    copurchase_lift's scoring of pairs that DO co-occur.

    The graph is the ``AA_EDGE_SUPPORT``-pruned co-purchase graph: an
    edge exists only where a pair co-occurred in ≥ 2 orders. This is
    the same min-support philosophy copurchase_lift applies, moved to
    where it matters MOST here: a single shared basket is coincidence,
    and keeping those edges doesn't just add noise — it owns the wedge
    mass (measured at sf0.1: 1.196M raw edges → 148M wedges, vs 3.9k
    support-2 edges → 2.2k wedges; a ~70,000× blowup spent entirely on
    scoring noise against noise). Support pruning IS the scale design:
    wedge cost tracks the signal graph, which grows with real
    co-purchase behavior, not with the square of catalog popularity.

    Shape: candidates come only from wedges (pairs sharing a neighbor),
    never from the O(n²) non-edge set; the support prune happens inside
    the FIRST aggregate over the basket self-join (a HAVING on the
    map-side-combined pair counts — no second pass); ranking is a
    distributed TakeOrderedAndProject and only the ≤ 20 finalists enter
    the rank window. Cross-engine exactness: each 1/ln(deg z) addend
    folds through DECIMAL(28,12) (order-independent sums), emitted as
    floor(·10⁶); deg ≥ 1 ⇒ every wedge center has deg ≥ 2, so ln never
    hits 0.
    """
    # r14: the raw pair counts come from the shared family frame (see
    # _copurchase_pairs) — the support prune is a cheap filter over the
    # pinned counts, identical to the old in-operator HAVING
    edges = (
        _copurchase_pairs(spark, sf_dir)
        .where(F.col("n_cooc") >= AA_EDGE_SUPPORT)
        .select("u", "v")
        .transform(pin)
    )
    adj = edges.select(F.col("u").alias("z"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("z"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), "z")
        .where(F.col("l.n") < F.col("r.n"))
        .select("z", F.col("l.n").alias("u"), F.col("r.n").alias("v"))
    )
    scored = (
        wedges.join(deg, "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                (F.lit(1.0) / F.log(F.col("d"))).cast("decimal(28,12)")
            ).alias("saa"),
        )
        .select(
            "u",
            "v",
            "n_common",
            F.floor(F.col("saa").cast("double") * 1000000)
            .cast("bigint")
            .alias("aa_e6"),
        )
    )
    nonadj = scored.join(edges, ["u", "v"], "left_anti")
    finalists = nonadj.orderBy(
        F.desc("aa_e6"), F.asc("u"), F.asc("v")
    ).limit(AA_TOP)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("aa_e6"), F.asc("u"), F.asc("v"))
    # edges stays pinned for the result's lifetime (the anti-join reads
    # it lazily at collect time) — the copurchase_triangles convention
    return finalists.withColumn("rank", F.row_number().over(w)).select(
        "rank", "u", "v", "n_common", "aa_e6"
    )


ORACLE["copurchase_adamic_adar"] = f"""
WITH edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {AA_EDGE_SUPPORT}
),
adj AS (
    SELECT u AS z, v AS n FROM edges
    UNION ALL
    SELECT v AS z, u AS n FROM edges
),
deg AS (SELECT z, count(*) AS d FROM adj GROUP BY 1),
wedges AS (
    SELECT l.z, l.n AS u, r.n AS v
    FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
),
scored AS (
    SELECT w.u, w.v, count(*) AS n_common,
           CAST(floor(sum(CAST(CAST(1.0 AS DOUBLE) / ln(d) AS DECIMAL(28,12)))::DOUBLE
                      * 1000000) AS BIGINT) AS aa_e6
    FROM wedges w JOIN deg ON deg.z = w.z
    GROUP BY 1, 2
),
nonadj AS (
    SELECT s.* FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = s.u AND e.v = s.v)
)
SELECT rank, u, v, CAST(n_common AS BIGINT) AS n_common, aa_e6 FROM (
    SELECT *, row_number() OVER (ORDER BY aa_e6 DESC, u ASC, v ASC) AS rank
    FROM nonadj
)
WHERE rank <= {AA_TOP}
"""


QUERIES = {
    "jaccard_clusters": jaccard_clusters,
    "copurchase_adamic_adar": copurchase_adamic_adar,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best,
    "dedup_cluster_stats": dedup_cluster_stats,
    "doc_dup_ratio_by_source": doc_dup_ratio_by_source,
    "dedup_token_savings": dedup_token_savings,
    "dedup_clusters_star": dedup_clusters_star,
    "supplier_pagerank": supplier_pagerank,
    "supplier_ppr": supplier_ppr,
    "supplier_pagerank_dist": supplier_pagerank_dist,
    "supplier_ppr_dist": supplier_ppr_dist,
    "copurchase_triangles": copurchase_triangles,
    "copurchase_lift": copurchase_lift,
    "copurchase_kcore": copurchase_kcore,
}
