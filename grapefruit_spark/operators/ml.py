"""Iterative ML over embeddings: distributed Lloyd's k-means (SURVEY §2 D).

Trains the coarse quantizer a production IVF ANN index needs (the
deterministic step-sampled "centroids" in similarity.knn_ivf are the
untrained stand-in). The shape is the classic MapReduce k-means — the
reference's maple/juice pair iterated from a driver loop
(`/root/reference/src/main/java/edu/cs425/mp3/MapleJuice.java` runs one
maple+juice per stage) — but the per-iteration "reduce" here never
shuffles rows: each Arrow batch emits K partial sums and the driver folds
the K×P partials (K clusters × P partitions, a few KB) into new centroids.

Scale: per iteration = one scan + mapInPandas + a driver-side fold of
K×P tiny rows. No groupBy shuffle, no row movement; the corpus stays
partition-local for all iterations. Centroids travel by broadcast.
Deterministic: fixed init (step-sampled by vec_id), float64 partial sums
folded in sorted partition order, argmin ties break to the lowest
cluster id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table

ORACLE: dict[str, str] = {}

KMEANS_K = 8
KMEANS_ITERS = 5

_PARTIAL_SCHEMA = "part_id long, cluster int, n long, ssd double, sumvec array<double>"


def _assign(mat: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Nearest centroid per row (squared euclidean), ties → lowest id."""
    # |x-c|^2 = |x|^2 - 2x·c + |c|^2 ; argmin over c drops the |x|^2 term
    d = -2.0 * (mat @ cents.T) + (cents * cents).sum(axis=1)
    cl = d.argmin(axis=1)
    sq = d[np.arange(len(mat)), cl] + (mat * mat).sum(axis=1)
    return cl, np.maximum(sq, 0.0)


def kmeans_fit(
    spark: SparkSession,
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> tuple[np.ndarray, list[float]]:
    """Run Lloyd's iterations; returns (centroids, per-iteration inertia).

    ``emb`` must have (vec_id, embedding). Init = step-sampled rows by
    vec_id (deterministic, spread across the id range).

    The projected corpus is pinned (``reliability.pin``: memory, spilling
    to disk) for the duration of the loop — one storage write instead of
    ``iters + 2`` full input scans (count, init, one per iteration), the
    standard iterative-training layout — and released before returning.
    The pin is lazy: the count that sizes the init step materializes it.
    """
    from ..reliability import pin, unpin

    emb = pin(emb, eager=False)
    n = emb.count()
    step = max(1, n // k)
    init = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < k))
        .orderBy("vec_id")
        .collect()
    )
    cents = np.array([r["embedding"] for r in init], dtype=np.float64)

    history: list[float] = []
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["embedding"]), dtype=np.float64)
                cl, sq = _assign(mat, c)
                rows = []
                for j in np.unique(cl):
                    sel = cl == j
                    rows.append(
                        (pid, int(j), int(sel.sum()), float(sq[sel].sum()),
                         mat[sel].sum(axis=0).tolist())
                    )
                yield pd.DataFrame(
                    rows, columns=["part_id", "cluster", "n", "ssd", "sumvec"]
                )

        # K×P partial rows — tiny; fold on the driver in sorted order so
        # float accumulation is run-to-run deterministic
        parts = sorted(
            emb.select("embedding").mapInPandas(partials, schema=_PARTIAL_SCHEMA).collect(),
            key=lambda r: (r["part_id"], r["cluster"]),
        )
        counts = np.zeros(len(cents))
        sums = np.zeros_like(cents)
        inertia = 0.0
        for r in parts:
            counts[r["cluster"]] += r["n"]
            sums[r["cluster"]] += np.array(r["sumvec"])
            inertia += r["ssd"]
        nonzero = counts > 0
        cents = cents.copy()
        cents[nonzero] = sums[nonzero] / counts[nonzero, None]
        history.append(inertia)
        bc.destroy()
    unpin(emb)
    return cents, history


def _km_centroids(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """The (k=KMEANS_K, KMEANS_ITERS) Lloyd fit over the embeddings
    table, shared by kmeans_embeddings and semantic_dedup. kmeans_fit's
    driver fold is deterministic (partials folded in sorted order), so
    both consumers see bit-identical centroids."""
    return kmeans_fit(
        spark, table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )[0]


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profile after KMEANS_ITERS Lloyd's iterations: size and
    inertia per cluster.

    Hash-checked: the deterministic init (step-sampled by vec_id) and
    fixed iteration count make the whole trajectory reproducible, so the
    oracle UNROLLS the five Lloyd iterations as chained SQL CTEs (the
    copurchase_kcore peel precedent). Float caveat: partial-sum fold
    order differs between the engines, so centroids agree only to ~1e-13
    relative — assignments are stable (cluster margins dwarf that) and
    inertia is emitted floor-scaled at e2 where an ulp flip is
    vanishingly unlikely; the planted-tie pytest covers the semantics.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _km_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cl, sq = _assign(mat, bc.value)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cluster": cl, "sq_dist": sq})

    assigned = emb.mapInPandas(assign, schema="vec_id long, cluster int, sq_dist double")
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.floor(F.sum("sq_dist") * 100).alias("inertia_e2"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


def _assign_cte(name: str, cents: str) -> str:
    """One Lloyd assignment step as a CTE: nearest centroid by
    d = -2·x·c + |c|² (the |x|² term drops from the argmin), ties to the
    lowest cluster id — exactly numpy _assign's stable argmin."""
    return f"""{name} AS (
    SELECT vec_id, emb, cluster, d FROM (
        SELECT vec_id, emb, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (
            SELECT e.vec_id, e.emb, c.cluster,
                   -2.0 * list_dot_product(e.emb, c.cent)
                       + list_dot_product(c.cent, c.cent) AS d
            FROM e CROSS JOIN {cents} c
        )
    ) WHERE rn = 1
),"""


def _kmeans_cte(k: int, iters: int) -> str:
    """Lloyd's iterations unrolled as chained DuckDB CTEs (the
    copurchase_kcore peel precedent), mirroring kmeans_fit exactly:
    step-sampled init ordered by vec_id, argmin assignment with ties to
    the lowest cluster id, element-wise mean centroid update (empty
    clusters keep the previous centroid). Returns a WITH-chain whose
    terminal centroid relation is ``c{iters}`` (cluster, cent); the
    embeddings live in CTE ``e`` (vec_id, emb) for callers to extend.
    """
    parts = [
        f"WITH p AS (SELECT greatest(1, count(*) // {k}) AS step FROM embeddings),",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),",
        "c0 AS (",
        "    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, emb AS cent",
        f"    FROM e, p WHERE vec_id % p.step = 0 AND vec_id / p.step < {k}",
        "),",
    ]
    for i in range(iters):
        parts.append(_assign_cte(f"a{i}", f"c{i}"))
        parts.append(f"""c{i + 1} AS (
    SELECT prev.cluster, coalesce(upd.cent, prev.cent) AS cent
    FROM c{i} prev LEFT JOIN (
        SELECT cluster, list(s / n ORDER BY pos) AS cent FROM (
            SELECT cluster, pos, sum(v) AS s, count(*) AS n FROM (
                SELECT cluster, unnest(emb) AS v,
                       unnest(range(len(emb))) AS pos
                FROM a{i}
            ) GROUP BY cluster, pos
        ) GROUP BY cluster
    ) upd USING (cluster)
),""")
    return "\n".join(parts)


def _kmeans_oracle(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Full kmeans_embeddings oracle: unrolled iterations + a final
    assignment profiled per cluster with sq = max(d + |x|², 0)."""
    return (
        _kmeans_cte(k, iters)
        + "\n"
        + _assign_cte("afinal", f"c{iters}")
        + """
pts AS (
    SELECT a.vec_id, a.cluster,
           greatest(a.d + list_dot_product(a.emb, a.emb), CAST(0 AS DOUBLE)) AS sq
    FROM afinal a
)
SELECT cluster, count(*) AS n_vecs,
       CAST(floor(sum(sq) * 100) AS BIGINT) AS inertia_e2,
       min(vec_id) AS min_vec_id
FROM pts GROUP BY cluster ORDER BY cluster"""
    )


ORACLE["kmeans_embeddings"] = _kmeans_oracle()


SEMDEDUP_TAU = 0.96


def semantic_dedup(
    spark: SparkSession, sf_dir: str, tau: float = SEMDEDUP_TAU
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then inside each
    cluster mark every vector whose cosine similarity to a LOWER-id
    vector in the same cluster is ≥ τ as a semantic duplicate of the
    lowest such id. Returns (vec_id, cluster, is_kept, dup_of).

    Scale shape: the O(n²) cosine comparison is confined to individual
    k-means cells — the global problem never materializes. k is the
    scale knob: at corpus scale pick k ≈ n / desired_cell_size so each
    cell's c² matrix fits one task (SemDeDup runs n=5e9 with k=1e5).
    One shuffle (groupBy cluster); cells process independently in
    Arrow-batched pandas with a single BLAS matmul per cell.

    Hash-checked: the oracle reuses the unrolled-Lloyd's centroid CTE
    and mirrors the per-cell shadowing rule as a lower-id pair join —
    recall/keeper semantics additionally covered by a planted-duplicate
    pytest. (Cosines at EXACTLY τ could flip cross-engine in the last
    ulp; planted duplicates sit at cos 1.0, far from the edge.)
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _km_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cl, _sq = _assign(mat, bc.value)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": cl, "embedding": pdf["embedding"]}
            )

    assigned = emb.mapInPandas(
        assign, schema="vec_id long, cluster int, embedding array<float>"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        ids = pdf["vec_id"].to_numpy()
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        for i in range(1, len(pdf)):
            hits = np.nonzero(sims[i, :i] >= tau)[0]
            if len(hits):
                dup_of[i] = ids[hits[0]]  # lowest id shadowing this vec
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"],
                "is_kept": dup_of < 0,
                "dup_of": dup_of,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        dedup_cell, schema="vec_id long, cluster int, is_kept boolean, dup_of long"
    )


def _semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    """kmeans centroids (unrolled CTEs) → final assignment → per-cell
    lower-id shadowing join. dup_of = the LOWEST lower-id vector in the
    same cell with cosine ≥ τ, -1 when kept — numpy's hits[0] on a
    vec_id-sorted cell."""
    return (
        _kmeans_cte(KMEANS_K, KMEANS_ITERS)
        + "\n"
        + _assign_cte("afinal", f"c{KMEANS_ITERS}")
        + f"""
hits AS (
    SELECT i.vec_id AS vid, min(j.vec_id) AS dup_of
    FROM afinal i JOIN afinal j
      ON i.cluster = j.cluster AND j.vec_id < i.vec_id
     AND list_cosine_similarity(i.emb, j.emb) >= CAST({tau} AS DOUBLE)
    GROUP BY i.vec_id
)
SELECT a.vec_id, a.cluster,
       h.vid IS NULL AS is_kept,
       coalesce(h.dup_of, -1) AS dup_of
FROM afinal a LEFT JOIN hits h ON a.vec_id = h.vid
"""
    )


ORACLE["semantic_dedup"] = _semantic_dedup_oracle()


QUERIES = {
    "kmeans_embeddings": kmeans_embeddings,
    "semantic_dedup": semantic_dedup,
}
