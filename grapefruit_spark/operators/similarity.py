"""Similarity search over embeddings (SURVEY §2 D5-D6).

Brute-force cosine top-k is the oracle-able baseline (DuckDB
list_cosine_similarity over DOUBLE[]); the LSH-bucketed variant is the
100 TB path (candidates per bucket, no all-pairs shuffle) and a
two-stage partition-local top-k keeps the merge tiny.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..catalog import table
from ..functions import cosine_similarity
from ..functions import materialize_ctes as _mat

ORACLE: dict[str, str] = {}

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10


# ------------------------------------------------------------------ D5
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector.

    Query set broadcast against the corpus → the join is shuffle-free;
    ranking shuffles only (query × corpus) scored pairs. cos rounded to
    6 dp BEFORE ranking so Spark and the oracle rank identically.

    This frame is the exact baseline of the six knn_*_recall_eval rows.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    scored = c.join(
        broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn(
        "cos_sim", F.round(cosine_similarity(F.col("qvec"), F.col("cvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


ORACLE["knn_bruteforce"] = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS cos_sim
    FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


def knn_topk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path exact top-k: numpy per-partition top-k, then a global
    merge over only partitions×Q×k finalists — replaces the full-corpus
    ranking shuffle of knn_bruteforce with an O(P·Q·k) one.

    Same result contract as knn_bruteforce (pytest asserts equality), so
    it shares D5's oracle: the driver hash-checks that the partitioned
    merge is value-identical to the exact SQL ranking.
    """
    emb = table(spark, sf_dir, "embeddings")
    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_norm)

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = bq.value @ mat.T  # (Q, n)
            for qi, qid in enumerate(bq_ids.value):
                row = sims[qi]
                keep = ids != qid
                cand_ids, cand_sims = ids[keep], row[keep]
                if not len(cand_ids):
                    continue
                # keep 2k finalists so post-rounding ties can't drop a
                # neighbor the global (rounded, id) sort would have kept
                top = np.argsort(-cand_sims, kind="stable")[: 2 * TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "cos_sim": np.round(cand_sims[top], 6),
                    }
                )

    local = emb.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


#: same contract as knn_bruteforce → same oracle (equality also pinned
#: by pytest; numpy and JVM both round cos to 6 dp before ranking)
ORACLE["knn_topk_partitioned"] = ORACLE["knn_bruteforce"]


# ------------------------------------------------------------------ D6
LSH_PLANES = 12
LSH_SEED = 42


def _hyperplanes(dim: int) -> np.ndarray:
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((LSH_PLANES, dim))


def _bucket_col(vec: F.Column, planes: np.ndarray) -> F.Column:
    """Sign-bit bucket id from fixed random hyperplanes — one Arrow
    pandas_udf matmul per batch (batch × planes.T), not 12 per-row
    zip_with/aggregate folds: higher-order functions are CodegenFallback
    (interpreted per row), the same lesson as IVF's _cell_ranking. The
    plane matrix travels as a closure (a few KB)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        mat = np.array(list(v), dtype=np.float64)
        dots = mat @ planes.T  # (batch, n_planes)
        return pd.Series(((dots > 0) @ weights).astype("int32"))

    return bucket(vec)


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH with hamming-1 multiprobe.

    Corpus rows hash to ONE bucket (linear scan cost, uniform shuffle
    key); query rows probe their bucket plus all 1-bit flips. Exact
    cosine only on in-bucket candidates. Hash-checked: the seed-fixed
    hyperplanes embed in the oracle as exact double literals
    (_lsh_oracle), so bucketing, multiprobe, and rescoring are all
    SQL-verified; recall vs brute force additionally asserted in pytest.
    """
    emb = table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    planes = _hyperplanes(dim)

    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        _bucket_col(F.col("embedding"), planes).alias("bucket"),
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        _bucket_col(F.col("embedding"), planes).alias("qbucket"),
    )
    probes = q.select(
        "query_id",
        "qvec",
        F.explode(
            F.array(F.col("qbucket"), *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_PLANES)])
        ).alias("bucket"),
    )
    scored = (
        corpus.join(broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine_similarity(F.col("qvec"), F.col("cvec")), 6))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _lsh_oracle(dim: int = 64) -> str:  # noqa: E302 — registered below knn_lsh
    """knn_lsh oracle: the SAME seed-fixed hyperplanes embedded as exact
    string-cast double literals (string→double parse is correctly
    rounded, so every coefficient is bit-identical to numpy's). The
    testdata embeddings are 64-dim; the Spark side reads dim from data —
    regenerate if that changes. Sign decisions are ulp-robust: |dot| is
    ~N(0, √dim), so a dot within float-error of 0 is vanishingly rare.
    """
    planes = _hyperplanes(dim)
    rows = ",\n        ".join(
        "({w}, [{vals}])".format(
            w=1 << j,
            vals=", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane),
        )
        for j, plane in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
planes(w, p) AS (VALUES
        {rows}),
buckets AS MATERIALIZED (
    SELECT e.vec_id,
           CAST(sum(CASE WHEN list_dot_product(e.emb, pl.p) > 0
                         THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
    FROM e CROSS JOIN planes pl
    GROUP BY e.vec_id
),
corpus AS (
    SELECT b.vec_id AS neighbor_id, e.emb AS cvec, b.bucket
    FROM buckets b JOIN e USING (vec_id)
),
probes AS (
    SELECT b.vec_id AS query_id, e.emb AS qvec, b.bucket
    FROM buckets b JOIN e USING (vec_id) WHERE b.vec_id < {N_QUERIES}
    UNION ALL
    SELECT b.vec_id, e.emb, xor(b.bucket, pl.w)
    FROM buckets b JOIN e USING (vec_id) CROSS JOIN planes pl
    WHERE b.vec_id < {N_QUERIES}
),
scored AS (
    SELECT p.query_id, c.neighbor_id,
           round(list_cosine_similarity(p.qvec, c.cvec), 6) AS cos_sim
    FROM corpus c JOIN probes p USING (bucket)
    WHERE p.query_id != c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


ORACLE["knn_lsh"] = _lsh_oracle()


IVF_CELLS = 16
IVF_PROBES = 3


def _cell_ranking(vec: F.Column, centroids: list[tuple[int, list[float]]]) -> F.Column:
    """Cells ranked nearest-first for one vector, as a NARROW map —
    an Arrow-vectorized pandas_udf over the (tiny, fixed) centroid set.

    Still zero exchanges: the ≤IVF_CELLS×dim centroid matrix travels as a
    closure (a few KB), each scan partition ranks its own rows, and no
    join or groupBy touches the corpus (the round-1 emb.join(bcent) shape
    inflated the corpus 16× through a full shuffle). Versus the round-2
    literal-expression-tree form: 16 centroids × 64 dims made a ~3k-node
    plan whose higher-order functions are CodegenFallback — interpreted
    per-row cosines plus seconds of py4j tree construction; one numpy
    matmul per Arrow batch does the same math vectorized. Ranking is
    (cos desc, cell asc): argsort(-sims, stable) preserves the exact
    lowest-cell tiebreak of the old struct sort.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cells = np.array([int(i) for i, _ in centroids], dtype=np.int64)
    cent = np.array([v for _, v in centroids], dtype=np.float64)
    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    @pandas_udf("array<int>")
    def rank_cells(v: pd.Series) -> pd.Series:
        mat = np.array(list(v), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cent_n.T  # (batch, k)
        order = np.argsort(-sims, axis=1, kind="stable")  # ties → lower cell
        ranked = cells[order]
        return pd.Series(list(ranked.astype("int32")))

    return rank_cells(vec)


def _ivf_knn(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    probes: int = IVF_PROBES,
) -> DataFrame:
    """Shared IVF probe/score/rank given a driver-side centroid list
    (≤ IVF_CELLS entries — a few KB, bounded by design)."""
    ranking = _cell_ranking(F.col("embedding"), centroids)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.element_at(ranking, 1).alias("cell"),
    )
    probe_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.explode(F.slice(ranking, 1, probes)).alias("cell"),
        )
    )
    scored = (
        corpus.join(broadcast(probe_rows), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine_similarity(F.col("qvec"), F.col("cvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization.

    Deterministic centroid seeding (every ceil(n/IVF_CELLS)-th vector by
    id — a data-driven stand-in for trained k-means centroids); corpus
    cell assignment is a narrow map over broadcast-literal centroids
    (zero exchanges — see _cell_ranking), queries probe their IVF_PROBES
    nearest cells. Versus LSH: cells adapt to the data distribution, and
    probe count tunes the recall/cost curve directly. rows-only gate;
    recall vs brute force in pytest.
    """
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    step = max(1, n // IVF_CELLS)
    cent_rows = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < IVF_CELLS))
        .select((F.col("vec_id") / step).cast("int").alias("cell"), "embedding")
        .collect()
    )
    centroids = [(r["cell"], [float(x) for x in r["embedding"]]) for r in cent_rows]
    return _ivf_knn(emb, centroids)


IVF_TRAIN_ITERS = 4


def _ivf_trained_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The (k=IVF_CELLS, IVF_TRAIN_ITERS) Lloyd fit over the embeddings
    table, shared by knn_ivf_trained / knn_ivf_recall_eval /
    knn_probe_curve. kmeans_fit's driver fold is deterministic, so every
    consumer sees bit-identical centroids."""
    from .ml import kmeans_fit

    cents = kmeans_fit(
        spark,
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        k=IVF_CELLS,
        iters=IVF_TRAIN_ITERS,
    )[0]
    return [(int(i), [float(x) for x in c]) for i, c in enumerate(cents.tolist())]


def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_ivf with TRAINED centroids (operators.ml.kmeans_fit) instead of
    step-sampled rows: cells follow the data distribution, so probing the
    same 3 cells recovers more true neighbors. Same output contract.

    Hash-checked: the oracle reuses the unrolled-Lloyd's centroid CTE
    (ml._kmeans_cte) and mirrors the cosine cell ranking, probe fan-out,
    and candidate rescoring in SQL — the whole train→index→probe→rank
    pipeline is driver-verifiable. A recall-vs-bruteforce pytest bounds
    quality.
    """
    emb = table(spark, sf_dir, "embeddings")
    centroids = _ivf_trained_centroids(spark, sf_dir)
    return _ivf_knn(emb, centroids)


def _ivf_probe_sql(cent_rel: str, probes: int = IVF_PROBES) -> str:
    """Shared IVF probe/score/rank SQL suffix given a centroid CTE named
    ``cent_rel`` (cluster, cent) — mirrors _ivf_knn: cosine cell ranking
    with ties to the lower cell, top-1 cell per corpus row, ``probes``
    cells per query, exact rescoring of in-cell candidates."""
    return f"""
ranked_cells AS (
    SELECT vec_id, emb, cell, rn FROM (
        SELECT e.vec_id, e.emb, c.cluster AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.emb, c.cent) DESC,
                            c.cluster ASC) AS rn
        FROM e CROSS JOIN {cent_rel} c
    )
),
corpus AS (
    SELECT vec_id AS neighbor_id, emb AS cvec, cell FROM ranked_cells WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, emb AS qvec, cell
    FROM ranked_cells WHERE rn <= {probes} AND vec_id < {N_QUERIES}
),
scored AS (
    SELECT p.query_id, c.neighbor_id,
           round(list_cosine_similarity(p.qvec, c.cvec), 6) AS cos_sim
    FROM corpus c JOIN probes p USING (cell)
    WHERE p.query_id != c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


def _ivf_trained_oracle(probes: int = IVF_PROBES) -> str:
    from .ml import _kmeans_cte

    return _kmeans_cte(k=IVF_CELLS, iters=IVF_TRAIN_ITERS) + _ivf_probe_sql(
        f"c{IVF_TRAIN_ITERS}", probes=probes
    )


ORACLE["knn_ivf_trained"] = _ivf_trained_oracle()

#: knn_ivf's centroids are the step-sampled rows themselves (cell j =
#: the row at vec_id j*step) — no training, so the centroid CTE is one
#: deterministic filter and the same probe suffix applies.
ORACLE["knn_ivf"] = (
    f"""WITH p AS (SELECT greatest(1, count(*) // {IVF_CELLS}) AS step FROM embeddings),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cinit AS (
    SELECT vec_id // p.step AS cluster, emb AS cent
    FROM e, p WHERE vec_id % p.step = 0 AND vec_id / p.step < {IVF_CELLS}
),"""
    + _ivf_probe_sql("cinit")
)


NEARDUP_TAU = 0.45
NEARDUP_CHUNKS = 8  # raise with cluster size: tasks = C(C+1)/2, replication = C


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup flavor of D5): all
    pairs with rounded cos ≥ τ — exact, via blocked all-pairs.

    An EXACT threshold self-join at τ=0.45 is inherently O(n²) compute:
    τ sits inside the bulk of the cosine distribution (per-bit sign-LSH
    agreement ≈0.65 for matches vs 0.5 for background), so banding
    cannot prune without losing recall. The scalable form therefore
    distributes the quadratic work instead of pretending to avoid it:
    vectors hash into NEARDUP_CHUNKS blocks, each of the C(C+1)/2 block
    PAIRS becomes one cogroup key, and each task computes its
    |block_i|×|block_j| cosine matrix with ONE Arrow-batched BLAS
    matmul, emitting only the pairs ≥ τ — no per-pair rows ever
    materialize, no single task owns the whole corpus, and no
    BroadcastNestedLoopJoin/CartesianProduct appears in the plan
    (asserted in tests/test_plans.py). Replication is C rows/side
    (communication O(n·C)). For HIGH-τ near-dup at corpus scale use
    dedup_minhash / knn_lsh, where banding does prune.
    """
    C = NEARDUP_CHUNKS
    emb = table(spark, sf_dir, "embeddings")
    chunked = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.hash("vec_id"), F.lit(C)).alias("chunk"),
    )
    others = F.sequence(F.lit(0), F.lit(C - 1))
    left = chunked.select(
        "vec_id",
        "embedding",
        F.col("chunk").alias("ca"),
        F.explode(F.filter(others, lambda j: j >= F.col("chunk"))).alias("cb"),
    )
    right = chunked.select(
        "vec_id",
        "embedding",
        F.explode(F.filter(others, lambda j: j <= F.col("chunk"))).alias("ca"),
        F.col("chunk").alias("cb"),
    )

    def pair_block(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        # ONE BLAS matmul per block pair — the 2M-pair join with a
        # per-row cosine fold this replaces ran ~25× slower (higher-order
        # functions are CodegenFallback; and the join shuffled both full
        # vectors per pair, where this ships each block once per peer)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if not len(lpdf) or not len(rpdf):
            return empty
        ca, cb = key
        ids_a = lpdf["vec_id"].to_numpy()
        ids_b = rpdf["vec_id"].to_numpy()
        ma = np.array(list(lpdf["embedding"]), dtype=np.float64)
        mb = np.array(list(rpdf["embedding"]), dtype=np.float64)
        na = np.linalg.norm(ma, axis=1, keepdims=True)
        nb = np.linalg.norm(mb, axis=1, keepdims=True)
        ok_a, ok_b = na[:, 0] > 0.0, nb[:, 0] > 0.0
        na[~ok_a] = 1.0
        nb[~ok_b] = 1.0
        sims = np.round((ma / na) @ (mb / nb).T, 6)
        # degenerate (zero) vectors have no defined cosine — never emit
        sims[~ok_a, :] = -2.0
        sims[:, ~ok_b] = -2.0
        ii, jj = np.nonzero(sims >= NEARDUP_TAU)
        if ca == cb:
            keep = ids_a[ii] < ids_b[jj]
            ii, jj = ii[keep], jj[keep]
        if not len(ii):
            return empty
        a, b = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cos_sim": sims[ii, jj],
            }
        )

    return (
        left.groupBy("ca", "cb")
        .cogroup(right.groupBy("ca", "cb"))
        .applyInPandas(pair_block, schema="id_a long, id_b long, cos_sim double")
    )


ORACLE["embedding_neardup"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
"""


# ----------------------------------------------------------------- D5d
def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index quality evaluation (r8): per-query recall@k of the LSH
    index against the exact cosine top-k — the QA primitive every ANN
    deployment needs ("is the approximate index still good enough after
    this data drift?"). Recall is emitted as integer-exact ppm
    (hits·10⁶ div k), so there is no float surface at all.

    Plan: both sides are k·|queries| rows (tiny — the heavy lifting
    happened inside the two knn operators); the approx side broadcasts
    into a left join from the exact side so never-retrieved neighbors
    count as misses, then one |queries|-row aggregate."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({_lsh_oracle()}) ls),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


def knn_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the TRAINED IVF index vs the exact top-k (r9) — the
    LSH twin (knn_recall_eval) completed into a QA matrix: a production
    ANN deployment tracks every index variant's recall side by side,
    and the two rows directly answer 'which index family degrades first
    as the corpus drifts'. Same integer-ppm contract and the same
    k·|queries|-row plan; composes two already-verified oracles."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_ivf_trained(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_ivf_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({_ivf_trained_oracle()}) iv),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


# ----------------------------------------------------------------- D48
#: per-element quantization grid for drift sums: floor(x·10³) is a
#: single IEEE op on the exactly-promoted float32, so both engines
#: derive the same integer and every downstream sum is exact. (Casting
#: raw floats to DECIMAL is NOT portable — measured r9: Spark's
#: shortest-repr double→decimal vs DuckDB's exact-expansion rounding
#: diverge at the ~7th decimal per element.)
DRIFT_Q = 1_000
#: flag dims whose centroid gap exceeds this (in 10⁻⁹ embedding units);
#: generous — an A/A split of i.i.d. data should sit far below it
DRIFT_TOL_E9 = 50_000_000


def embedding_drift_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution A/A drift test (r9): split the corpus into
    two deterministic md5 halves and compare per-dimension centroids.
    Two random halves of the same distribution must agree — a dimension
    whose centroid gap exceeds the tolerance means the ingest is biased
    (ordering leaks into the hash key, a shard went missing, a source
    changed encoders mid-stream). Run it A/B instead by keying the split
    on time or source and the same operator becomes the real drift
    monitor embedding pipelines page on.

    All-integer math: each element quantizes to floor(x·10³) (see
    DRIFT_Q — DECIMAL casts of raw floats are engine-divergent), sums
    are exact bigints, centroids emit as sum·10⁶ div n (micro-grid per
    10⁻⁹ embedding units). One explode + one (dim)-keyed aggregate —
    map-side combine collapses each partition to |dims| partial rows, so
    the shuffle is O(dims × partitions) regardless of corpus size."""
    from .datapipe import _U32, _bucket

    emb = table(spark, sf_dir, "embeddings")
    in_a = _bucket(F.col("vec_id")) < int(0.5 * _U32)
    q = emb.select(
        in_a.alias("in_a"), F.posexplode("embedding").alias("dim", "x")
    ).select(
        "in_a",
        "dim",
        F.floor(F.col("x").cast("double") * DRIFT_Q).cast("bigint").alias("q"),
    )
    agg = q.groupBy("dim").agg(
        F.sum(F.when(F.col("in_a"), F.col("q"))).alias("s_a"),
        F.sum(F.when(~F.col("in_a"), F.col("q"))).alias("s_b"),
        F.sum(F.when(F.col("in_a"), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("in_a"), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint").alias("n_b"),
    )
    mean_a = F.expr("(s_a * 1000000L) div nullif(n_a, 0L)")
    mean_b = F.expr("(s_b * 1000000L) div nullif(n_b, 0L)")
    return agg.select(
        "dim",
        "n_a",
        "n_b",
        mean_a.alias("mean_a_e9"),
        mean_b.alias("mean_b_e9"),
        (mean_a - mean_b).alias("delta_e9"),
        (F.abs(mean_a - mean_b) > DRIFT_TOL_E9).alias("drifted"),
    )


ORACLE["embedding_drift_aa"] = f"""
WITH q AS (
    SELECT ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               < {int(0.5 * 4294967296)} AS in_a,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {DRIFT_Q}) AS BIGINT) AS q
    FROM embeddings
),
agg AS (
    SELECT dim,
           CAST(sum(CASE WHEN in_a THEN q END) AS BIGINT) AS s_a,
           CAST(sum(CASE WHEN NOT in_a THEN q END) AS BIGINT) AS s_b,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM q GROUP BY dim
)
SELECT dim, n_a, n_b,
       CAST((s_a * 1000000) // nullif(n_a, 0) AS BIGINT) AS mean_a_e9,
       CAST((s_b * 1000000) // nullif(n_b, 0) AS BIGINT) AS mean_b_e9,
       CAST((s_a * 1000000) // nullif(n_a, 0) - (s_b * 1000000) // nullif(n_b, 0) AS BIGINT) AS delta_e9,
       abs((s_a * 1000000) // nullif(n_a, 0) - (s_b * 1000000) // nullif(n_b, 0)) > {DRIFT_TOL_E9}
           AS drifted
FROM agg
"""


# ----------------------------------------------------------------- D62
def _sq8_stats(emb: DataFrame):
    """(mins, rngs): the per-dim min/max quantization grid — a trained
    SQ8 index artifact shared by knn_sq8, knn_ivf_sq8 and their recall
    rows."""
    stats_rows = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .select("dim", F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    mins = np.array([float(r["mn"]) for r in stats_rows], dtype=np.float64)
    rngs = np.array(
        [float(r["mx"]) - float(r["mn"]) for r in stats_rows], dtype=np.float64
    )
    return mins, rngs


def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (the FAISS ScalarQuantizer tier): each
    dimension min-max quantizes to an 8-bit code, search ranks by the
    reconstructed squared L2 distance. THE memory tier for 100 TB ANN —
    a float32 corpus drops 4× (1 byte/dim) before any IVF/LSH pruning,
    and the code matrix is what you actually hold in executor memory.
    (This variant still scans the full code matrix per query — the
    composed pruning tier is knn_ivf_sq8 below.)

    Cross-engine exactness: after quantization EVERYTHING is integer —
    code ∈ [0,255] (the only double chain is the mirrored
    ((x−min)·255)/range floor), per-dim weight w = floor(range·10⁶/255)
    (the dequantization step size ×10⁶), and the ranked distance is
    Σ(w·Δcode)² in exact bigints: no rounding step, no tie ambiguity —
    (dist, neighbor_id) is a total order.

    Plan: one bounded 64-row stats collect at build time (per-dim
    min/max — this builder is EAGER, like pagerank's edge count), then
    ONE Arrow mapInPandas pass doing partition-local integer top-k
    against the 8 broadcast query codes; the global merge ranks only
    partitions×Q×k finalists (knn_topk_partitioned's REPOSE shape).
    Dirty corpora (nulls, mixed dims, NaN) are embedding_qc's job
    upstream; this op assumes its gate passed.
    """
    emb = table(spark, sf_dir, "embeddings")
    mins, rngs = _sq8_stats(emb)
    w = np.floor(rngs * 1e6 / 255.0).astype(np.int64)

    def quantize(mat: np.ndarray) -> np.ndarray:
        scaled = np.divide(
            (mat - mins) * 255.0,
            rngs,
            out=np.zeros_like(mat),
            where=rngs != 0,
        )
        return np.clip(np.floor(scaled), 0, 255).astype(np.int64)

    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_codes = quantize(np.array([r["embedding"] for r in qrows], dtype=np.float64))
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_codes * w)  # dequant-scaled, int64

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            a = quantize(np.array(list(pdf["embedding"]), dtype=np.float64)) * w
            for qi, qid in enumerate(bq_ids.value):
                diff = a - bq.value[qi][None, :]
                dist = (diff * diff).sum(axis=1)
                keep = ids != qid
                cand_ids, cand_dist = ids[keep], dist[keep]
                if not len(cand_ids):
                    continue
                # (dist, id) is a TOTAL order — top-k per partition is
                # exact, no tie finalist slack needed
                top = np.lexsort((cand_ids, cand_dist))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "dist_q": cand_dist[top],
                    }
                )

    local = emb.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, dist_q long"
    )
    rw = Window.partitionBy("query_id").orderBy(F.asc("dist_q"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "dist_q", "rank")
    )


ORACLE["knn_sq8"] = f"""
WITH elems AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
stats AS (
    SELECT dim, min(x) AS mn, max(x) - min(x) AS rng FROM elems GROUP BY dim
),
codes AS (
    SELECT e.vec_id, e.dim,
           CAST(floor(s.rng * 1000000 / 255.0) AS BIGINT)
             * least(greatest(CAST(floor(
                   CASE WHEN s.rng = 0 THEN 0
                        ELSE ((e.x - s.mn) * 255.0) / s.rng END) AS BIGINT),
                 0), 255) AS a
    FROM elems e JOIN stats s USING (dim)
),
dist AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(sum((q.a - c.a) * (q.a - c.a)) AS BIGINT) AS dist_q
    FROM codes q
    JOIN codes c ON q.dim = c.dim AND c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dist_q, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist_q ASC, neighbor_id ASC) AS rank
    FROM dist
)
WHERE rank <= {TOP_K}
"""


def knn_sq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the SQ8 quantized index vs the exact cosine top-k —
    the third row of the ANN QA matrix (LSH: knn_recall_eval, IVF:
    knn_ivf_recall_eval). SQ8's error is QUANTIZATION error (distance
    distortion), not candidate pruning, so its recall curve answers a
    different production question: is 1 byte/dim still faithful enough
    on this corpus' value ranges? Same integer-ppm contract, same
    k·|queries|-row plan, composes two already-verified oracles."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_sq8(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_sq_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_sq8"]}) sq),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


# ----------------------------------------------------------------- D65
def knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × SQ8 composed — the genuine 100 TB ANN tier (FAISS
    IndexIVFScalarQuantizer): coarse cells prune WHICH vectors are
    scored, 8-bit codes shrink WHAT is held and scored. knn_ivf prunes
    but scores float vectors; knn_sq8 compresses but scans the whole
    corpus per query. This tier does both: each executor holds 1
    byte/dim codes (4× less memory than float32), and each query pays
    only its IVF_PROBES cells (~PROBES/CELLS of the corpus), so the
    per-query work drops ~5× on top of the 4× memory cut.

    Plan: two bounded eager builders (the 64-row per-dim min/max stats
    and the ≤IVF_CELLS step-sampled centroid rows — both documented-
    bounded like knn_sq8/knn_ivf), then ONE Arrow mapInPandas pass:
    each partition assigns its rows' top-1 cell (numpy matmul against
    the broadcast centroid matrix — _cell_ranking's math), masks each
    query's candidates to its probed cells, and ranks by the exact
    integer SQ8 distance; the global merge sees only partitions×Q×k
    finalists. Zero corpus joins, zero corpus shuffles.

    Cross-engine exactness: cell assignment mirrors knn_ivf's oracle
    CTE (cosine, ties to the lower cell), and the candidate distance is
    knn_sq8's all-integer Σ(w·Δcode)² — (dist_q, neighbor_id) is a
    total order, so partition-local top-k is exact with no finalist
    slack. Recall vs exact: knn_ivfsq_recall_eval (losses come from
    BOTH cell pruning and quantization — the production question this
    row answers is whether the two error sources compound or overlap).
    """
    emb = table(spark, sf_dir, "embeddings")
    mins, rngs = _sq8_stats(emb)
    w = np.floor(rngs * 1e6 / 255.0).astype(np.int64)

    def quantize(mat: np.ndarray) -> np.ndarray:
        scaled = np.divide(
            (mat - mins) * 255.0,
            rngs,
            out=np.zeros_like(mat),
            where=rngs != 0,
        )
        return np.clip(np.floor(scaled), 0, 255).astype(np.int64)

    n = emb.count()
    step = max(1, n // IVF_CELLS)
    cent_rows = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < IVF_CELLS))
        .select((F.col("vec_id") / step).cast("int").alias("cell"), "embedding")
        .orderBy("cell")
        .collect()
    )
    cells_arr = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
    cent = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    def assign_cells(mat: np.ndarray, top: int) -> np.ndarray:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cent_n.T
        order = np.argsort(-sims, axis=1, kind="stable")  # ties → lower cell
        return cells_arr[order[:, :top]]

    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_cells = assign_cells(q_mat, IVF_PROBES)  # (Q, PROBES)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_cells = spark.sparkContext.broadcast(q_cells)
    bq = spark.sparkContext.broadcast(quantize(q_mat) * w)  # dequant-scaled

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = assign_cells(mat, 1)[:, 0]
            a = quantize(mat) * w
            for qi, qid in enumerate(bq_ids.value):
                keep = np.isin(cell, bq_cells.value[qi]) & (ids != qid)
                if not keep.any():
                    continue
                diff = a[keep] - bq.value[qi][None, :]
                dist = (diff * diff).sum(axis=1)
                cand_ids = ids[keep]
                top = np.lexsort((cand_ids, dist))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "dist_q": dist[top],
                    }
                )

    local = emb.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, dist_q long"
    )
    rw = Window.partitionBy("query_id").orderBy(F.asc("dist_q"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "dist_q", "rank")
    )


#: cinit = knn_ivf's step-sampled centroid CTE; ranked_cells mirrors
#: _ivf_probe_sql's cell ranking; codes/dist mirror knn_sq8 — candidates
#: are restricted to (corpus top-1 cell) ∈ (query's IVF_PROBES cells).
ORACLE["knn_ivf_sq8"] = f"""
WITH p AS (SELECT greatest(1, count(*) // {IVF_CELLS}) AS step FROM embeddings),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cinit AS (
    SELECT vec_id // p.step AS cluster, emb AS cent
    FROM e, p WHERE vec_id % p.step = 0 AND vec_id / p.step < {IVF_CELLS}
),
ranked_cells AS (
    SELECT vec_id, cell, rn FROM (
        SELECT e.vec_id, c.cluster AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.emb, c.cent) DESC,
                            c.cluster ASC) AS rn
        FROM e CROSS JOIN cinit c
    )
),
cand AS (
    SELECT pr.vec_id AS query_id, cc.vec_id AS neighbor_id
    FROM (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1) cc
    JOIN (SELECT vec_id, cell FROM ranked_cells
          WHERE rn <= {IVF_PROBES} AND vec_id < {N_QUERIES}) pr USING (cell)
    WHERE cc.vec_id != pr.vec_id
),
elems AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
stats AS (
    SELECT dim, min(x) AS mn, max(x) - min(x) AS rng FROM elems GROUP BY dim
),
codes AS (
    SELECT e.vec_id, e.dim,
           CAST(floor(s.rng * 1000000 / 255.0) AS BIGINT)
             * least(greatest(CAST(floor(
                   CASE WHEN s.rng = 0 THEN 0
                        ELSE ((e.x - s.mn) * 255.0) / s.rng END) AS BIGINT),
                 0), 255) AS a
    FROM elems e JOIN stats s USING (dim)
),
dist AS (
    SELECT ca.query_id, ca.neighbor_id,
           CAST(sum((q.a - c.a) * (q.a - c.a)) AS BIGINT) AS dist_q
    FROM cand ca
    JOIN codes q ON q.vec_id = ca.query_id
    JOIN codes c ON c.vec_id = ca.neighbor_id AND c.dim = q.dim
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dist_q, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist_q ASC, neighbor_id ASC) AS rank
    FROM dist
)
WHERE rank <= {TOP_K}
"""


def knn_ivfsq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the composed IVF-SQ8 index vs the exact cosine top-k
    — the fourth row of the ANN QA matrix (LSH / IVF / SQ8 / IVF-SQ8).
    Its delta vs knn_sq_recall_eval isolates what cell pruning costs ON
    TOP of quantization — the number that decides whether the 100 TB
    tier's probe count needs raising. Same integer-ppm contract."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_ivf_sq8(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_ivfsq_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_ivf_sq8"]}) iq),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


# ----------------------------------------------------------------- D56
def embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QC report (r10): the gate an ANN/semantic-dedup
    pipeline runs BEFORE indexing — null vectors, wrong-dimension rows,
    non-finite elements (NaN/±Inf/null element), dead (all-near-zero)
    vectors, and a magnitude histogram. One bad shard of zero vectors
    silently poisons every cosine downstream; this surfaces it as rows.

    Emission is one (metric, k, n) frame:
      n_vectors / null_vec / wrong_dim / nonfinite / zero_vec — counts
      expected_dim — k = the modal dimension (count DESC, dim ASC),
        n = rows at that dimension
      norm_digits — k = decimal digit count of the quantized squared
        norm Σ floor(x·10³)² (the drift_aa integer grid: raw
        float→DECIMAL casts are engine-divergent), n = vectors per bin
        — a log-scale magnitude histogram in pure integer math.

    Scale: three aggregates over one scan each (modal dim, global
    counts, digit histogram); nothing is per-pair, nothing collects.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dimtop = (
        emb.where(F.col("embedding").isNotNull())
        .groupBy(F.size("embedding").alias("dim"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("dim"))
        .limit(1)
    )
    inf = float("inf")
    bad_elem = F.exists(
        "embedding",
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(inf)),
    )
    q2 = lambda x: (  # noqa: E731 — quantized square, bigint-exact
        F.floor(x.cast("double") * DRIFT_Q).cast("bigint")
        * F.floor(x.cast("double") * DRIFT_Q).cast("bigint")
    )
    norm2 = F.aggregate(
        "embedding", F.lit(0).cast("bigint"), lambda acc, x: acc + q2(x)
    )
    base = emb.join(F.broadcast(dimtop.select(F.col("dim").alias("exp_dim")))).select(
        F.col("embedding").isNull().alias("is_null"),
        (F.col("embedding").isNotNull() & (F.size("embedding") != F.col("exp_dim"))).alias(
            "wrong_dim"
        ),
        (F.col("embedding").isNotNull() & bad_elem).alias("nonfinite"),
        F.when(F.col("embedding").isNotNull() & ~bad_elem, norm2).alias("norm2"),
    )
    counts = base.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("is_null").cast("long")).alias("null_vec"),
        F.sum(F.col("wrong_dim").cast("long")).alias("wrong_dim"),
        F.sum(F.col("nonfinite").cast("long")).alias("nonfinite"),
        F.sum((F.col("norm2") == 0).cast("long")).alias("zero_vec"),
    ).selectExpr(
        "stack(5, 'n_vectors', 0L, n_vectors, 'null_vec', 0L, null_vec,"
        " 'wrong_dim', 0L, wrong_dim, 'nonfinite', 0L, nonfinite,"
        " 'zero_vec', 0L, zero_vec) AS (metric, k, n)"
    )
    dim_row = dimtop.select(
        F.lit("expected_dim").alias("metric"),
        F.col("dim").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
    )
    bins = (
        base.where(F.col("norm2").isNotNull())
        .groupBy(
            F.length(F.col("norm2").cast("string")).cast("bigint").alias("k")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("norm_digits").alias("metric"), "k", "n")
    )
    return counts.unionByName(dim_row).unionByName(bins).orderBy("metric", "k")


ORACLE["embedding_qc"] = f"""
WITH dimtop AS (
    SELECT len(embedding) AS dim, count(*) AS n
    FROM embeddings WHERE embedding IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, dim ASC LIMIT 1
),
base AS (
    SELECT e.embedding IS NULL AS is_null,
           e.embedding IS NOT NULL AND len(e.embedding) != d.dim AS wrong_dim,
           e.embedding IS NOT NULL AND len(list_filter(e.embedding,
               x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                    OR isinf(CAST(x AS DOUBLE)))) > 0 AS nonfinite,
           CASE WHEN e.embedding IS NOT NULL AND len(list_filter(e.embedding,
                    x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                         OR isinf(CAST(x AS DOUBLE)))) = 0
                THEN CAST(coalesce(list_sum(list_transform(e.embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) * {DRIFT_Q}) AS BIGINT)
                            * CAST(floor(CAST(x AS DOUBLE) * {DRIFT_Q}) AS BIGINT))),
                         0) AS BIGINT)
           END AS norm2
    FROM embeddings e CROSS JOIN dimtop d
)
SELECT metric, k, n FROM (
    SELECT 'n_vectors' AS metric, CAST(0 AS BIGINT) AS k,
           count(*) AS n FROM base
    UNION ALL
    SELECT 'null_vec', 0, CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END)
           AS BIGINT) FROM base
    UNION ALL
    SELECT 'wrong_dim', 0, CAST(sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END)
           AS BIGINT) FROM base
    UNION ALL
    SELECT 'nonfinite', 0, CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END)
           AS BIGINT) FROM base
    UNION ALL
    SELECT 'zero_vec', 0, CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) FROM base
    UNION ALL
    SELECT 'expected_dim', CAST(dim AS BIGINT), CAST(n AS BIGINT) FROM dimtop
    UNION ALL
    SELECT 'norm_digits', CAST(length(CAST(norm2 AS VARCHAR)) AS BIGINT),
           count(*)
    FROM base WHERE norm2 IS NOT NULL GROUP BY 2
)
ORDER BY metric, k
"""


# ------------------------------------------------------------------ D75
#: probe counts the tuning curve sweeps (IVF_PROBES = 3 sits inside)
PROBE_SWEEP = (1, 2, 4, 8)


def knn_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall-vs-probes tuning curve: per-query recall@k of the
    TRAINED IVF index at every probe count in ``PROBE_SWEEP`` — the
    table that actually picks IVF_PROBES (FAISS's nprobe sweep): read
    where the curve flattens, pay for exactly that many cells. One
    32-row answer replaces four ad-hoc recall evals.

    Scale: k-means trains ONCE (the bounded kmeans_fit driver fold) and
    the same centroid literals drive all sweep points, so the corpus's
    cell assignment replays as a narrow map per point — no per-point
    re-training, no extra corpus shuffles beyond each point's bounded
    candidate scoring (probed cells × queries). The exact baseline is
    computed once and joined against each point's top-k; every frame
    after scoring is O(|queries| × k).

    Recall is exact-integer ppm (the knn_*_recall_eval contract); the
    monotonicity of recall in probe count is pinned by pytest — a
    non-monotone curve means the cell ranking and the probe slice
    disagree, the bug class this operator exists to catch.
    """
    from ..reliability import pin

    emb = table(spark, sf_dir, "embeddings")
    centroids = _ivf_trained_centroids(spark, sf_dir)
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    # ONE scoring pass for the whole sweep (r14 optimization, the
    # minhash_band_curve nesting device): probed cell sets NEST
    # (top-1 ⊂ top-2 ⊂ top-4 ⊂ top-8), so score every candidate of the
    # WIDEST point once, annotated with its cell's probe rank, and each
    # sweep point's top-k is a filter (probe_rank < p) + the identical
    # (cos_sim desc, neighbor_id) window over the pinned candidate
    # frame. cos_sim values and tie-breaks are the same expressions
    # _ivf_knn evaluates per point, so every point's top-k — and the
    # recall table — is value-identical to the four-search formulation;
    # the ORACLE keeps the direct per-point searches, so the hash gate
    # proves the rewrite. Candidate frame is O(|queries| × corpus/cells
    # × max_probes) — the widest point's scoring cost, paid once.
    max_p = max(PROBE_SWEEP)
    ranking = _cell_ranking(F.col("embedding"), centroids)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.element_at(ranking, 1).alias("cell"),
    )
    probe_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.posexplode(F.slice(ranking, 1, max_p)).alias("probe_rank", "cell"),
        )
    )
    scored = pin(
        corpus.join(broadcast(probe_rows), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            F.round(cosine_similarity(F.col("qvec"), F.col("cvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    curves = []
    for p in PROBE_SWEEP:
        approx = (
            scored.where(F.col("probe_rank") < p)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        curves.append(
            exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            )
            .select(
                F.lit(p).cast("int").alias("probes"),
                "query_id",
                "k",
                "n_hit",
                F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionAll(c)
    return out


def _probe_point_oracle(p: int) -> str:
    return f"""
SELECT {p}::INT AS probes, query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM ({ORACLE["knn_bruteforce"]}) e
    LEFT JOIN ({_ivf_trained_oracle(probes=p)}) a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
GROUP BY query_id
"""


ORACLE["knn_probe_curve"] = "\nUNION ALL\n".join(
    f"SELECT * FROM ({_probe_point_oracle(p)})" for p in PROBE_SWEEP
)


# ------------------------------------------------------------------ D71
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR / ANCE
    recipe, Karpukhin et al. 2020; Xiong et al. 2021): for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — maximally confusable non-matches, the negatives that make
    embedding models actually learn. Same-label neighbors are
    positives, not negatives, so the label mask is part of the mining
    contract, not a post-filter nicety.

    Scale shape = knn_topk_partitioned's: the bounded query panel
    (ids, vectors, labels) broadcasts once; each partition scores its
    rows with one numpy matmul, applies the label/self mask, and emits
    only its local k finalists — the global ranking window then sees
    O(partitions × Q × k) rows, never the corpus. cos is rounded to
    6 dp BEFORE the LOCAL cut (lexsort ties by neighbor_id, the same
    order the global window uses), so the local top-k is exactly the
    partition's contribution to the global top-k — no tie-group buffer
    needed.
    """
    emb = table(spark, sf_dir, "embeddings")
    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_labels = np.array([r["label"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, q_labels, q_norm))

    def local_negs(batches):
        ids_q, labels_q, mat_q = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat_q @ mat.T  # (Q, n)
            for qi, qid in enumerate(ids_q):
                keep = (ids != qid) & (labels != labels_q[qi])
                cand_ids, cand_lbl, cand_sims = ids[keep], labels[keep], sims[qi][keep]
                if not len(cand_ids):
                    continue
                # round BEFORE the local cut and tie-break by
                # neighbor_id — the exact order of the global window —
                # so a rounded-tie group can never straddle the cut
                r_sims = np.round(cand_sims, 6)
                top = np.lexsort((cand_ids, -r_sims))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "query_label": labels_q[qi],
                        "neighbor_id": cand_ids[top],
                        "neighbor_label": cand_lbl[top],
                        "cos_sim": r_sims[top],
                    }
                )

    local = emb.mapInPandas(
        local_negs,
        schema="query_id long, query_label int, neighbor_id long,"
        " neighbor_label int, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cos_sim", "rank",
        )
    )


ORACLE["hard_negative_mining"] = f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS query_label,
           embedding::DOUBLE[] AS qvec
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
           e.label AS neighbor_label,
           round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 6) AS cos_sim
    FROM q JOIN embeddings e
      ON e.vec_id != q.query_id AND e.label != q.query_label
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


# ------------------------------------------------------------------ D70
#: fixed-point scale for the covariance codes (2^12 per unit)
COV_CODE_SCALE = 4096


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance / Gram statistics over the embedding
    column — the single-pass front half of PCA (whitening, dimension
    pruning, drift detection all start from Σ = E[xxᵀ] − μμᵀ; the
    driver-side eigendecomposition of the 64×64 result is O(dim³),
    trivially bounded). Emits the upper triangle: for each dim pair
    i ≤ j the exact integer sums (n, Σcᵢ, Σcⱼ, Σcᵢcⱼ) over fixed-point
    codes c = floor(x·4096 + 0.5), plus the covariance numerator
    n·Σcᵢcⱼ − Σcᵢ·Σcⱼ (= n²·scale²·cov).

    Scale shape: ONE Arrow mapInPandas pass accumulates a per-partition
    int64 Gram matrix of the homogeneous-coordinate code matrix [1 | c]
    (the constant column makes n and the per-dim sums fall out of the
    same matmul — no second pass), emitting O(dim²) rows per partition;
    the only shuffle is the O(dim² × partitions) partial-sum reduce.
    The corpus is read once and never joined or exploded. Partial
    products are exact int64 (|code| ≤ 4096·|x|, partitions hold ≪ 2⁶³
    /code² rows); the global reduce folds through DECIMAL(38,0), so
    totals stay exact at cluster scale — the bigint emission cast is
    gate-bounded and documented (a 10¹²-row corpus would emit the
    decimals unchanged).

    Cross-engine exactness: the code quantization floor(x·4096 + 0.5)
    is two IEEE double ops on the exactly-widened float32, identical in
    numpy and DuckDB; everything after is integer arithmetic, so sums
    are order-independent under any partitioning.
    """
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    ).select("embedding")

    def gram_partial(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            codes = np.floor(mat * COV_CODE_SCALE + 0.5).astype(np.int64)
            aug = np.concatenate(
                [np.ones((codes.shape[0], 1), dtype=np.int64), codes], axis=1
            )
            g = aug.T @ aug
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {
                "di": iu[0].astype("int32"),
                "dj": iu[1].astype("int32"),
                "ps": acc[iu],
            }
        )

    partials = emb.mapInPandas(gram_partial, schema="di int, dj int, ps long")
    g = partials.groupBy("di", "dj").agg(
        F.sum(F.col("ps").cast("decimal(38,0)")).alias("s")
    )
    n = g.where((F.col("di") == 0) & (F.col("dj") == 0)).select(
        F.col("s").cast("bigint").alias("n_vecs")
    )
    sums = g.where((F.col("di") == 0) & (F.col("dj") >= 1)).select(
        F.col("dj").alias("d"), F.col("s").cast("bigint").alias("sv")
    )
    pairs = g.where(F.col("di") >= 1).select(
        F.col("di").alias("dim_i"),
        F.col("dj").alias("dim_j"),
        F.col("s").cast("bigint").alias("s_ij"),
    )
    return (
        pairs.join(
            F.broadcast(sums.select(F.col("d").alias("dim_i"), F.col("sv").alias("s_i"))),
            "dim_i",
        )
        .join(
            F.broadcast(sums.select(F.col("d").alias("dim_j"), F.col("sv").alias("s_j"))),
            "dim_j",
        )
        .join(F.broadcast(n))
        .select(
            "dim_i",
            "dim_j",
            "n_vecs",
            "s_i",
            "s_j",
            "s_ij",
            (F.col("n_vecs") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).alias(
                "cov_num"
            ),
        )
    )


ORACLE["embedding_covariance"] = f"""
WITH codes AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(floor(unnest(embedding)::DOUBLE * {COV_CODE_SCALE} + 0.5) AS BIGINT) AS c
    FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
    SELECT a.i AS dim_i, b.i AS dim_j, sum(a.c * b.c)::BIGINT AS s_ij
    FROM codes a JOIN codes b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
),
sums AS (SELECT i, sum(c)::BIGINT AS s FROM codes GROUP BY 1),
n AS (
    SELECT count(*)::BIGINT AS n_vecs FROM embeddings WHERE embedding IS NOT NULL
)
SELECT p.dim_i, p.dim_j, n.n_vecs, sa.s AS s_i, sb.s AS s_j, p.s_ij,
       (n.n_vecs * p.s_ij - sa.s * sb.s)::BIGINT AS cov_num
FROM pairs p
JOIN sums sa ON sa.i = p.dim_i
JOIN sums sb ON sb.i = p.dim_j
CROSS JOIN n
"""


# ------------------------------------------------------------------ D80
#: principal components extracted / power-iteration count per component.
#: 96 iterations is sized for a NEAR-FLAT spectrum (the synthetic
#: embeddings are close to isotropic, λ2/λ1 ≈ 0.93 → contraction needs
#: ~70 steps for 1e-2); on real embedding corpora (sharp spectra) it
#: over-converges harmlessly, and each step is one O(dim²) matvec —
#: driver-side microseconds, oracle-side a 64-row materialized CTE
PCA_COMPONENTS = 4
PCA_ITERS = 96


def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA — the consumer of embedding_covariance's exact
    integer Gram (the "driver-side eigendecomposition is O(dim³),
    trivially bounded" epilogue that docstring promises): top
    PCA_COMPONENTS eigenvectors of the trace-normalized covariance by
    power iteration with deflation (Golub & Van Loan §8.2), emitting
    per (component, dim) the floor-scaled loading and per component the
    explained-variance share in ppm. This is the principal-SUBSPACE
    upgrade over embedding_dim_prune's variance diagonal: dim_prune
    keeps axis-aligned dims, this finds the rotated basis a whitening /
    compaction step actually projects onto.

    Scale: the distributed work is embedding_covariance's ONE corpus
    scan (O(dim²×partitions) shuffle rows); everything after operates
    on the O(dim²) covariance — a bounded EAGER driver epilogue
    (knn_sq8's documented-bounded collect class), never a corpus join.

    Cross-engine exactness: both engines start from the IDENTICAL
    integer covariance numerators (cov_num is exact int64 — proven by
    embedding_covariance's gate) and run the same recurrence: A =
    cov_num / trace, v₀ = 1/√dim (= 0.125, exact in binary for dim 64),
    16 × (w = Av; v = w/‖w‖), λ = vᵀAv, deflate A −= λvvᵀ. Per-step
    float sums differ only in accumulation order (~1e-15 relative), and
    normalized power iteration is non-expansive, so loadings agree to
    ~1e-13 — emitted floor-scaled at e6 where a flip needs the product
    within 1e-7 of an integer. The eigenvector SIGN is seed-determined
    (same recurrence → same sign), so no sign convention is needed.
    """
    cov_rows = embedding_covariance(spark, sf_dir).collect()
    return spark.createDataFrame(
        _pca_rows_from_cov(cov_rows),
        schema="component int, dim int, loading_e6 bigint, evr_ppm bigint",
    )


def _pca_rows_from_cov(cov_rows) -> list[tuple[int, int, int, int]]:
    """The driver-side eigensolve: collected covariance rows → the
    (component, dim, loading_e6, evr_ppm) tuples. Shared by
    embedding_pca and embedding_pca_project so the corpus pays ONE
    covariance pass per caller."""
    dim = max(r["dim_i"] for r in cov_rows)
    c_int = np.zeros((dim, dim), dtype=np.int64)
    for r in cov_rows:
        i, j = r["dim_i"] - 1, r["dim_j"] - 1
        c_int[i, j] = r["cov_num"]
        c_int[j, i] = r["cov_num"]
    tr = float(c_int.trace())
    a = c_int.astype(np.float64) / tr

    out = []
    for comp in range(PCA_COMPONENTS):
        v = np.full(dim, 1.0 / np.sqrt(dim))
        for _ in range(PCA_ITERS):
            w = a @ v
            v = w / np.sqrt((w * w).sum())
        lam = v @ a @ v
        evr_ppm = int(np.floor(lam * 1e6))
        for d in range(dim):
            out.append(
                (comp, d + 1, int(np.floor(v[d] * 1e6)), evr_ppm)
            )
        a = a - lam * np.outer(v, v)
    return out


def _pca_oracle() -> str:
    """embedding_pca mirrored: the integer-covariance CTEs (exactly
    embedding_covariance's oracle interior), then PCA_COMPONENTS ×
    PCA_ITERS unrolled power-iteration CTEs (the pagerank/kmeans
    chained-CTE device) with deflation between components."""
    ctes = [
        f"""codes AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(floor(unnest(embedding)::DOUBLE * {COV_CODE_SCALE} + 0.5) AS BIGINT) AS c
    FROM embeddings WHERE embedding IS NOT NULL
),
tri AS (
    SELECT a.i AS di, b.i AS dj,
           count(*)::BIGINT * sum(a.c * b.c)::BIGINT
               - sum(a.c)::BIGINT * sum(b.c)::BIGINT AS cov_num
    FROM codes a JOIN codes b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
),
covf AS (
    SELECT di AS i, dj AS j, cov_num FROM tri
    UNION ALL
    SELECT dj, di, cov_num FROM tri WHERE di < dj
),
trc AS (SELECT CAST(sum(cov_num) AS DOUBLE) AS tr FROM tri WHERE di = dj),
nd AS (SELECT CAST(max(i) AS DOUBLE) AS d FROM covf),
a0_0 AS (SELECT i, j, CAST(cov_num AS DOUBLE) / trc.tr AS a FROM covf, trc)"""
    ]
    stat_rows = []
    for c in range(PCA_COMPONENTS):
        p = f"a{c}"
        ctes.append(
            f"{p}_v0 AS (SELECT i AS dim, 1.0 / sqrt(nd.d) AS v FROM nd,"
            " (SELECT DISTINCT i FROM covf))"
        )
        for t in range(PCA_ITERS):
            ctes.append(
                f"""{p}_v{t + 1} AS (
    SELECT dim, w / sqrt(sum(w * w) OVER ()) AS v
    FROM (
        SELECT m.i AS dim, sum(m.a * v.v) AS w
        FROM {p}_0 m JOIN {p}_v{t} v ON m.j = v.dim GROUP BY 1
    )
)"""
            )
        vf = f"{p}_v{PCA_ITERS}"
        ctes.append(
            f"""{p}_lam AS (
    SELECT sum(vi.v * m.a * vj.v) AS lam
    FROM {p}_0 m JOIN {vf} vi ON m.i = vi.dim JOIN {vf} vj ON m.j = vj.dim
)"""
        )
        if c + 1 < PCA_COMPONENTS:
            ctes.append(
                f"""a{c + 1}_0 AS (
    SELECT m.i, m.j, m.a - l.lam * vi.v * vj.v AS a
    FROM {p}_0 m
    JOIN {vf} vi ON m.i = vi.dim JOIN {vf} vj ON m.j = vj.dim
    CROSS JOIN {p}_lam l
)"""
            )
        stat_rows.append(
            f"""SELECT {c} AS component, v.dim,
       CAST(floor(v.v * 1000000) AS BIGINT) AS loading_e6,
       CAST(floor(l.lam * 1000000) AS BIGINT) AS evr_ppm
FROM {vf} v CROSS JOIN {p}_lam l"""
        )
    body = " UNION ALL ".join(f"({s})" for s in stat_rows)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT component, dim::INT AS dim, loading_e6, evr_ppm FROM ({body})"
    )


ORACLE["embedding_pca"] = _mat(_pca_oracle())


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA apply step — project every embedding onto the learned
    principal components (the compaction/whitening transform
    embedding_pca's loadings exist to drive): per vector the CENTERED
    integer projection numerator for each component,
    num[c] = Σ_d (code_d·n − s_d) · loading_e6[c][d], where
    code_d = floor(x_d·4096 + 0.5) is the covariance fixed-point code
    and (n, s_d) are the corpus count and per-dim code sums — i.e.
    n·scale·1e6 × the centered projection, exact in integers, EMITTED
    as the exact division pair (proj_q, proj_r) = (num div n, num % n)
    so num = q·n + r reconstructs bit-exactly.

    All-integer exactness end to end (the quality_classifier_score
    device): loadings come from embedding_pca's EMITTED e6 values
    (bit-identical cross-engine by that row's gate), codes and sums are
    exact, the wide numerator folds through DECIMAL(38,0) on BOTH
    engines, and div/% truncate toward zero identically (Spark decimal
    div ≡ DuckDB HUGEINT //, verified on negatives) — no float
    anywhere in this operator.

    Scale: loadings (256 values) and the per-dim sums (64) are bounded
    collects; the projection itself is ONE narrow zip_with/aggregate
    map over the corpus — fully inside codegen, zero shuffles, zero
    UDFs: exactly how a 100 TB projection runs (broadcast the
    rotation, stream the vectors through it). The emission is
    CORPUS-SIZE-FREE (closes ADVICE_r12/VERDICT_r13 #4 — the former
    single-bigint numerator grew ~2.6e11·n and died at n ≳ 3·10⁷):
    |proj_q| = scale·1e6·|centered proj| ≤ 64·4096·10⁶·max|x−μ| is
    bounded by the DATA's magnitude alone (int64-safe to |x| ~ 1.7e4,
    vs unit-norm embeddings), and |proj_r| < n. The DECIMAL(38,0)
    numerator itself is exact to ~10³⁸ ≈ 10²⁶ vectors.
    """
    from decimal import Decimal

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    loads: dict[int, dict[int, int]] = {}
    for comp, d, w, _evr in _pca_rows_from_cov(cov_rows):
        loads.setdefault(comp, {})[d] = w
    dim = max(max(d) for d in loads.values())

    n_vecs = int(cov_rows[0]["n_vecs"])
    s = {r["dim_i"]: r["s_i"] for r in cov_rows if r["dim_i"] == r["dim_j"]}

    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    cols = [F.col("vec_id")]
    for c in sorted(loads):
        warr = F.array(
            *[F.lit(int(loads[c][d])) for d in range(1, dim + 1)]
        )
        # Σ_d floor(x·4096 + 0.5)·w — codegen'd zip_with + aggregate
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                warr,
                lambda x, w: (
                    F.floor(x.cast("double") * COV_CODE_SCALE + F.lit(0.5))
                    .cast("bigint")
                    * w
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        const_c = sum(int(s[d]) * int(loads[c][d]) for d in range(1, dim + 1))
        cols.append(
            (
                dot.cast("decimal(38,0)") * F.lit(n_vecs)
                - F.lit(Decimal(const_c)).cast("decimal(38,0)")
            ).alias(f"num_{c}")
        )
    wide = emb.select(*cols)
    out_cols = [F.col("vec_id")]
    for c in sorted(loads):
        out_cols.append(
            F.expr(f"CAST(num_{c} div {n_vecs} AS BIGINT)").alias(f"proj_q_{c}")
        )
        out_cols.append(
            F.expr(f"CAST(num_{c} % {n_vecs} AS BIGINT)").alias(f"proj_r_{c}")
        )
    return wide.select(*out_cols)


def _pca_project_oracle() -> str:
    """embedding_pca_project mirrored: the full PCA chain (for wfit's
    e6 loadings), the covariance count/sums, then the integer centered
    projection — numerator folded in DECIMAL(38,0), emitted as the
    exact (num // n, num % n) pair via truncating HUGEINT arithmetic
    (≡ Spark's decimal div/%), pivoted wide to one row per vector."""

    def num(c: int) -> str:
        # per-dim addend cast to DECIMAL(38,0) BEFORE the ×loading_e6
        # (an int64 addend would overflow at code·n·1e6 scale)
        return f"""CAST(sum(CASE WHEN w.component = {c}
                 THEN CAST(cd.c * st.n - st.s AS DECIMAL(38,0))
                      * w.loading_e6 END) AS HUGEINT)"""

    comp_cols = ",\n       ".join(
        f"""CAST({num(c)} // nq.n AS BIGINT) AS proj_q_{c},
       CAST({num(c)} % nq.n AS BIGINT) AS proj_r_{c}"""
        for c in range(PCA_COMPONENTS)
    )
    return (
        _pca_oracle()
        .replace(
            "\nSELECT component, dim::INT AS dim, loading_e6, evr_ppm FROM (",
            """,
wfit AS (
    SELECT component, dim, loading_e6 FROM (""",
        )
        + f"""
),
cstats AS (
    SELECT i AS dim, sum(c)::BIGINT AS s, count(*)::BIGINT AS n
    FROM codes GROUP BY 1
),
nq AS (SELECT max(n) AS n FROM cstats),
cd AS (SELECT vec_id, i AS dim, c FROM codes)
SELECT cd.vec_id,
       {comp_cols}
FROM cd
JOIN cstats st USING (dim)
JOIN wfit w USING (dim)
CROSS JOIN nq
GROUP BY cd.vec_id, nq.n
"""
    )


ORACLE["embedding_pca_project"] = _mat(_pca_project_oracle())


# ------------------------------------------------------------------ D74
#: cumulative variance coverage a kept dim set must reach (ppm)
PRUNE_COVERAGE_PPM = 990_000


def embedding_dim_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ranked dimension-pruning report — the decision layer on
    top of embedding_covariance's diagonal: per dim the exact integer
    variance numerator n·Σc² − (Σc)² over the fixed-point codes, its
    share of total variance (ppm), the variance-descending rank, the
    cumulative share, and a keep flag marking the minimal prefix whose
    PREDECESSORS cover < 99% — i.e. the dims a 99%-coverage PCA-style
    truncation retains. Dead and near-constant dims (padding columns, a
    projector bug upstream) surface immediately with share ≈ 0.

    Scale: one posexplode + ONE map-side-combined per-dim aggregate —
    the embedding_drift_aa shuffle shape, O(dims × partitions) rows
    regardless of corpus size — then a 1-row total broadcast and rank/
    cumsum windows over the O(dims)-bounded frame (64 rows at any SF;
    the vocab_growth bounded-window device, never corpus-sized).
    All-integer end to end, so the hash is partitioning-independent.
    """
    emb = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    codes = emb.select(
        F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * COV_CODE_SCALE + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    per_dim = codes.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    # r14 sf1 sweep catch: var_num ≈ n²·var_c passes 9.2e12 between the
    # sf0.1 gate and 10× — var_num·10⁶ then overflows int64 on BOTH
    # engines. The numerator now folds through DECIMAL(38,0) (the
    # pca_project device); share_ppm's quotient is ≤ 10⁶ so the final
    # bigint is full-range, and the raw var_num EMISSION keeps the
    # documented covariance-class bound (int64 to n ≈ 7·10⁵ vectors —
    # ANSI fails loudly past it; a deployment reads the decimal).
    v = per_dim.select(
        "dim",
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s").cast("decimal(38,0)") * F.col("s")
        ).alias("var_dec"),
    )
    tot = v.agg(F.sum("var_dec").alias("tv"))
    ranked = (
        v.join(F.broadcast(tot))
        .select(
            "dim",
            F.col("var_dec").cast("bigint").alias("var_num"),
            F.expr(
                "CAST((var_dec * 1000000) div nullif(tv, 0) AS BIGINT)"
            ).alias("share_ppm"),
            F.col("var_dec"),
        )
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("var_dec"), F.asc("dim"))),
        )
        .drop("var_dec")
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.select(
        "dim",
        "var_num",
        "share_ppm",
        "rank",
        F.sum("share_ppm").over(w_cum).cast("bigint").alias("cum_ppm"),
        F.when(
            F.sum("share_ppm").over(w_cum) - F.col("share_ppm")
            < PRUNE_COVERAGE_PPM,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
    )


ORACLE["embedding_dim_prune"] = f"""
WITH codes AS (
    SELECT generate_subscripts(embedding, 1) AS dim,
           CAST(floor(unnest(embedding)::DOUBLE * {COV_CODE_SCALE} + 0.5) AS BIGINT) AS c
    FROM embeddings WHERE embedding IS NOT NULL
),
per_dim AS (
    SELECT dim, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
           CAST(sum(c * c) AS BIGINT) AS s2
    FROM codes GROUP BY 1
),
v AS (
    -- DECIMAL(38,0) numerator (r14 sf1 sweep catch: n²·var_c·10⁶
    -- overflows int64 past the sf0.1 gate scale on both engines)
    SELECT dim,
           CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s
               AS var_dec
    FROM per_dim
),
tot AS (SELECT sum(var_dec) AS tv FROM v),
ranked AS (
    SELECT dim, CAST(var_dec AS BIGINT) AS var_num,
           CAST(CAST(var_dec * 1000000 AS HUGEINT)
                // nullif(CAST(tv AS HUGEINT), 0) AS BIGINT) AS share_ppm,
           row_number() OVER (ORDER BY var_dec DESC, dim ASC) AS rank
    FROM v CROSS JOIN tot
)
SELECT dim, var_num, share_ppm, rank,
       CAST(sum(share_ppm) OVER (ORDER BY rank) AS BIGINT) AS cum_ppm,
       (CASE WHEN sum(share_ppm) OVER (ORDER BY rank) - share_ppm
                  < {PRUNE_COVERAGE_PPM}
             THEN 1 ELSE 0 END)::INT AS keep
FROM ranked
"""


# ----------------------------------------------------------------- D79
#: PQ geometry: M subspaces × (dim/M) dims, K codes per subspace (4-bit
#: codes — the FAISS PQx4 "fast-scan" shape), Lloyd iterations per book
PQ_M = 4
PQ_K = 16
PQ_ITERS = 3
#: fixed-point grid for the ADC distance: queries AND codebook
#: centroids quantize to floor(x·4096 + 0.5) integer codes and the
#: table entry is the EXACT integer Σ(Δcode)² — the knn_sq8 device.
#: (The earlier floor(1e4·‖q−c‖²)-of-a-double formulation flipped one
#: ulp on the adversarial integer-grid corpus, where the product lands
#: exactly on integers and the two engines' dot-product orders round
#: opposite ways.)
PQ_CENT_SCALE = 4096


def _pq_fit(
    spark: SparkSession,
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> tuple[list[np.ndarray], int]:
    """Train all M product-quantizer codebooks jointly — Lloyd's on each
    dim-subspace, but ONE corpus scan per iteration covers every
    subspace (kmeans_fit's K×P partial-fold device, ml.py:46, widened to
    M×K×P partials). Returns ([codebook_m (k × dim/m)], corpus n).

    Init mirrors kmeans_fit: step-sampled rows by vec_id, each row's
    subvectors seeding the corresponding codebook — deterministic and
    SQL-mirrorable. EAGER builder (documented-bounded like knn_sq8's
    stats collect): per iteration the driver folds M×K×P tiny partial
    rows in sorted order, so accumulation is run-to-run deterministic.
    """
    from ..reliability import pin, unpin
    from .ml import _assign

    emb = pin(emb, eager=False)  # the count below materializes it
    n = emb.count()
    step = max(1, n // k)
    init = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < k))
        .orderBy("vec_id")
        .collect()
    )
    full = np.array([r["embedding"] for r in init], dtype=np.float64)
    sub = full.shape[1] // m
    books = [full[:, mi * sub : (mi + 1) * sub].copy() for mi in range(m)]
    # sparse vec_id spaces (10x replicas, hostile corpora) can yield
    # fewer than k init rows — size everything off the ACTUAL codebook,
    # exactly as the oracle's row_number init does (kmeans_fit device)
    k = books[0].shape[0]

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def partials(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            bks = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["embedding"]), dtype=np.float64)
                rows = []
                for mi, cb in enumerate(bks):
                    sm = mat[:, mi * sub : (mi + 1) * sub]
                    cl, _sq = _assign(sm, cb)
                    for j in np.unique(cl):
                        sel = cl == j
                        rows.append(
                            (pid, mi, int(j), int(sel.sum()),
                             sm[sel].sum(axis=0).tolist())
                        )
                yield pd.DataFrame(
                    rows, columns=["part_id", "sub", "cluster", "n", "sumvec"]
                )

        parts = sorted(
            emb.select("embedding")
            .mapInPandas(
                partials,
                schema="part_id long, sub int, cluster int, n long,"
                " sumvec array<double>",
            )
            .collect(),
            key=lambda r: (r["part_id"], r["sub"], r["cluster"]),
        )
        counts = np.zeros((m, k))
        sums = [np.zeros_like(b) for b in books]
        for r in parts:
            counts[r["sub"], r["cluster"]] += r["n"]
            sums[r["sub"]][r["cluster"]] += np.array(r["sumvec"])
        new_books = []
        for mi in range(m):
            b = books[mi].copy()
            nz = counts[mi] > 0
            b[nz] = sums[mi][nz] / counts[mi][nz, None]
            new_books.append(b)
        books = new_books
        bc.destroy()
    unpin(emb)
    return books, n


def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the remaining FAISS tier (IndexIVFPQ, Jégou et al. 2011
    "Product Quantization for Nearest Neighbor Search"): coarse IVF
    cells prune WHICH vectors are scored, and each vector is held as M
    4-bit PQ codes (dim/M-dim subspace codebooks trained by Lloyd's), so
    the scored representation is M·log2(K)/8 bytes/vector — 2 bits/dim
    here vs SQ8's 8, a further 4× memory cut on top of IVF's pruning.
    Search is asymmetric distance computation (ADC): per query ONE M×K
    lookup table of subspace distances is built driver-side, and each
    candidate's distance is M integer table lookups + a sum.

    Plan: two bounded eager builders (the joint PQ fit — M×K×P partial
    rows per iteration, _pq_fit above — and the ≤IVF_CELLS step-sampled
    centroid collect), then ONE Arrow mapInPandas pass: each partition
    assigns its rows' top-1 cell and M PQ codes (numpy argmin against
    broadcast codebooks — ml.py's _assign), masks candidates to each
    query's probed cells, and ranks by the integer ADC sum; the global
    merge sees only partitions×Q×k finalists. Zero corpus joins, zero
    corpus shuffles — knn_ivf_sq8's exact cost shape with the code
    matrix 4× smaller.

    Cross-engine exactness: cell assignment and the Lloyd recurrences
    mirror knn_ivf/kmeans_embeddings' proven CTE devices; the ADC table
    quantizes query subvectors AND codebook centroids to the 4096
    fixed-point grid and its entry is the EXACT integer Σ(Δcode)² —
    no floor of a float distance anywhere (that formulation flipped an
    ulp on the adversarial integer-grid corpus), and the centroid
    quantization tolerates the engines' ~1e-13 Lloyd divergence (a flip
    needs a centroid within 1e-13·4096 of a half-integer). The ranked
    distance is an integer sum — (dist_q, neighbor_id) is a total
    order, so partition-local top-k is exact. Recall vs exact:
    knn_pq_recall_eval (the fifth ANN QA row).
    """
    from .ml import _assign

    emb = table(spark, sf_dir, "embeddings")
    books, n = _pq_fit(spark, emb.select("vec_id", "embedding"))
    sub = books[0].shape[1]

    step = max(1, n // IVF_CELLS)
    cent_rows = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < IVF_CELLS))
        .select((F.col("vec_id") / step).cast("int").alias("cell"), "embedding")
        .orderBy("cell")
        .collect()
    )
    cells_arr = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
    cent = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    def assign_cells(mat: np.ndarray, top: int) -> np.ndarray:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cent_n.T
        order = np.argsort(-sims, axis=1, kind="stable")  # ties → lower cell
        return cells_arr[order[:, :top]]

    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_cells = assign_cells(q_mat, IVF_PROBES)
    adc = np.zeros((len(q_ids), PQ_M, books[0].shape[0]), dtype=np.int64)
    for mi, cb in enumerate(books):
        qs = np.floor(
            q_mat[:, mi * sub : (mi + 1) * sub] * PQ_CENT_SCALE + 0.5
        ).astype(np.int64)
        cq = np.floor(cb * PQ_CENT_SCALE + 0.5).astype(np.int64)
        diff = qs[:, None, :] - cq[None, :, :]  # (Q, K, sub)
        adc[:, mi, :] = (diff * diff).sum(axis=2)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_cells = spark.sparkContext.broadcast(q_cells)
    b_adc = spark.sparkContext.broadcast(adc)
    b_books = spark.sparkContext.broadcast(books)

    def local_topk(batches):
        sub_idx = np.arange(PQ_M)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = assign_cells(mat, 1)[:, 0]
            codes = np.empty((len(mat), PQ_M), dtype=np.int64)
            for mi, cb in enumerate(b_books.value):
                codes[:, mi], _ = _assign(mat[:, mi * sub : (mi + 1) * sub], cb)
            for qi, qid in enumerate(bq_ids.value):
                keep = np.isin(cell, bq_cells.value[qi]) & (ids != qid)
                if not keep.any():
                    continue
                dist = b_adc.value[qi][sub_idx, codes[keep]].sum(axis=1)
                cand_ids = ids[keep]
                top = np.lexsort((cand_ids, dist))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "dist_q": dist[top],
                    }
                )

    local = emb.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, dist_q long"
    )
    rw = Window.partitionBy("query_id").orderBy(F.asc("dist_q"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "dist_q", "rank")
    )


def _pq_subspace_ctes(
    mi: int, k: int, iters: int, dim: int = 64, src: str = "e", pfx: str = "s"
) -> str:
    """One subspace's trained codebook as prefixed chained CTEs — the
    unrolled-Lloyd device of ml.py:176 parameterized for a dim slice.
    Terminal relation: {pfx}{mi}_c{iters} (cluster, cent). Defaults
    reproduce knn_ivf_pq's oracle byte-identically; knn_ivf_opq reuses
    the device on the 4-dim rotated frame (dim=4, src='er', pfx='r')."""
    lo, hi = mi * (dim // PQ_M) + 1, (mi + 1) * (dim // PQ_M)
    p = f"{pfx}{mi}"
    parts = [
        f"{p}_e AS (SELECT vec_id, emb[{lo}:{hi}] AS emb FROM {src}),",
        f"""{p}_c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, emb AS cent
    FROM {p}_e, pqp WHERE vec_id % pqp.step = 0 AND vec_id / pqp.step < {k}
),""",
    ]
    for i in range(iters):
        parts.append(f"""{p}_a{i} AS (
    SELECT vec_id, emb, cluster FROM (
        SELECT x.vec_id, x.emb, c.cluster,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                   -2.0 * list_dot_product(x.emb, c.cent)
                       + list_dot_product(c.cent, c.cent), c.cluster) AS rn
        FROM {p}_e x CROSS JOIN {p}_c{i} c
    ) WHERE rn = 1
),
{p}_c{i + 1} AS (
    SELECT prev.cluster, coalesce(upd.cent, prev.cent) AS cent
    FROM {p}_c{i} prev LEFT JOIN (
        SELECT cluster, list(s / n ORDER BY pos) AS cent FROM (
            SELECT cluster, pos, sum(v) AS s, count(*) AS n FROM (
                SELECT cluster, unnest(emb) AS v,
                       unnest(range(len(emb))) AS pos
                FROM {p}_a{i}
            ) GROUP BY cluster, pos
        ) GROUP BY cluster
    ) upd USING (cluster)
),""")
    return "\n".join(parts)


def _pq_oracle() -> str:
    """knn_ivf_pq mirrored: IVF cells/cand from knn_ivf_sq8's CTEs, M
    per-subspace unrolled-Lloyd codebooks, final code assignment, the
    floor-scaled ADC table, and the integer ADC-sum ranking."""
    sub_ctes = "\n".join(_pq_subspace_ctes(mi, PQ_K, PQ_ITERS) for mi in range(PQ_M))
    code_legs, adc_legs = [], []
    for mi in range(PQ_M):
        p, cf = f"s{mi}", f"s{mi}_c{PQ_ITERS}"
        code_legs.append(
            f"""SELECT vec_id, {mi} AS sub, cluster AS code FROM (
    SELECT x.vec_id, c.cluster,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
               -2.0 * list_dot_product(x.emb, c.cent)
                   + list_dot_product(c.cent, c.cent), c.cluster) AS rn
    FROM {p}_e x CROSS JOIN {cf} c
) WHERE rn = 1"""
        )
        adc_legs.append(
            f"""SELECT q.vec_id AS query_id, {mi} AS sub, c.code,
       CAST(sum((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dpart
FROM (SELECT vec_id, generate_subscripts(emb, 1) AS d,
             CAST(floor(unnest(emb) * {PQ_CENT_SCALE} + 0.5) AS BIGINT) AS qv
      FROM {p}_e WHERE vec_id < {N_QUERIES}) q
JOIN (SELECT cluster AS code, generate_subscripts(cent, 1) AS d,
             CAST(floor(unnest(cent) * {PQ_CENT_SCALE} + 0.5) AS BIGINT) AS cv
      FROM {cf}) c USING (d)
GROUP BY 1, 2, 3"""
        )
    codes = " UNION ALL ".join(code_legs)
    adcs = " UNION ALL ".join(adc_legs)
    return f"""
WITH p AS (SELECT greatest(1, count(*) // {IVF_CELLS}) AS step FROM embeddings),
pqp AS (SELECT greatest(1, count(*) // {PQ_K}) AS step FROM embeddings),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cinit AS (
    SELECT vec_id // p.step AS cluster, emb AS cent
    FROM e, p WHERE vec_id % p.step = 0 AND vec_id / p.step < {IVF_CELLS}
),
ranked_cells AS (
    SELECT vec_id, cell, rn FROM (
        SELECT e.vec_id, c.cluster AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.emb, c.cent) DESC,
                            c.cluster ASC) AS rn
        FROM e CROSS JOIN cinit c
    )
),
cand AS (
    SELECT pr.vec_id AS query_id, cc.vec_id AS neighbor_id
    FROM (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1) cc
    JOIN (SELECT vec_id, cell FROM ranked_cells
          WHERE rn <= {IVF_PROBES} AND vec_id < {N_QUERIES}) pr USING (cell)
    WHERE cc.vec_id != pr.vec_id
),
{sub_ctes}
codes AS ({codes}),
adc AS ({adcs}),
dist AS (
    SELECT ca.query_id, ca.neighbor_id,
           CAST(sum(a.dpart) AS BIGINT) AS dist_q
    FROM cand ca
    JOIN codes co ON co.vec_id = ca.neighbor_id
    JOIN adc a ON a.query_id = ca.query_id AND a.sub = co.sub
              AND a.code = co.code
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dist_q, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist_q ASC, neighbor_id ASC) AS rank
    FROM dist
)
WHERE rank <= {TOP_K}
"""


ORACLE["knn_ivf_pq"] = _mat(_pq_oracle())


def knn_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF-PQ index vs the exact cosine top-k — the
    fifth row of the ANN QA matrix (LSH / IVF / SQ8 / IVF-SQ8 / IVF-PQ).
    PQ's loss combines cell pruning with PER-SUBSPACE quantization (a
    much coarser 2-bit/dim code than SQ8's 8), so this row is the one
    that decides whether the extra 4× memory cut is affordable on this
    corpus. Same integer-ppm contract as the other four rows."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_ivf_pq(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_pq_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_ivf_pq"]}) pq),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


# ------------------------------------------------------------------ D84
#: fixed-point grid for the ROTATED-space ADC (the rotated coordinates
#: are centered original-unit projections, same magnitude class as raw
#: embedding values, so the covariance/PQ grid carries over)
OPQ_SCALE = PQ_CENT_SCALE


def _opq_rotation(spark: SparkSession, sf_dir: str):
    """The OPQ rotation artifacts from one covariance pass: (loads —
    {component → {dim → loading_e6}}, n_vecs, per-dim code sums s,
    denom — the n·4096·10⁶ normalizer that maps the exact-integer
    centered projection numerator back to original units). Shared by
    the fit-side frame builder and the search pass so the corpus pays
    ONE covariance scan per caller."""
    cov_rows = embedding_covariance(spark, sf_dir).collect()
    loads: dict[int, dict[int, int]] = {}
    for comp, d, w, _evr in _pca_rows_from_cov(cov_rows):
        loads.setdefault(comp, {})[d] = w
    n_vecs = int(cov_rows[0]["n_vecs"])
    s = {r["dim_i"]: int(r["s_i"]) for r in cov_rows if r["dim_i"] == r["dim_j"]}
    denom = float(n_vecs * COV_CODE_SCALE * 1_000_000)
    return loads, n_vecs, s, denom


def _opq_rotated_frame(spark: SparkSession, sf_dir: str, loads, n_vecs, s, denom):
    """Every embedding as its PCA-rotated coordinate array: y_c =
    (Σ_d code_d·loading_e6[c][d] · n − Σ_d s_d·loading_e6[c][d]) / denom
    — embedding_pca_project's exact-integer centered projection, scaled
    once back to original units so Lloyd's runs on O(1)-magnitude
    doubles. Both engines build the identical integer numerator and
    divide by the identical double, so the rotated frame is bit-equal
    cross-engine. Zero-shuffle codegen'd map (zip_with + aggregate).

    Integer bound (ADVICE_r12): |numerator| ≤ n·64·4096·|x|·10⁶ ≈
    2.6e11·n — exact in bigint to n ≈ 3·10⁷ vectors and in the double
    division to n ≈ 3·10⁴ heavier still; beyond that a deployment
    re-scales the loading grid (documented, gate-bounded here).
    """
    dim = max(max(d) for d in loads.values())
    emb = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    ys = []
    for c in sorted(loads):
        warr = F.array(*[F.lit(int(loads[c][d])) for d in range(1, dim + 1)])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                warr,
                lambda x, w: (
                    F.floor(x.cast("double") * COV_CODE_SCALE + F.lit(0.5))
                    .cast("bigint")
                    * w
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        const_c = sum(int(s[d]) * int(loads[c][d]) for d in range(1, dim + 1))
        ys.append(
            (
                (dot * F.lit(int(n_vecs)) - F.lit(const_c)).cast("double")
                / F.lit(denom)
            ).alias(f"y{c}")
        )
    return emb.select("vec_id", F.array(*ys).alias("embedding"))


def knn_ivf_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite — PCA-ROTATED product quantization (Ge et al. 2013
    "Optimized Product Quantization" use a learned rotation before PQ;
    the PCA rotation is its closed-form first approximation, Jégou et
    al.'s "transform coding" baseline): embeddings are rotated onto
    embedding_pca's principal components (the exact-integer projection
    device of embedding_pca_project) and the PRODUCT QUANTIZER is
    trained and searched in that rotated, energy-compacted space — one
    1-dim codebook per component. Candidate generation is knn_ivf_pq's
    IVF exactly (original-space cells, same probes), so the recall
    delta of this row vs knn_pq_recall_eval isolates precisely what the
    ROTATION changes about the scored representation — measured, not
    asserted (on a near-isotropic corpus like the synthetic embeddings
    the 4-component rotation keeps ~λ₁..λ₄ of the energy and LOSES
    recall; on real embedding corpora with sharp spectra the same
    composition is the standard recall win).

    Plan: knn_ivf_sq8/knn_ivf_pq's exact cost shape — three bounded
    eager builders (covariance collect O(dim²), rotated PQ fit M×K×P
    partial rows per iteration via _pq_fit UNCHANGED, ≤IVF_CELLS
    centroid collect), then ONE Arrow mapInPandas corpus pass (cell
    assign in original space, rotation + code assign in numpy from the
    same exact-integer recurrence, integer ADC sum). Zero corpus
    joins, zero corpus shuffles; the rotated frame itself is a
    zero-shuffle codegen map.

    Cross-engine exactness: the rotated coordinates are exact-integer
    numerators divided by one shared double (bit-equal cross-engine);
    Lloyd's and the ADC then mirror knn_ivf_pq's proven devices on the
    4096 grid — a flip needs a centroid within ~1e-13·4096 of a
    half-integer. (dist_q, neighbor_id) is a total order, so
    partition-local top-k is exact.
    """
    from .ml import _assign

    emb = table(spark, sf_dir, "embeddings")
    loads, n_vecs, s, denom = _opq_rotation(spark, sf_dir)
    dim = max(max(d) for d in loads.values())
    rot = _opq_rotated_frame(spark, sf_dir, loads, n_vecs, s, denom)
    books, n = _pq_fit(spark, rot)
    rsub = books[0].shape[1]  # = PCA_COMPONENTS // PQ_M = 1

    # numpy twin of the rotated frame (same exact-integer recurrence)
    lmat = np.array(
        [[loads[c][d] for d in range(1, dim + 1)] for c in sorted(loads)],
        dtype=np.int64,
    )
    cvec = np.array(
        [sum(int(s[d]) * int(loads[c][d]) for d in range(1, dim + 1))
         for c in sorted(loads)],
        dtype=np.int64,
    )

    def rotate(mat: np.ndarray) -> np.ndarray:
        codes = np.floor(mat * COV_CODE_SCALE + 0.5).astype(np.int64)
        return ((codes @ lmat.T) * n_vecs - cvec) / denom

    step = max(1, n // IVF_CELLS)
    cent_rows = (
        emb.where((F.col("vec_id") % step == 0) & (F.col("vec_id") / step < IVF_CELLS))
        .select((F.col("vec_id") / step).cast("int").alias("cell"), "embedding")
        .orderBy("cell")
        .collect()
    )
    cells_arr = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
    cent = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    def assign_cells(mat: np.ndarray, top: int) -> np.ndarray:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cent_n.T
        order = np.argsort(-sims, axis=1, kind="stable")  # ties → lower cell
        return cells_arr[order[:, :top]]

    qrows = emb.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_cells = assign_cells(q_mat, IVF_PROBES)
    q_rot = rotate(q_mat)
    adc = np.zeros((len(q_ids), PQ_M, books[0].shape[0]), dtype=np.int64)
    for mi, cb in enumerate(books):
        qs = np.floor(
            q_rot[:, mi * rsub : (mi + 1) * rsub] * OPQ_SCALE + 0.5
        ).astype(np.int64)
        cq = np.floor(cb * OPQ_SCALE + 0.5).astype(np.int64)
        diff = qs[:, None, :] - cq[None, :, :]
        adc[:, mi, :] = (diff * diff).sum(axis=2)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_cells = spark.sparkContext.broadcast(q_cells)
    b_adc = spark.sparkContext.broadcast(adc)
    b_books = spark.sparkContext.broadcast(books)

    def local_topk(batches):
        sub_idx = np.arange(PQ_M)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = assign_cells(mat, 1)[:, 0]
            rmat = rotate(mat)
            codes = np.empty((len(mat), PQ_M), dtype=np.int64)
            for mi, cb in enumerate(b_books.value):
                codes[:, mi], _ = _assign(rmat[:, mi * rsub : (mi + 1) * rsub], cb)
            for qi, qid in enumerate(bq_ids.value):
                keep = np.isin(cell, bq_cells.value[qi]) & (ids != qid)
                if not keep.any():
                    continue
                dist = b_adc.value[qi][sub_idx, codes[keep]].sum(axis=1)
                cand_ids = ids[keep]
                top = np.lexsort((cand_ids, dist))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[top],
                        "dist_q": dist[top],
                    }
                )

    local = emb.mapInPandas(
        local_topk, schema="query_id long, neighbor_id long, dist_q long"
    )
    rw = Window.partitionBy("query_id").orderBy(F.asc("dist_q"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "dist_q", "rank")
    )


def _opq_oracle() -> str:
    """knn_ivf_opq mirrored: the full PCA chain (wfit e6 loadings), the
    exact-integer rotated frame `er`, knn_ivf_pq's IVF cell/cand CTEs on
    the ORIGINAL space, the per-component unrolled-Lloyd codebooks on
    `er`, and the rotated-grid integer ADC ranking."""
    rsub = PCA_COMPONENTS // PQ_M
    # PCA chain terminating in wfit(component, dim, loading_e6)
    pca = _pca_oracle().replace(
        "\nSELECT component, dim::INT AS dim, loading_e6, evr_ppm FROM (",
        """,
wfit AS (
    SELECT component, dim, loading_e6 FROM (""",
    )
    proj_cols = ",\n       ".join(
        f"""CAST(sum(CASE WHEN w.component = {c}
                 THEN (cd.c * st.n - st.s) * w.loading_e6 END) AS BIGINT)
           AS p{c}"""
        for c in range(PCA_COMPONENTS)
    )
    y_list = ", ".join(
        f"CAST(p{c} AS DOUBLE) / (nn.n * {COV_CODE_SCALE}.0 * 1000000.0)"
        for c in range(PCA_COMPONENTS)
    )
    sub_ctes = "\n".join(
        _pq_subspace_ctes(mi, PQ_K, PQ_ITERS, dim=PCA_COMPONENTS, src="er", pfx="r")
        for mi in range(PQ_M)
    )
    code_legs, adc_legs = [], []
    for mi in range(PQ_M):
        p, cf = f"r{mi}", f"r{mi}_c{PQ_ITERS}"
        code_legs.append(
            f"""SELECT vec_id, {mi} AS sub, cluster AS code FROM (
    SELECT x.vec_id, c.cluster,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
               -2.0 * list_dot_product(x.emb, c.cent)
                   + list_dot_product(c.cent, c.cent), c.cluster) AS rn
    FROM {p}_e x CROSS JOIN {cf} c
) WHERE rn = 1"""
        )
        adc_legs.append(
            f"""SELECT q.vec_id AS query_id, {mi} AS sub, c.code,
       CAST(sum((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dpart
FROM (SELECT vec_id, generate_subscripts(emb, 1) AS d,
             CAST(floor(unnest(emb) * {OPQ_SCALE} + 0.5) AS BIGINT) AS qv
      FROM {p}_e WHERE vec_id < {N_QUERIES}) q
JOIN (SELECT cluster AS code, generate_subscripts(cent, 1) AS d,
             CAST(floor(unnest(cent) * {OPQ_SCALE} + 0.5) AS BIGINT) AS cv
      FROM {cf}) c USING (d)
GROUP BY 1, 2, 3"""
        )
    codes = " UNION ALL ".join(code_legs)
    adcs = " UNION ALL ".join(adc_legs)
    return (
        pca
        + f"""
),
cstats AS (
    SELECT i AS dim, sum(c)::BIGINT AS s, count(*)::BIGINT AS n
    FROM codes_cov GROUP BY 1
),
cd AS (SELECT vec_id, i AS dim, c FROM codes_cov),
proj AS (
    SELECT cd.vec_id,
       {proj_cols}
    FROM cd
    JOIN cstats st USING (dim)
    JOIN wfit w USING (dim)
    GROUP BY cd.vec_id
),
er AS (
    SELECT vec_id, [{y_list}] AS emb
    FROM proj CROSS JOIN (SELECT any_value(n) AS n FROM cstats) nn
),
p AS (SELECT greatest(1, count(*) // {IVF_CELLS}) AS step
      FROM embeddings WHERE embedding IS NOT NULL),
pqp AS (SELECT greatest(1, count(*) // {PQ_K}) AS step
        FROM embeddings WHERE embedding IS NOT NULL),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cinit AS (
    SELECT vec_id // p.step AS cluster, emb AS cent
    FROM e, p WHERE vec_id % p.step = 0 AND vec_id / p.step < {IVF_CELLS}
),
ranked_cells AS (
    SELECT vec_id, cell, rn FROM (
        SELECT e.vec_id, c.cluster AS cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.emb, c.cent) DESC,
                            c.cluster ASC) AS rn
        FROM e CROSS JOIN cinit c
    )
),
cand AS (
    SELECT pr.vec_id AS query_id, cc.vec_id AS neighbor_id
    FROM (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1) cc
    JOIN (SELECT vec_id, cell FROM ranked_cells
          WHERE rn <= {IVF_PROBES} AND vec_id < {N_QUERIES}) pr USING (cell)
    WHERE cc.vec_id != pr.vec_id
),
{sub_ctes}
pqcodes AS ({codes}),
adc AS ({adcs}),
dist AS (
    SELECT ca.query_id, ca.neighbor_id,
           CAST(sum(a.dpart) AS BIGINT) AS dist_q
    FROM cand ca
    JOIN pqcodes co ON co.vec_id = ca.neighbor_id
    JOIN adc a ON a.query_id = ca.query_id AND a.sub = co.sub
              AND a.code = co.code
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dist_q, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist_q ASC, neighbor_id ASC) AS rank
    FROM dist
)
WHERE rank <= {TOP_K}
"""
    ).replace(
        # the PCA chain's base CTE is named `codes` — rename to codes_cov
        # so the PQ code-assignment CTE keeps its own namespace
        "codes AS (\n    SELECT vec_id, generate_subscripts(embedding, 1) AS i,",
        "codes_cov AS (\n    SELECT vec_id, generate_subscripts(embedding, 1) AS i,",
    ).replace("FROM codes a JOIN codes b", "FROM codes_cov a JOIN codes_cov b")


ORACLE["knn_ivf_opq"] = _mat(_opq_oracle())


def knn_opq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PCA-rotated PQ index vs the exact cosine top-k —
    the SIXTH row of the ANN QA matrix (LSH / IVF / SQ8 / IVF-SQ8 /
    IVF-PQ / OPQ). Read against knn_pq_recall_eval: the two rows share
    the IVF candidate set, so their difference is exactly the recall
    the rotation buys (or costs — on this near-isotropic synthetic
    corpus a 4-component rotation discards most of the energy and the
    delta is negative; the row exists so that trade is measured per
    corpus, not assumed from the OPQ paper's ImageNet spectra). Same
    integer-ppm contract as the other five rows."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_ivf_opq(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("(n_hit * 1000000L) div k").alias("recall_ppm"),
        )
    )


ORACLE["knn_opq_recall_eval"] = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_bruteforce"]}) bf),
approx AS (SELECT query_id, neighbor_id FROM ({ORACLE["knn_ivf_opq"]}) oq),
j AS (
    SELECT e.query_id,
           CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
)
SELECT query_id,
       count(*)::BIGINT AS k,
       CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY query_id
"""


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "embedding_dim_prune": embedding_dim_prune,
    "knn_topk_partitioned": knn_topk_partitioned,
    "knn_lsh": knn_lsh,
    "knn_ivf": knn_ivf,
    "knn_ivf_trained": knn_ivf_trained,
    "knn_recall_eval": knn_recall_eval,
    "knn_ivf_recall_eval": knn_ivf_recall_eval,
    "embedding_neardup": embedding_neardup,
    "embedding_drift_aa": embedding_drift_aa,
    "embedding_qc": embedding_qc,
    "knn_sq8": knn_sq8,
    "knn_sq_recall_eval": knn_sq_recall_eval,
    "knn_ivf_sq8": knn_ivf_sq8,
    "knn_ivfsq_recall_eval": knn_ivfsq_recall_eval,
    "knn_ivf_pq": knn_ivf_pq,
    "knn_pq_recall_eval": knn_pq_recall_eval,
    "knn_ivf_opq": knn_ivf_opq,
    "knn_opq_recall_eval": knn_opq_recall_eval,
    "embedding_covariance": embedding_covariance,
    "embedding_pca": embedding_pca,
    "embedding_pca_project": embedding_pca_project,
    "hard_negative_mining": hard_negative_mining,
    "knn_probe_curve": knn_probe_curve,
}
