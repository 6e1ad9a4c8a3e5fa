"""Round-9 targeted adversarial cases: each r9-new oracle gets a dataset
planted exactly at its branch points, then runs through the same
Spark↔DuckDB gate the driver uses.

- events_cusum_drift: a FLAT series (cusum must clamp at 0 — never
  alarm), a SUSTAINED 3× step covering the last quarter (alarm must fire
  exactly once the accumulated drift crosses 3μ — hour 6 of the step,
  not at the step itself), a single ISOLATED spike (big enough for the
  z-score detector but NOT sustained — CUSUM must stay silent; this is
  the behavioral difference between the two detectors), and a
  single-hour type (no history — no alarm).
"""

from __future__ import annotations


import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .util import assert_matches_oracle


def _duck_for(d: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con


def _entry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


# ------------------------------------------------------------ cusum drift
HOUR_US = 3_600_000_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


@pytest.fixture(scope="module")
def cusum_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cusumadv")
    rows = []  # (event_type, hour_idx, events_in_hour)

    def emit(etype: str, hour: int, n: int):
        for j in range(n):
            rows.append((etype, BASE_US + hour * HOUR_US + j * 60_000_000))

    # flat: 10/hour for 48h -> y ≡ -mu/2 < 0 every hour, cusum clamps at 0
    for h in range(48):
        emit("flat", h, 10)
    # drift: 36h at 10/hour then a SUSTAINED 12h at 30/hour.
    # mu = (36*10 + 12*30)/48 = 15 -> mu_e6 = 15e6, k = 7.5e6.
    # pre-step y = -12.5e6 (cusum 0); step y = +7.5e6/hour, so cusum
    # crosses the 3mu = 45e6 alarm line at step hour 6 -> alarm rows are
    # exactly hours 41..47 (7 rows)
    for h in range(36):
        emit("drift", h, 10)
    for h in range(36, 48):
        emit("drift", h, 30)
    # spike: one isolated 30-event hour in 48h of 10s. mu_e6 = 10_416_666,
    # y_spike = 30e6 - 1.5*mu ≈ +14.4e6 < 3mu ≈ 31.2e6 -> never alarms
    # (a z-score detector fires here; CUSUM requires SUSTAINED drift)
    for h in range(48):
        emit("spike", h, 30 if h == 20 else 10)
    # single: one hour of history -> y = -mu/2, no alarm possible
    emit("single", 0, 5)

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([r[0] for r in rows]),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_cusum_drift_branch_points(spark, cusum_dir):
    queries, oracles = _entry()
    con = _duck_for(cusum_dir, ["events"])
    assert_matches_oracle(
        queries["events_cusum_drift"](spark, cusum_dir),
        con,
        oracles["events_cusum_drift"],
    )
    out = queries["events_cusum_drift"](spark, cusum_dir).collect()
    by_type: dict[str, list] = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r["hour"])

    # flat: clamped at zero everywhere, no alarms
    assert all(r["cusum_e6"] == 0 and not r["alarm"] for r in by_type["flat"])
    # drift: silent through the stable window, alarms exactly at step
    # hour 6 onward (accumulation, not instant reaction)
    alarms = [i for i, r in enumerate(by_type["drift"]) if r["alarm"]]
    assert alarms == list(range(41, 48)), alarms
    assert by_type["drift"][41]["cusum_e6"] == 45_000_000
    assert all(r["cusum_e6"] == 0 for r in by_type["drift"][:36])
    # spike: a one-hour outlier is not sustained drift -> silent
    assert not any(r["alarm"] for r in by_type["spike"])
    # single-hour type: negative deviation clamps to 0
    assert by_type["single"] == [by_type["single"][0]]
    assert by_type["single"][0]["cusum_e6"] == 0
    assert not by_type["single"][0]["alarm"]


# ------------------------------------------------------- minhash_est_error
@pytest.fixture(scope="module")
def esterr_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("esterradv")
    run = ("the quick brown fox jumps over the lazy dog while rain falls "
           "on the quiet grey town and the river keeps moving slowly north")
    docs = [
        # identical pair: est = exact = 1.0 exactly -> err_ppm must be 0
        (1, run),
        (2, run),
        # sub-shingle pair: both docs shorter than one 3-token shingle ->
        # empty gram sets, all-sentinel signatures -> est 1.0 AND the
        # defined exact = 1.0 branch (the union-0 CASE) -> err_ppm 0
        (3, "hi there"),
        (4, "bye now"),
        # genuine near-dup: one token substituted mid-run -> est is the
        # 64-perm estimate, exact is the true shingle Jaccard; the pair
        # must survive the tau cut and err_ppm = est - exact
        (5, run.replace("river", "ocean")),
        # unrelated singleton: must produce no pair at all
        (6, "completely different content about parquet footers and row groups"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["web"] * len(docs)),
                "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_minhash_est_error_branch_points(spark, esterr_dir):
    queries, oracles = _entry()
    con = _duck_for(esterr_dir, ["documents"])
    assert_matches_oracle(
        queries["minhash_est_error"](spark, esterr_dir),
        con,
        oracles["minhash_est_error"],
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in queries["minhash_est_error"](spark, esterr_dir).collect()
    }
    assert rows[(1, 2)]["est_ppm"] == 1_000_000
    assert rows[(1, 2)]["exact_ppm"] == 1_000_000
    assert rows[(1, 2)]["err_ppm"] == 0
    # the union-0 branch: empty-gram docs pair with est = exact = 1
    assert rows[(3, 4)]["exact_ppm"] == 1_000_000
    assert rows[(3, 4)]["err_ppm"] == 0
    # the genuine near-dup survived the tau cut with a real exact score
    near = rows[(1, 5)] if (1, 5) in rows else rows[(2, 5)]
    assert 500_000 <= near["est_ppm"] <= 1_000_000
    assert near["exact_ppm"] < 1_000_000  # one substituted token != identical
    assert near["err_ppm"] == near["est_ppm"] - near["exact_ppm"]
    # the unrelated doc never pairs
    assert not any(6 in k for k in rows)


# --------------------------------------------------- doc_backoff_surprisal
def _bucket_py(doc_id: int) -> int:
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def backoff_dir(tmp_path_factory):
    """Docs placed on known sides of the 50% model split so every level
    of the TRIGRAM stupid-backoff recursion executes: in-model trigram,
    trigram→bigram backoff, trigram→unigram backoff, OOV floor, and the
    <3-token absence contract (r13 trigram upgrade)."""
    from grapefruit_spark.operators.search import BACKOFF_MODEL_FRAC

    thr = int(BACKOFF_MODEL_FRAC * 4294967296)
    model_ids = [i for i in range(1, 200) if _bucket_py(i) < thr]
    held_ids = [i for i in range(1, 200) if _bucket_py(i) >= thr]
    d = tmp_path_factory.mktemp("backoffadv")
    docs = [
        # model: trigrams abc:2 bca:1 cab:1; bigrams ab:2 bc:2 ca:1
        (model_ids[0], "a b c a b c"),
        # model: trigram cde:1; bigrams cd:1 de:1
        (model_ids[1], "c d e"),
        # held: (a b c) in-model trigram; (b c x) off both, x OOV
        (held_ids[0], "a b c x"),
        # held: (e a b) trigram off, bigram "a b" in model -> bo_bigram
        (held_ids[1], "e a b"),
        # held: (a c e) trigram off, bigram "c e" off, e known -> bo_unigram
        (held_ids[2], "a c e"),
        # held: <3 tokens -> absent from the emission
        (held_ids[3], "hello world"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["web"] * len(docs)),
                "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d), docs, set(model_ids[:2])


def test_backoff_surprisal_branch_points(spark, backoff_dir):
    import math
    from collections import Counter, defaultdict

    from grapefruit_spark.operators.search import BACKOFF_ALPHA

    d, docs, model_set = backoff_dir
    queries, oracles = _entry()
    con = _duck_for(d, ["documents"])
    assert_matches_oracle(
        queries["doc_backoff_surprisal"](spark, d),
        con,
        oracles["doc_backoff_surprisal"],
    )
    # python reference of the full trigram stupid-backoff recursion
    uni: Counter = Counter()
    bgc: Counter = Counter()
    tgc: Counter = Counter()
    for doc_id, text in docs:
        toks = text.split()
        if doc_id in model_set:
            uni.update(toks)
            bgc.update(zip(toks, toks[1:]))
            tgc.update(zip(toks, toks[1:], toks[2:]))
    n_total = sum(uni.values())
    n_from: dict = defaultdict(int)
    for (w1, _), n in bgc.items():
        n_from[w1] += n
    n_ctx: dict = defaultdict(int)
    for (w1, w2, _), n in tgc.items():
        n_ctx[(w1, w2)] += n

    def score(tg):
        w1, w2, w3 = tg
        if tg in tgc:
            return tgc[tg] / n_ctx[(w1, w2)]
        if (w2, w3) in bgc:
            return BACKOFF_ALPHA * bgc[(w2, w3)] / n_from[w2]
        if w3 in uni:
            return BACKOFF_ALPHA * BACKOFF_ALPHA * uni[w3] / n_total
        return BACKOFF_ALPHA * BACKOFF_ALPHA / n_total

    def levels(tg):
        w1, w2, w3 = tg
        if tg in tgc:
            return "tri"
        if (w2, w3) in bgc:
            return "bg"
        return "uni" if w3 in uni else "oov"

    got = {
        r["doc_id"]: r
        for r in queries["doc_backoff_surprisal"](spark, d).collect()
    }
    for doc_id, text in docs:
        toks = text.split()
        tgs = list(zip(toks, toks[1:], toks[2:]))
        if not tgs:
            assert doc_id not in got  # <3 tokens -> absent
            continue
        total = sum(round(-math.log(score(t)), 12) for t in tgs)
        want = math.floor(total / len(tgs) * 1_000_000)
        lv = Counter(levels(t) for t in tgs)
        assert got[doc_id]["n_trigrams"] == len(tgs)
        assert got[doc_id]["bo_bigram"] == lv["bg"]
        assert got[doc_id]["bo_unigram"] == lv["uni"]
        assert got[doc_id]["bo_oov"] == lv["oov"]
        assert abs(got[doc_id]["avg_surprisal_e6"] - want) <= 1, (
            doc_id, got[doc_id], want,
        )
    # every backoff level actually happened, each on its planted doc
    held = [i for i, t in docs if i not in model_set and len(t.split()) >= 3]
    assert got[held[0]]["bo_oov"] == 1  # "b c x" -> OOV floor
    assert got[held[1]]["bo_bigram"] == 1  # "e a b" -> bigram level
    assert got[held[2]]["bo_unigram"] == 1  # "a c e" -> unigram level
    model_docs = [i for i, _ in docs if i in model_set]
    assert all(
        got[i]["bo_bigram"] + got[i]["bo_unigram"] + got[i]["bo_oov"] == 0
        for i in model_docs
    )


# --------------------------------------------------- embedding_drift_aa
@pytest.fixture(scope="module")
def drift_dir(tmp_path_factory):
    """A planted biased split: dim 0 carries a +1.0 offset for every
    half-A vector (a real ingest bias), dim 1 is identical everywhere
    (zero drift), dim 2 carries sign-mixed values exercising the
    negative-sum // truncation path."""
    import math

    d = tmp_path_factory.mktemp("driftadv")
    thr = int(0.5 * 4294967296)
    ids = list(range(1, 60))
    vecs = []
    for i in ids:
        in_a = _bucket_py(i) < thr
        base = [0.25 if in_a else -0.75, 0.5, -0.125 * (i % 3)]
        vecs.append((i, [float(x) for x in base]))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d), vecs, thr


def test_embedding_drift_branch_points(spark, drift_dir):
    import math

    d, vecs, thr = drift_dir
    queries, oracles = _entry()
    con = _duck_for(d, ["embeddings"])
    assert_matches_oracle(
        queries["embedding_drift_aa"](spark, d),
        con,
        oracles["embedding_drift_aa"],
    )
    rows = {
        r["dim"]: r for r in queries["embedding_drift_aa"](spark, d).collect()
    }
    # python reference: floor(float32_as_double * 1e3) integer sums
    import numpy as np

    sums = {True: [0, 0, 0], False: [0, 0, 0]}
    ns = {True: 0, False: 0}
    for vid, vec in vecs:
        in_a = _bucket_py(vid) < thr
        ns[in_a] += 1
        for dim, x in enumerate(vec):
            sums[in_a][dim] += math.floor(float(np.float32(x)) * 1_000)

    def tdiv(a, b):  # truncating div, matching Spark div / DuckDB //
        q = abs(a) * 1_000_000 // b
        return q if a >= 0 else -q

    for dim in range(3):
        ma = tdiv(sums[True][dim], ns[True])
        mb = tdiv(sums[False][dim], ns[False])
        assert rows[dim]["mean_a_e9"] == ma, (dim, rows[dim], ma)
        assert rows[dim]["mean_b_e9"] == mb
        assert rows[dim]["delta_e9"] == ma - mb
    # the planted bias is caught, the identical dim is clean
    assert rows[0]["drifted"] is True
    assert rows[1]["drifted"] is False
    assert rows[1]["delta_e9"] == 0


# -------------------------------------------------- dedup_cluster_stats
def test_cluster_stats_histogram(spark, esterr_dir):
    """The esterr corpus has a known cluster structure: {1,2,5} (run +
    substitution chain), {3,4} (both sub-shingle -> empty-gram est 1.0),
    and singleton 6 -> histogram rows (3,1), (2,1), (1,1)."""
    queries, oracles = _entry()
    con = _duck_for(esterr_dir, ["documents"])
    assert_matches_oracle(
        queries["dedup_cluster_stats"](spark, esterr_dir),
        con,
        oracles["dedup_cluster_stats"],
    )
    rows = {
        r["cluster_size"]: r
        for r in queries["dedup_cluster_stats"](spark, esterr_dir).collect()
    }
    assert rows[3]["n_clusters"] == 1 and rows[3]["n_docs"] == 3
    assert rows[2]["n_clusters"] == 1
    assert rows[1]["n_clusters"] == 1  # doc 6
    assert sum(r["n_docs"] for r in rows.values()) == 6  # partition of corpus


def test_cluster_stats_all_singletons(spark, tmp_path):
    """No near-dup pairs at all -> the report is exactly one size-1 row
    covering the whole corpus (the CC frame is empty; the singleton
    remainder must not be dropped)."""
    texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel",
        "completely different words about parquet row groups here",
        "third document discussing watermark state eviction policies",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * 3),
                "source": pa.array(["web"] * 3),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["dedup_cluster_stats"](spark, str(tmp_path)),
        con,
        oracles["dedup_cluster_stats"],
    )
    rows = queries["dedup_cluster_stats"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["cluster_size"] == 1 and rows[0]["n_clusters"] == 3


# ------------------------------------------------- events_seasonal_ratio
def test_seasonal_ratio_branch_points(spark, tmp_path):
    """Planted diurnal pattern: type 'diurnal' runs 20/hour at hod 12 and
    5/hour at hod 3 across 4 days, except ONE low noon (10) and one
    doubled 3am (10). The hod-12 baseline mean is (3*20+10)/4 = 17.5 ->
    the low noon scores 571428 ppm while a raw z-score over the whole
    series would have called every 3am anomalous. Exact-integer
    assertions straight from the bigint-div contract."""
    rows = []
    base = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC
    day = 86_400_000_000
    hr = 3_600_000_000
    for d in range(4):
        n_noon = 10 if d == 2 else 20
        for j in range(n_noon):
            rows.append(base + d * day + 12 * hr + j * 60_000_000)
        n_3am = 10 if d == 1 else 5
        for j in range(n_3am):
            rows.append(base + d * day + 3 * hr + j * 60_000_000)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array(rows, pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["diurnal"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["events"])
    assert_matches_oracle(
        queries["events_seasonal_ratio"](spark, str(tmp_path)),
        con,
        oracles["events_seasonal_ratio"],
    )
    out = {
        (r["hod"], r["hour"]): r
        for r in queries["events_seasonal_ratio"](spark, str(tmp_path)).collect()
    }
    noon = sorted(r for (h, _), r in out.items() if h == 12)
    am3 = sorted(r for (h, _), r in out.items() if h == 3)
    # hod-12 baseline: sum 70 over 4 hours; low noon = 10*4e6//70
    low = [r for r in noon if r["n"] == 10][0]
    assert low["ratio_ppm"] == 10 * 4 * 1_000_000 // 70
    assert all(r["ratio_ppm"] == 20 * 4 * 1_000_000 // 70 for r in noon if r["n"] == 20)
    # hod-3 baseline: sum 25 over 4 hours; the doubled 3am is HIGH within
    # its own hod even though 10 events is "low" globally
    high = [r for r in am3 if r["n"] == 10][0]
    assert high["ratio_ppm"] == 10 * 4 * 1_000_000 // 25
    assert high["ratio_ppm"] > 1_000_000  # above ITS baseline
    assert low["ratio_ppm"] < 1_000_000


# ----------------------------------------------- doc_dup_ratio_by_source
@pytest.fixture(scope="module")
def dupsrc_dir(tmp_path_factory):
    """Cross-source clusters: blog's near-dup copy loses to web's keeper
    (the 'its content exists elsewhere first' signal), wiki has an
    internal pair, and each source also demonstrates the keeper-stays
    branch."""
    d = tmp_path_factory.mktemp("dupsrcadv")
    run = ("the quick brown fox jumps over the lazy dog while rain falls "
           "on the quiet grey town and the river keeps moving slowly north")
    wiki = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = [
        (1, run, "web"),
        (2, run, "web"),
        (3, wiki, "wiki"),
        (4, wiki, "wiki"),
        (5, run.replace("river", "ocean"), "blog"),  # loses to keeper 1
        (6, "completely unrelated text about database shuffle planning", "blog"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array([r[2] for r in docs]),
                "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_dup_ratio_by_source_branch_points(spark, dupsrc_dir):
    queries, oracles = _entry()
    con = _duck_for(dupsrc_dir, ["documents"])
    assert_matches_oracle(
        queries["doc_dup_ratio_by_source"](spark, dupsrc_dir),
        con,
        oracles["doc_dup_ratio_by_source"],
    )
    rows = {
        r["source"]: r
        for r in queries["doc_dup_ratio_by_source"](spark, dupsrc_dir).collect()
    }
    # web keeps the global keeper (1), loses its copy (2)
    assert rows["web"]["n_docs"] == 2 and rows["web"]["n_clustered"] == 2
    assert rows["web"]["n_removed"] == 1
    assert rows["web"]["removed_ppm"] == 500_000
    # wiki's internal pair behaves identically
    assert rows["wiki"]["n_removed"] == 1
    # blog's clustered doc is NOT a keeper anywhere -> 100% of its
    # clustered mass is removed (cross-source loss), singleton survives
    assert rows["blog"]["n_docs"] == 2
    assert rows["blog"]["n_clustered"] == 1
    assert rows["blog"]["n_removed"] == 1


# ------------------------------------------------- knn_ivf_recall_eval
def test_ivf_recall_matches_set_overlap(spark):
    """n_hit must equal the literal set overlap of the two composed
    (already driver-verified) queries — the same contract the LSH twin
    pins in test_adversarial_r8."""
    from grapefruit_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_recall_eval,
        knn_ivf_trained,
    )

    from .conftest import SF_DIR

    exact: dict[int, set] = {}
    for r in knn_bruteforce(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in knn_ivf_trained(spark, SF_DIR).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {r["query_id"]: r for r in knn_ivf_recall_eval(spark, SF_DIR).collect()}
    assert set(got) == set(exact)
    for qid, ex in exact.items():
        hits = len(ex & approx.get(qid, set()))
        assert got[qid]["n_hit"] == hits
        assert got[qid]["k"] == len(ex)
        assert got[qid]["recall_ppm"] == hits * 1_000_000 // len(ex)
