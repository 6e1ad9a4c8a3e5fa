"""Round-10 targeted adversarial cases: each r10-new oracle gets a
dataset planted exactly at its branch points, then runs through the
same Spark↔DuckDB gate the driver uses (the r9 module's pattern).

- dedup_token_savings: known cluster structure with hand-computed token
  expectations, incl. the 100%-cross-source-loss domain and a
  zero-token domain (the nullif ppm branch).
- doc_perplexity_buckets: three surprisal families separated by orders
  of magnitude, so the binned tertile cut must land family = bucket.
- scale_skew_sim: one supplier holding 90% of the fact rows — the
  salted two-phase agg must be value-identical under real skew.
- schema_evolution_sim / write_partition_overwrite_sim: NULL order keys
  (excluded by contract) and a NULL priority partition
  (__HIVE_DEFAULT_PARTITION__ round trip).
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


def _write_docs(d, docs):
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


# ------------------------------------------------------ dedup_token_savings
RUN10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 tokens


@pytest.fixture(scope="module")
def toksav_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("toksavadv")
    docs = [
        # source A: a 3-doc identical cluster (keeper = min id = 1)
        (1, RUN10, "srcA"),
        (2, RUN10, "srcA"),
        (3, RUN10, "srcA"),
        # source B: two singletons, 5 tokens each — zero removal
        (4, "one two three four five", "srcB"),
        (5, "six seven eight nine ten", "srcB"),
        # source C: empty text — tokens_total 0, ppm must be NULL (nullif)
        (6, "", "srcC"),
        # source D: identical to A's cluster but a LARGER id — always
        # loses to A's keeper: the 100%-token-loss cross-source signal
        (9, RUN10, "srcD"),
    ]
    _write_docs(d, docs)
    return str(d)


def test_token_savings_known_structure(spark, toksav_dir):
    queries, oracles = _entry()
    sdf = queries["dedup_token_savings"](spark, toksav_dir)
    con = _duck_for(toksav_dir, ["documents"])
    assert_matches_oracle(sdf, con, oracles["dedup_token_savings"])
    got = {r["source"]: r.asDict() for r in sdf.collect()}
    assert got["srcA"]["tokens_total"] == 30
    assert got["srcA"]["tokens_removed"] == 20
    assert got["srcA"]["removed_token_ppm"] == 666_666
    assert got["srcB"]["tokens_removed"] == 0
    assert got["srcB"]["removed_token_ppm"] == 0
    assert got["srcC"]["tokens_total"] == 0
    assert got["srcC"]["removed_token_ppm"] is None  # the nullif branch
    assert got["srcD"]["tokens_removed"] == 10  # lost to srcA's keeper
    assert got["srcD"]["removed_token_ppm"] == 1_000_000


# --------------------------------------------------- doc_perplexity_buckets
def _md5_bucket(doc_id: int) -> int:
    """Python replica of datapipe._bucket (uint32 from md5 prefix)."""
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)


def _pick_ids(start: int, n: int, in_model: bool) -> list[int]:
    """n consecutive-ish doc ids on the requested side of the 50% model
    split — a doc IN the model scores its own unique bigrams as seen,
    so the OOV family must sit entirely OUTSIDE the split."""
    thr = int(0.5 * 4294967296)
    out, k = [], start
    while len(out) < n:
        if (_md5_bucket(k) < thr) == in_model:
            out.append(k)
        k += 1
    return out


@pytest.fixture(scope="module")
def pplx_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pplxadv")
    docs = []
    # 'low': one shared sentence — every bigram dominates the model, so
    # surprisal is minimal whichever docs land in the hash split
    for i in range(10):
        docs.append((i + 1, "the cat sat on the mat and the cat sat", "low"))
    # 'mid': shared vocabulary, varied order — seen unigrams, mostly
    # unseen bigrams → the α·unigram backoff range
    mid_words = ["red", "blue", "green", "stone", "river", "cloud"]
    for i in range(10):
        w = mid_words[i % 6 :] + mid_words[: i % 6]
        docs.append((100 + i, " ".join(w + w[::-1]), "mid"))
    # 'high': per-doc unique gibberish, ids chosen OUTSIDE the model
    # split — every bigram unseen, every word OOV → the α/N floor,
    # orders of magnitude above 'low'
    for i, k in enumerate(_pick_ids(200, 10, in_model=False)):
        docs.append((k, " ".join(f"zq{i}x{j}" for j in range(8)), "high"))
    _write_docs(d, docs)
    return str(d)


def test_perplexity_buckets_families(spark, pplx_dir):
    queries, oracles = _entry()
    sdf = queries["doc_perplexity_buckets"](spark, pplx_dir)
    con = _duck_for(pplx_dir, ["documents"])
    assert_matches_oracle(sdf, con, oracles["doc_perplexity_buckets"])
    rows = [r.asDict() for r in sdf.collect()]
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["bucket"])
    # extreme separation → family == bucket, one row per source
    assert by_src["low"] == {"head"}
    assert by_src["high"] == {"tail"}
    assert sum(r["n_docs"] for r in rows) == 30  # every doc scored once


# ------------------------------------------------------- scale_skew_sim
@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("skewadv")
    n = 1000
    supp = [1] * 900 + [2, 3] * 50  # supplier 1 owns 90% of the rows
    pq.write_table(
        pa.table(
            {
                "l_suppkey": pa.array(supp, pa.int64()),
                "l_extendedprice": pa.array(
                    [100.0 + (i % 7) for i in range(n)], pa.float64()
                ),
                "l_discount": pa.array([0.05] * n, pa.float64()),
            }
        ),
        str(d / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3], pa.int64()),
                "s_nationkey": pa.array([7, 7, 8], pa.int64()),
            }
        ),
        str(d / "supplier.parquet"),
    )
    return str(d)


def test_scale_skew_sim_hot_key(spark, skew_dir):
    """90% single-key skew: the salted two-phase agg and the bucketed
    join must still produce the plain-SQL answer exactly."""
    queries, oracles = _entry()
    con = _duck_for(skew_dir, ["lineitem", "supplier"])
    assert_matches_oracle(
        queries["scale_skew_sim"](spark, skew_dir),
        con,
        oracles["scale_skew_sim"],
    )


# ------------------------------------------- io sims: nulls at the edges
@pytest.fixture(scope="module")
def nullorders_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullordadv")
    keys = list(range(1, 29)) + [None, None]  # null keys: excluded by contract
    prios = []
    for k in keys:
        if k is None:
            prios.append("1-URGENT")
        elif k % 5 == 0:
            prios.append(None)  # NULL partition round trip
        elif k % 2 == 0:
            prios.append("1-URGENT")
        else:
            prios.append("3-MEDIUM")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_totalprice": pa.array(
                    [float(100 + (k or 0)) for k in keys], pa.float64()
                ),
                "o_orderpriority": pa.array(prios),
            }
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


@pytest.mark.parametrize(
    "qname", ["schema_evolution_sim", "write_partition_overwrite_sim"]
)
def test_io_sims_null_edges(spark, nullorders_dir, qname):
    queries, oracles = _entry()
    con = _duck_for(nullorders_dir, ["orders"])
    assert_matches_oracle(
        queries[qname](spark, nullorders_dir), con, oracles[qname]
    )


# --------------------------------------------------------- embedding_qc
@pytest.fixture(scope="module")
def qcemb_dir(tmp_path_factory):
    """Every defect class embedding_qc reports, planted once:
    NULL vector, wrong-dimension vector, NaN / +Inf / NULL-element
    vectors (nonfinite), an exact-zero and a sub-grid (<1e-3 abs)
    vector (both must land in zero_vec under the floor(x*1e3) grid),
    plus clean vectors spanning two norm-digit bins."""
    d = tmp_path_factory.mktemp("qcemb")
    vecs: list[tuple[int, list[float] | None]] = []
    for i in range(1, 9):  # clean 4-dim, mixed magnitudes
        vecs.append((i, [0.5 * i, -0.25 * i, 0.125, 1.0]))
    vecs.append((20, None))  # null_vec
    vecs.append((21, [1.0, 2.0, 3.0]))  # wrong_dim (3 != modal 4)
    vecs.append((22, [float("nan"), 1.0, 1.0, 1.0]))  # nonfinite
    vecs.append((23, [float("inf"), 0.0, 0.0, 0.0]))  # nonfinite
    vecs.append((24, [None, 1.0, 1.0, 1.0]))  # nonfinite (null elem)
    vecs.append((25, [0.0, 0.0, 0.0, 0.0]))  # zero_vec (exact)
    vecs.append((26, [0.0004, 0.0009, 0.0, 0.00099]))  # zero_vec (grid)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d), vecs


def test_embedding_qc_every_defect_class(spark, qcemb_dir):
    import math

    import numpy as np

    d, vecs = qcemb_dir
    queries, oracles = _entry()
    con = _duck_for(d, ["embeddings"])
    assert_matches_oracle(
        queries["embedding_qc"](spark, d), con, oracles["embedding_qc"]
    )
    got = {
        (r["metric"], r["k"]): r["n"]
        for r in queries["embedding_qc"](spark, d).collect()
    }
    assert got[("n_vectors", 0)] == len(vecs)
    assert got[("null_vec", 0)] == 1
    assert got[("wrong_dim", 0)] == 1
    assert got[("nonfinite", 0)] == 3
    assert got[("zero_vec", 0)] == 2
    # modal dim: 4 (everything non-null except the 3-dim row)
    assert got[("expected_dim", 4)] == len(vecs) - 2
    # python reference for the digit histogram over FINITE vectors,
    # through the same float32 → double → floor(x*1e3) grid
    bins: dict[int, int] = {}
    for _, v in vecs:
        if v is None or any(
            x is None or math.isnan(x) or math.isinf(x) for x in v
        ):
            continue
        n2 = sum(
            int(math.floor(float(np.float32(x)) * 1e3)) ** 2 for x in v
        )
        k = len(str(n2))
        bins[k] = bins.get(k, 0) + 1
    assert bins == {
        k: n for (m, k), n in got.items() if m == "norm_digits"
    }


# -------------------------------------------------- quality_gopher_rules
@pytest.fixture(scope="module")
def gopher_dir(tmp_path_factory):
    """One doc per Gopher rule, each tripping EXACTLY that rule, plus a
    clean pass-all doc — so every rule column must read all-True except
    its designated victim."""
    d = tmp_path_factory.mktemp("gopher")
    stopful = "the be to of and that have with"  # 8 stop hits
    # 60 words, all alphabetic, mean len in [3,10], no symbols/bullets
    good = " ".join([stopful] * 6 + ["quality document words here"] * 3)
    docs = [
        (1, good, "web"),  # pass_gopher = true
        (2, "the of " + "word " * 10, "web"),  # word count < 50
        (3, ("xx " * 48 + stopful), "web"),  # 56 words, mean len 2.14 < 3
        (4, good + " " + "# " * 12, "web"),  # symbols: 12# vs 72 words > 0.1
        (5, good + ("\n-the item" * 30), "web"),  # 30/31 bullet lines
        (6, good + ("\nx..." * 2) + "\ny", "web"),  # 2/4 ellipsis > 30%
        (7, stopful + " " + "123 " * 52, "web"),  # alpha words < 80%
        (8, " ".join(["word alpha beta"] * 20), "web"),  # 0 stop hits
    ]
    _write_docs(d, docs)
    return str(d), docs


def test_gopher_rules_each_branch(spark, gopher_dir):
    d, docs = gopher_dir
    queries, oracles = _entry()
    con = _duck_for(d, ["documents"])
    assert_matches_oracle(
        queries["quality_gopher_rules"](spark, d),
        con,
        oracles["quality_gopher_rules"],
    )
    rows = {
        r["doc_id"]: r
        for r in queries["quality_gopher_rules"](spark, d).collect()
    }
    victims = {
        2: "r_word_count",
        3: "r_mean_word_len",
        4: "r_symbol_ratio",
        5: "r_bullet_lines",
        6: "r_ellipsis_lines",
        7: "r_alpha_words",
        8: "r_stopwords",
    }
    assert rows[1]["pass_gopher"] is True
    rules = list(victims.values())
    for doc_id, victim in victims.items():
        r = rows[doc_id]
        assert r["pass_gopher"] is False
        assert r[victim] is False, (doc_id, victim)
        for other in rules:
            if other != victim:
                assert r[other] is True, (doc_id, other)


def test_tokenizer_fertility_hand_counts(spark, tmp_path):
    import re

    from grapefruit_spark.functions import BPE_RE

    d = tmp_path
    docs = [
        (1, "hello world, it's 2024...", "web"),
        (2, "one two-three 456", "web"),
        (3, "ni hao shi jie", "web"),
    ]
    _write_docs(d, docs)
    d = str(d)
    queries, oracles = _entry()
    con = _duck_for(d, ["documents"])
    assert_matches_oracle(
        queries["tokenizer_fertility"](spark, d),
        con,
        oracles["tokenizer_fertility"],
    )
    rows = queries["tokenizer_fertility"](spark, d).collect()
    # _write_docs assigns one lang/source to all docs -> one group
    assert len(rows) == 1
    r = rows[0]
    words = sum(len(t.split()) for _, t, _s in docs)
    bpe = sum(len(re.findall(BPE_RE, t)) for _, t, _s in docs)
    chars = sum(len(t) for _, t, _s in docs)
    assert r["n_docs"] == 3
    assert r["ws_words"] == words
    assert r["bpe_tokens"] == bpe
    assert r["chars"] == chars
    assert r["tok_per_word_ppm"] == bpe * 1_000_000 // words
    assert r["tok_per_char_ppm"] == bpe * 1_000_000 // chars


# --------------------------------------------------- packing_efficiency
def test_packing_efficiency_python_reference(spark, tmp_path):
    """Docs sized to force overflow (one 3000-token doc overflows the
    2048 budget) and underfill, then the whole shard→cumsum→chunk→
    report pipeline recomputed in python."""
    import hashlib

    from grapefruit_spark.operators.datapipe import PACK_BUDGET, PACK_SHARDS

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    sizes = {1: 3000, 2: 1000, 3: 700, 4: 2048, 5: 10, 6: 1500, 7: 600,
             8: 2200, 9: 5, 10: 1025}
    docs = [(i, "w " * n, "web") for i, n in sizes.items()]
    docs = [(i, t.rstrip(), s) for i, t, s in docs]
    _write_docs(tmp_path, docs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["packing_efficiency"](spark, str(tmp_path)),
        con,
        oracles["packing_efficiency"],
    )
    # python reference
    shards: dict[int, list[tuple[int, int]]] = {}
    for i, n in sizes.items():
        shards.setdefault(bucket(i) % PACK_SHARDS, []).append((i, n))
    expect = {}
    for sh, members in shards.items():
        members.sort()
        packs: dict[int, int] = {}
        cum = 0
        for _, n in members:
            pid = cum // PACK_BUDGET
            packs[pid] = packs.get(pid, 0) + n
            cum += n
        total = sum(packs.values())
        n_packs = len(packs)
        lb = -(-total // PACK_BUDGET)
        expect[sh] = {
            "n_docs": len(members),
            "n_packs": n_packs,
            "total_tokens": total,
            "lb_packs": lb,
            "overhead_ppm": (n_packs - lb) * 1_000_000 // max(lb, 1),
            "trunc_tokens": sum(max(p - PACK_BUDGET, 0) for p in packs.values()),
            "pad_tokens": sum(max(PACK_BUDGET - p, 0) for p in packs.values()),
        }
        expect[sh]["trunc_ppm"] = (
            expect[sh]["trunc_tokens"] * 1_000_000 // max(total, 1)
        )
        expect[sh]["pad_ppm"] = (
            expect[sh]["pad_tokens"] * 1_000_000 // (n_packs * PACK_BUDGET)
        )
    rows = {
        r["shard"]: r
        for r in queries["packing_efficiency"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == set(expect)
    for sh, e in expect.items():
        for k, v in e.items():
            assert rows[sh][k] == v, (sh, k, rows[sh][k], v)
    # the planted overflow doc must actually produce truncation mass
    assert sum(e["trunc_tokens"] for e in expect.values()) > 0


# ------------------------------------------------------------- term_pmi
def test_term_pmi_collocation_and_repulsion(spark, tmp_path):
    """A planted perfect collocation (alpha+beta always together), a
    perfect repulsion (alpha vs gamma never co-occur -> pair absent),
    and an independent pair, with hand-computed PMI."""
    import math

    docs = []
    # 10 docs with alpha beta (collocated), 10 with gamma delta,
    # 5 with alpha delta (partial overlap)
    for i in range(1, 11):
        docs.append((i, "alpha beta filler%d" % i, "web"))
    for i in range(11, 21):
        docs.append((i, "gamma delta filler%d" % i, "web"))
    for i in range(21, 26):
        docs.append((i, "alpha delta filler%d" % i, "web"))
    _write_docs(tmp_path, docs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["term_pmi"](spark, str(tmp_path)), con, oracles["term_pmi"]
    )
    rows = {
        (r["t1"], r["t2"]): r
        for r in queries["term_pmi"](spark, str(tmp_path)).collect()
    }
    n = len(docs)  # 25

    # alpha: 15 docs, beta: 10, gamma: 10, delta: 15
    r = rows[("alpha", "beta")]
    assert (r["df_pair"], r["df1"], r["df2"]) == (10, 15, 10)
    assert r["pmi_e6"] == math.floor(round(math.log(10 * n / (15 * 10)), 12) * 1e6)
    r = rows[("alpha", "delta")]
    assert (r["df_pair"], r["df1"], r["df2"]) == (5, 15, 15)
    # 5*25/(15*15) < 1 -> negative PMI
    assert r["pmi_e6"] < 0
    r = rows[("delta", "gamma")]
    assert (r["df_pair"], r["df1"], r["df2"]) == (10, 15, 10)
    # perfect repulsion: alpha & gamma never co-occur -> pair absent
    assert ("alpha", "gamma") not in rows


# ----------------------------------------------------- sample_temperature
def test_sample_temperature_flattens_skew(spark, tmp_path):
    """900/90/10 language skew: the head language must downsample, the
    tail must keep rate 1 (thresh saturates at 2^32), and every kept
    count must match the md5-threshold python reference exactly."""
    import hashlib
    import math

    langs = [("en", 900), ("fr", 90), ("de", 10)]
    docs, rows_by_lang = [], {}
    i = 0
    for lang, n in langs:
        for _ in range(n):
            i += 1
            docs.append((i, f"text {i}", lang))
            rows_by_lang.setdefault(lang, []).append(i)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs]),
                "lang": pa.array([r[2] for r in docs]),
                "source": pa.array(["web"] * len(docs)),
                "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["sample_temperature"](spark, str(tmp_path)),
        con,
        oracles["sample_temperature"],
    )
    got = {
        r["lang"]: r
        for r in queries["sample_temperature"](spark, str(tmp_path)).collect()
    }

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    q = {lang: math.floor(math.sqrt(n) * 1e6) for lang, n in langs}
    Q, N = sum(q.values()), sum(n for _, n in langs)
    for lang, n in langs:
        r = got[lang]
        assert r["n_lang"] == n
        assert r["share_ppm"] == q[lang] * 1_000_000 // Q
        assert r["natural_ppm"] == n * 1_000_000 // N
        thresh = min(2**32, math.floor(q[lang] * N / (Q * n) * 2**32))
        assert r["thresh"] == thresh
        kept = [d for d in rows_by_lang[lang] if bucket(d) < thresh]
        assert r["n_kept"] == len(kept)
        assert r["min_doc_id"] == min(kept)
    # the skew direction itself: head downsampled, tail saturated
    assert got["en"]["thresh"] < 2**32 and got["en"]["n_kept"] < 900
    assert got["de"]["thresh"] == 2**32 and got["de"]["n_kept"] == 10
    # temperature moves every share toward the middle
    assert got["en"]["share_ppm"] < got["en"]["natural_ppm"]
    assert got["de"]["share_ppm"] > got["de"]["natural_ppm"]


# -------------------------------------------------------------- knn_sq8
def test_knn_sq8_quantization_reference(spark, tmp_path):
    """Planted 3-cluster corpus with (a) a CONSTANT dimension — its
    range is 0 so it must contribute nothing, (b) exact duplicate
    vectors — integer distance ties broken by neighbor_id, (c) cluster
    separation wide enough that SQ8 must recover the exact-cluster
    neighbors. Full python reference of the quantize→weight→rank chain."""
    import math

    import numpy as np

    from grapefruit_spark.operators.similarity import N_QUERIES, TOP_K

    rng_centers = {0: 0.0, 1: 10.0, 2: -10.0}
    vecs = []
    for i in range(36):
        c = rng_centers[i % 3]
        # dim0: cluster center + small id-dependent offset; dim1:
        # CONSTANT (zero range); dim2: duplicate-heavy (i//12)
        vecs.append((i, [c + 0.01 * (i // 3), 7.5, float(i // 12)]))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["embeddings"])
    assert_matches_oracle(
        queries["knn_sq8"](spark, str(tmp_path)), con, oracles["knn_sq8"]
    )
    # python reference (float32 → float64, the operator's exact chain)
    mat = np.array([v[1] for v in vecs], dtype=np.float32).astype(np.float64)
    mins, maxs = mat.min(axis=0), mat.max(axis=0)
    rngs = maxs - mins
    w = np.floor(rngs * 1e6 / 255.0).astype(np.int64)
    scaled = np.divide(
        (mat - mins) * 255.0, rngs, out=np.zeros_like(mat), where=rngs != 0
    )
    a = np.clip(np.floor(scaled), 0, 255).astype(np.int64) * w
    got = {}
    for r in queries["knn_sq8"](spark, str(tmp_path)).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["dist_q"])
        )
    assert set(got) == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        dists = ((a - a[qid][None, :]) ** 2).sum(axis=1)
        order = sorted(
            (int(d), i) for i, d in enumerate(dists) if i != qid
        )[:TOP_K]
        expect = [(rk + 1, nid, d) for rk, (d, nid) in enumerate(order)]
        assert sorted(got[qid]) == expect, qid
    # the constant dimension must be weightless (zero range -> w = 0)
    assert w[1] == 0


def test_sq_recall_matches_set_overlap(spark):
    """n_hit must equal the literal set overlap of the two composed
    (already driver-verified) queries — the same contract the LSH and
    IVF twins pin. SQ8's gap vs exact is quantization distortion plus
    the L2-vs-cosine metric change on unnormalized vectors, so recall
    may be well below 1 — the REPORT must still be exact."""
    from grapefruit_spark.operators.similarity import (
        knn_bruteforce,
        knn_sq8,
        knn_sq_recall_eval,
    )

    from .conftest import SF_DIR

    exact: dict[int, set] = {}
    for r in knn_bruteforce(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in knn_sq8(spark, SF_DIR).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {r["query_id"]: r for r in knn_sq_recall_eval(spark, SF_DIR).collect()}
    assert set(got) == set(exact)
    for qid, ex in exact.items():
        hits = len(ex & approx.get(qid, set()))
        assert got[qid]["n_hit"] == hits
        assert got[qid]["k"] == len(ex)
        assert got[qid]["recall_ppm"] == hits * 1_000_000 // len(ex)


# --------------------------------------------------------- vocab_growth
def test_vocab_growth_python_reference(spark, tmp_path):
    """Duplicate-heavy corpus (half the docs repeat one boilerplate
    line, half are unique-vocab) recomputed in python through the same
    md5-decile → first-decile → cumsum chain; the curve must flatten
    for boilerplate and every emitted integer must match."""
    import hashlib

    docs = []
    for i in range(1, 81):
        if i % 2 == 0:
            text = "common boiler plate line here"
        else:
            text = " ".join(f"uniq{i}w{j}" for j in range(6))
        docs.append((i, text, "web"))
    _write_docs(tmp_path, docs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["vocab_growth"](spark, str(tmp_path)),
        con,
        oracles["vocab_growth"],
    )

    def decile(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return b * 10 // 4294967296

    first, per = {}, {}
    for i, text, _ in docs:
        d = decile(i)
        toks = text.lower().split()
        st = per.setdefault(d, {"n_docs": 0, "n_tokens": 0})
        st["n_docs"] += 1
        st["n_tokens"] += len(toks)
        for t in toks:
            first[t] = min(first.get(t, 99), d)
    new_terms = {}
    for t, d in first.items():
        new_terms[d] = new_terms.get(d, 0) + 1
    rows = queries["vocab_growth"](spark, str(tmp_path)).collect()
    docs_c = tok_c = voc_c = 0
    assert [r["decile"] for r in rows] == sorted(per)
    for r in rows:
        d = r["decile"]
        docs_c += per[d]["n_docs"]
        tok_c += per[d]["n_tokens"]
        voc_c += new_terms.get(d, 0)
        assert r["n_docs"] == per[d]["n_docs"]
        assert r["n_tokens"] == per[d]["n_tokens"]
        assert r["new_terms"] == new_terms.get(d, 0)
        assert (r["docs_cum"], r["tokens_cum"], r["vocab_cum"]) == (
            docs_c, tok_c, voc_c,
        )
        assert r["type_token_ppm"] == voc_c * 1_000_000 // max(tok_c, 1)
    # boilerplate flattens the curve: the last decile's marginal
    # type/token rate is far below the first's
    f, l = rows[0], rows[-1]
    assert l["new_terms"] * f["n_tokens"] < f["new_terms"] * l["n_tokens"]


# ------------------------------------------------- events_pareto_share
def test_pareto_share_planted_whale(spark, tmp_path):
    """One whale user owns ~84% of events among 20 users — decile 1
    must carry the whale's mass; the full ntile→rollup→cumsum chain is
    recomputed in python (standard SQL ntile: big buckets first)."""
    rows = []
    eid = 0
    counts = {1: 500} | {u: 5 for u in range(2, 21)}  # 500 + 19*5 = 595
    for u, n in counts.items():
        for _ in range(n):
            eid += 1
            rows.append((eid, u))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["events"])
    assert_matches_oracle(
        queries["events_pareto_share"](spark, str(tmp_path)),
        con,
        oracles["events_pareto_share"],
    )
    # python ntile(10) over (n_events desc, user_id asc): 20 users ->
    # every decile gets exactly 2
    users = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    per_dec = {}
    for i, (u, n) in enumerate(users):
        d = i // 2 + 1
        st = per_dec.setdefault(d, [0, 0])
        st[0] += 1
        st[1] += n
    total = sum(counts.values())
    got = {
        r["decile"]: r
        for r in queries["events_pareto_share"](spark, str(tmp_path)).collect()
    }
    cum = 0
    for d in sorted(per_dec):
        cum += per_dec[d][1]
        assert got[d]["n_users"] == per_dec[d][0]
        assert got[d]["n_events"] == per_dec[d][1]
        assert got[d]["share_ppm"] == per_dec[d][1] * 1_000_000 // total
        assert got[d]["share_cum_ppm"] == cum * 1_000_000 // total
    # the whale concentrates decile 1: 505/595 ≈ 84.9%
    assert got[1]["share_ppm"] == 505 * 1_000_000 // 595


# --------------------------------------------- source_overlap_jaccard
def test_source_overlap_planted_sets(spark, tmp_path):
    """Three sources with hand-built vocabularies: identical (J=1),
    half-overlap (J=1/3), disjoint (J=0)."""
    docs = [
        (1, "aa bb cc dd", "mirror1"),
        (2, "aa bb cc dd", "mirror2"),      # identical vocab to mirror1
        (3, "aa bb xx yy", "partial"),      # 2 common / 6 union vs mirrors
        (4, "pp qq rr ss", "disjoint"),     # no overlap with anyone
    ]
    _write_docs(tmp_path, docs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["source_overlap_jaccard"](spark, str(tmp_path)),
        con,
        oracles["source_overlap_jaccard"],
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in queries["source_overlap_jaccard"](spark, str(tmp_path)).collect()
    }
    assert got[("mirror1", "mirror2")]["jaccard_ppm"] == 1_000_000
    assert got[("mirror1", "partial")]["jaccard_ppm"] == 2 * 1_000_000 // 6
    # disjoint pairs never co-occur on a term -> absent from the matrix
    assert not any("disjoint" in k for pair in got for k in pair)
