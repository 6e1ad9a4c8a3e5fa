"""Round-11 second-wave targeted adversarial cases.

- dsir_importance: gramless/empty docs must surface as zero-weight rows
  (total output), and the log-ratio sign must track target-vs-raw
  exclusivity of a doc's bigrams.
- embedding_covariance: exact integer replay of the fixed-point Gram
  sums on hand-built vectors, including the floor(x*4096 + 0.5)
  half-boundary and a NULL embedding row (excluded from n).
- bpe_pair_stats: overlapping pairs inside a word ("aaa" -> 2x "aa"),
  frequency weighting via the distinct-word collapse, and tie ordering
  by pair text at equal counts — replayed in pure python.
- events_type_entropy: single-type users (exactly-zero entropy up to
  the shared quantization residual), uniform two-type users (ln 2),
  and a NULL event_type group.
- hard_negative_mining: same-label neighbors must NEVER appear even
  when they are the closest vectors; exact-duplicate candidates tie on
  rounded cos and must order by neighbor_id.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .util import assert_matches_oracle


def _duck_for(d: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con


def _entry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


def _write_docs(d, rows):
    """rows: (doc_id, text_or_None, lang)"""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array(["s"] * len(rows), pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )


def _write_embeddings(d, rows):
    """rows: (vec_id, list_or_None, label)"""
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )


# ------------------------------------------------------- dsir_importance
@pytest.fixture(scope="module")
def dsir_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dsiradv")
    rows = [
        # en-exclusive bigrams, repeated: target-heavy profile
        (1, "alpha beta alpha beta alpha beta", "en"),
        (2, "alpha beta gamma delta", "en"),
        # fr-exclusive bigrams: raw-only profile -> negative weight
        (3, "rouge bleu rouge bleu rouge bleu", "fr"),
        (4, "rouge bleu vert jaune", "fr"),
        # gramless: one token / empty / NULL text
        (5, "solo", "en"),
        (6, "", "fr"),
        (7, None, "en"),
    ]
    _write_docs(d, rows)
    return str(d)


def test_dsir_importance_parity_and_signs(spark, dsir_dir):
    queries, oracles = _entry()
    con = _duck_for(dsir_dir, ["documents"])
    sdf = queries["dsir_importance"](spark, dsir_dir)
    assert_matches_oracle(sdf, con, oracles["dsir_importance"])
    rows = {r["doc_id"]: r for r in sdf.collect()}
    # total over documents: the gramless docs are present with zeros
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7}
    for gramless in (5, 6, 7):
        assert rows[gramless]["n_grams"] == 0
        assert rows[gramless]["logw_e6"] == 0
        assert rows[gramless]["selected"] == 0
    # en-exclusive bigrams appear in target AND raw; fr-exclusive only in
    # raw -> their smoothed ratio is < 1, so fr docs must score negative
    # and be unselected, en docs positive and selected.
    for en_doc in (1, 2):
        assert rows[en_doc]["logw_e6"] > 0 and rows[en_doc]["selected"] == 1
    for fr_doc in (3, 4):
        assert rows[fr_doc]["logw_e6"] < 0 and rows[fr_doc]["selected"] == 0


def test_dsir_importance_all_target_corpus(spark, tmp_path):
    """Degenerate corpus where raw == target: every ratio is exactly 1
    before smoothing; smoothing keeps it 1 (n_tgt == n_raw, t_tgt ==
    t_raw), so ln == 0.0 and every logw is exactly 0."""
    d = tmp_path
    _write_docs(d, [(1, "a b c", "en"), (2, "c b a", "en")])
    queries, oracles = _entry()
    con = _duck_for(str(d), ["documents"])
    sdf = queries["dsir_importance"](spark, str(d))
    assert_matches_oracle(sdf, con, oracles["dsir_importance"])
    assert {r["logw_e6"] for r in sdf.collect()} == {0}


# -------------------------------------------------- embedding_covariance
#: exactly float32-representable coordinates, including the half
#: boundary 3/8192 (*4096 = 1.5) and its negative
_COV_VECS = [
    (0, [3.0 / 8192.0, 1.0, -0.5], 0),
    (1, [-3.0 / 8192.0, 0.25, 0.125], 0),
    (2, [1.0, -1.0, 1.0], 1),
    (3, None, 1),  # NULL embedding: excluded from every sum
    (4, [0.0, 0.0, 0.0], 0),
]


@pytest.fixture(scope="module")
def cov_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("covadv")
    _write_embeddings(d, _COV_VECS)
    return str(d)


def test_embedding_covariance_exact_replay(spark, cov_dir):
    queries, oracles = _entry()
    con = _duck_for(cov_dir, ["embeddings"])
    sdf = queries["embedding_covariance"](spark, cov_dir)
    assert_matches_oracle(sdf, con, oracles["embedding_covariance"])
    # pure-python integer replay of the fixed-point sums
    codes = [
        [math.floor(x * 4096 + 0.5) for x in vec]
        for _, vec, _ in _COV_VECS
        if vec is not None
    ]
    n = len(codes)
    got = {(r["dim_i"], r["dim_j"]): r for r in sdf.collect()}
    assert len(got) == 6  # upper triangle of dim 3
    for i in range(3):
        for j in range(i, 3):
            s_i = sum(c[i] for c in codes)
            s_j = sum(c[j] for c in codes)
            s_ij = sum(c[i] * c[j] for c in codes)
            row = got[(i + 1, j + 1)]
            assert row["n_vecs"] == n
            assert row["s_i"] == s_i and row["s_j"] == s_j
            assert row["s_ij"] == s_ij
            assert row["cov_num"] == n * s_ij - s_i * s_j
    # the half-boundary rounds UP in both engines: 1.5 -> 2, -1.5 -> -1
    assert codes[0][0] == 2 and codes[1][0] == -1


# ------------------------------------------------------- bpe_pair_stats
@pytest.fixture(scope="module")
def bpe_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bpeadv")
    rows = [
        # "aaa" has OVERLAPPING pairs: 2 x "aa" per occurrence
        (1, "aaa aaa aaa", "en"),
        # distinct-word collapse: "zz" 4x in one doc + 2x in another
        (2, "zz zz zz zz xy", "en"),
        (3, "zz zz xy", "en"),
        # tie bait: "pq" and "qr" appear equally often (inside "pqr")
        (4, "pqr pqr", "en"),
        # 1-char words contribute nothing
        (5, "a b c d e", "en"),
        (6, None, "en"),
    ]
    _write_docs(d, rows)
    return str(d)


def _py_pair_counts(texts: list[str]) -> dict[str, int]:
    from collections import Counter

    words = Counter()
    for t in texts:
        if t:
            for w in t.lower().split():
                words[w] += 1
    pairs: dict[str, int] = {}
    for w, n in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] = pairs.get(w[i : i + 2], 0) + n
    return pairs


def test_bpe_pair_stats_replay(spark, bpe_dir):
    queries, oracles = _entry()
    con = _duck_for(bpe_dir, ["documents"])
    sdf = queries["bpe_pair_stats"](spark, bpe_dir)
    assert_matches_oracle(sdf, con, oracles["bpe_pair_stats"])
    texts = ["aaa aaa aaa", "zz zz zz zz xy", "zz zz xy", "pqr pqr", "a b c d e"]
    expect = sorted(
        _py_pair_counts(texts).items(), key=lambda kv: (-kv[1], kv[0])
    )[:30]
    got = [(r["pair"], r["n_pair"]) for r in sdf.orderBy("rank").collect()]
    assert got == expect
    # overlapping pairs: 3 occurrences of "aaa" -> 6 "aa"
    assert dict(got)["aa"] == 6
    # frequency weighting across docs: "zz" word count is 6
    assert dict(got)["zz"] == 6
    # tie at equal count orders by pair text: "pq" before "qr"
    ranks = {p: i for i, (p, _) in enumerate(got)}
    assert dict(got)["pq"] == dict(got)["qr"] == 2
    assert ranks["pq"] < ranks["qr"]


def test_bpe_pair_stats_no_pairs(spark, tmp_path):
    _write_docs(tmp_path, [(1, "a b c", "en"), (2, "x", "en")])
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["bpe_pair_stats"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["bpe_pair_stats"])
    assert sdf.count() == 0


# --------------------------------------------------- events_type_entropy
@pytest.fixture(scope="module")
def entropy_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("entadv")
    rows = []  # (user, type)
    rows += [(1, "view")] * 7  # single-type: H == 0 (mod quantization)
    rows += [(2, "view")] * 4 + [(2, "click")] * 4  # uniform 2-type: ln 2
    rows += [(3, "view"), (3, None), (3, None)]  # NULL type is a group
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, len(rows) + 1), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_events_type_entropy_planted(spark, entropy_dir):
    queries, oracles = _entry()
    con = _duck_for(entropy_dir, ["events"])
    sdf = queries["events_type_entropy"](spark, entropy_dir)
    assert_matches_oracle(sdf, con, oracles["events_type_entropy"])
    rows = {r["user_id"]: r for r in sdf.collect()}
    # single-type: exact H is 0; the shared DECIMAL(28,12) residual may
    # floor to -1 but both engines agree (parity above) and it is tiny
    assert rows[1]["n_types"] == 1 and rows[1]["entropy_e6"] in (0, -1)
    # uniform two-type: H = ln 2 = 0.693147...
    assert rows[2]["n_types"] == 2
    assert abs(rows[2]["entropy_e6"] - 693147) <= 1
    # NULL event_type forms its own group in BOTH engines
    assert rows[3]["n_types"] == 2 and rows[3]["n_events"] == 3


# ------------------------------------------------- hard_negative_mining
@pytest.fixture(scope="module")
def negmine_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("negadv")
    rows = []
    # 8 queries (vec_id < 8): four axis-ish directions x 2 labels
    for qid in range(8):
        ang = qid * 0.7
        rows.append(
            (qid, [math.cos(ang), math.sin(ang), 0.25], qid % 2)
        )
    # same-label EXACT duplicates of every query: closest possible,
    # must never be mined
    for qid in range(8):
        ang = qid * 0.7
        rows.append((100 + qid, [math.cos(ang), math.sin(ang), 0.25], qid % 2))
    # different-label exact duplicates -> rank-1 negatives, and a
    # DUPLICATED candidate pair (two ids, same vector) to force a
    # rounded-cos tie broken by neighbor_id
    for qid in range(8):
        ang = qid * 0.7
        vec = [math.cos(ang), math.sin(ang), 0.25]
        rows.append((200 + qid, vec, 1 - qid % 2))
        rows.append((300 + qid, vec, 1 - qid % 2))
    # background
    for i in range(40):
        ang = 1000.0 + i
        rows.append((400 + i, [math.sin(ang), math.cos(ang * 1.3), -0.5], i % 2))
    _write_embeddings(d, [(i, [float(x) for x in v], l) for i, v, l in rows])
    return str(d)


def test_hard_negative_mining_label_mask_and_ties(spark, negmine_dir):
    queries, oracles = _entry()
    con = _duck_for(negmine_dir, ["embeddings"])
    sdf = queries["hard_negative_mining"](spark, negmine_dir)
    assert_matches_oracle(sdf, con, oracles["hard_negative_mining"])
    rows = sdf.collect()
    assert len(rows) == 8 * 10
    by_q: dict[int, list] = {}
    for r in rows:
        # the mask: no mined negative ever shares the query's label
        assert r["neighbor_label"] != r["query_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, lst in by_q.items():
        lst.sort(key=lambda r: r["rank"])
        # the different-label duplicate pair is rank 1 and 2, tie broken
        # by neighbor_id ascending
        assert [lst[0]["neighbor_id"], lst[1]["neighbor_id"]] == [
            200 + qid,
            300 + qid,
        ]
        assert lst[0]["cos_sim"] == lst[1]["cos_sim"] == 1.0
        # the same-label exact duplicate (100+qid) is absent everywhere
        assert all(r["neighbor_id"] != 100 + qid for r in lst)


def test_hard_negative_mining_all_same_label(spark, tmp_path):
    """A corpus where every vector shares one label: no negatives exist,
    both engines emit zero rows."""
    rows = [(i, [1.0, float(i), 0.5], 7) for i in range(20)]
    _write_embeddings(tmp_path, rows)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["embeddings"])
    sdf = queries["hard_negative_mining"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["hard_negative_mining"])
    assert sdf.count() == 0


# ----------------------------------------------------------- data_mix_plan
def test_data_mix_plan_planted(spark, tmp_path):
    """Heavy/light/empty sources: the heavy source must plan BELOW its
    natural share (epochs < 1.0) and the light source above (> 1.0);
    an all-empty-text source survives with zero tokens and NULL-guarded
    ratios instead of a division error."""
    rows = []
    did = 0
    for _ in range(40):  # heavy: 40 docs x 8 tokens = 320
        did += 1
        rows.append((did, "a b c d e f g h", "en", "heavy"))
    for _ in range(2):  # light: 2 docs x 5 tokens = 10
        did += 1
        rows.append((did, "v w x y z", "en", "light"))
    did += 1
    rows.append((did, "", "en", "void"))  # zero tokens
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["data_mix_plan"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["data_mix_plan"])
    got = {r["source"]: r for r in sdf.collect()}
    assert got["heavy"]["n_tokens"] == 320 and got["light"]["n_tokens"] == 10
    # temperature flattening: heavy subsamples, light repeats
    assert got["heavy"]["target_ppm"] < got["heavy"]["natural_ppm"]
    assert got["light"]["target_ppm"] > got["light"]["natural_ppm"]
    assert got["heavy"]["epochs_e4"] < 10000 < got["light"]["epochs_e4"]
    # zero-token source: total row, null-guarded plan
    assert got["void"]["n_tokens"] == 0 and got["void"]["natural_ppm"] == 0
    assert got["void"]["epochs_e4"] is None
    # python replay of the alpha weights
    import math
    q = {s: math.floor(math.sqrt(n) * 1000000) for s, n in
         (("heavy", 320), ("light", 10), ("void", 0))}
    tq = sum(q.values())
    for s in ("heavy", "light", "void"):
        assert got[s]["target_ppm"] == q[s] * 1000000 // tq


# ----------------------------------------------------- embedding_dim_prune
def test_embedding_dim_prune_planted(spark, tmp_path):
    """3-dim corpus with variance concentrated in dim 1, a weaker dim 2,
    and a CONSTANT dim 3 (zero variance): ranks must follow variance,
    the constant dim must rank last with share 0 and keep governed by
    the cumulative-coverage rule."""
    vecs = [
        (1, [1.0, 0.25, 0.5], 0),
        (2, [-1.0, 0.0, 0.5], 0),
        (3, [1.0, -0.25, 0.5], 1),
        (4, [-1.0, 0.0, 0.5], 1),
    ]
    _write_embeddings(tmp_path, vecs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["embeddings"])
    sdf = queries["embedding_dim_prune"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["embedding_dim_prune"])
    rows = {r["dim"]: r for r in sdf.collect()}
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2 and rows[3]["rank"] == 3
    assert rows[3]["var_num"] == 0 and rows[3]["share_ppm"] == 0
    # python integer replay of dim 1's variance numerator
    codes1 = [4096, -4096, 4096, -4096]
    n = 4
    assert rows[1]["var_num"] == n * sum(c * c for c in codes1) - sum(codes1) ** 2
    # keep: dim 1 holds ~97% of variance, so dim 2 is still needed for
    # 99% coverage; the constant dim is kept iff its predecessors are
    # below the bar (here they are not)
    assert rows[1]["keep"] == 1 and rows[2]["keep"] == 1
    assert rows[3]["keep"] == 0
    assert rows[3]["cum_ppm"] <= 1000000


# ------------------------------------------------------ write_manifest_sim
def test_write_manifest_null_keys_excluded(spark, tmp_path):
    """NULL lang (would become the hive default-partition sentinel) and
    NULL doc_id are excluded by contract; the checksum over the rest
    must replay from pure python md5."""
    import hashlib

    rows = [
        (1, "aa", "en", "s"),
        (2, "bb", "en", "s"),
        (3, "cc", "fr", "s"),
        (None, "dd", "en", "s"),
        (5, "ee", None, "s"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["write_manifest_sim"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["write_manifest_sim"])
    got = {r["lang"]: r for r in sdf.collect()}
    assert set(got) == {"en", "fr"}  # NULL-key rows never published
    assert got["en"]["n_rows"] == 2 and got["fr"]["n_rows"] == 1

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    assert got["en"]["checksum"] == bucket(1) + bucket(2)
    assert got["fr"]["checksum"] == bucket(3)
    assert got["en"]["min_key"] == 1 and got["en"]["max_key"] == 2


# ------------------------------------------------------- join_skew_report
def test_join_skew_report_planted(spark, tmp_path):
    """Hand-built key weights: 1-row key (bin 0), two 3-row keys
    (bin 1), and a 25k-row whale (bin 14, salt factor 3 at the 10k
    target) — replayed in pure python."""
    keys = [(1, 1), (2, 3), (3, 3), (4, 25000)]
    ok, pk = [], []
    oid = 0
    for k, w in keys:
        for _ in range(w):
            oid += 1
            ok.append(oid)
            pk.append(k)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(ok, pa.int64()),
                "l_partkey": pa.array(pk, pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["lineitem"])
    sdf = queries["join_skew_report"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["join_skew_report"])
    rows = {r["bin"]: r for r in sdf.collect()}
    assert set(rows) == {0, 1, 14}  # 2^14 = 16384 <= 25000 < 2^15
    assert rows[0]["n_keys"] == 1 and rows[0]["n_rows"] == 1
    assert rows[0]["salt_factor"] == 1 and rows[0]["lo_weight"] == 1
    assert rows[1]["n_keys"] == 2 and rows[1]["n_rows"] == 6
    assert rows[14]["max_weight"] == 25000
    assert rows[14]["salt_factor"] == 3  # ceil(25000 / 10000)
    total = 1 + 6 + 25000
    assert rows[14]["rows_ppm"] == 25000 * 1000000 // total


# ------------------------------------------------- copurchase_adamic_adar
def test_copurchase_adamic_adar_planted(spark, tmp_path):
    """Planted basket graph (every basket staged TWICE so its pairs
    clear AA_EDGE_SUPPORT = 2, plus one single-occurrence basket whose
    edge must be pruned as noise): the non-adjacent pair (10, 11)
    shares the two hubs {1, 2} (deg 3 each) and ranks first; (20, 21)
    shares one neighbor and ranks second; (1, 2) has the same common
    neighbors as (10, 11) but IS an edge (anti-joined); the noise edge
    (40, 41) never creates candidates."""
    import math

    base = [
        (101, 1), (101, 10),
        (102, 1), (102, 11),
        (103, 2), (103, 10),
        (104, 2), (104, 11),
        (105, 1), (105, 2),     # makes (1,2) adjacent
        (106, 20), (106, 30),
        (107, 21), (107, 30),
    ]
    baskets = []
    for rep in (0, 1000):  # two distinct orders per basket: support 2
        baskets += [(oid + rep, p) for oid, p in base]
    baskets += [(999, 40), (999, 41)]  # support-1 noise edge
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([b[0] for b in baskets], pa.int64()),
                "l_partkey": pa.array([b[1] for b in baskets], pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["lineitem"])
    sdf = queries["copurchase_adamic_adar"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["copurchase_adamic_adar"])
    rows = sorted(sdf.collect(), key=lambda r: r["rank"])
    assert [(r["u"], r["v"], r["rank"], r["n_common"]) for r in rows] == [
        (10, 11, 1, 2),
        (20, 21, 2, 1),
    ]
    # AA(10,11) = 2/ln 3 (hubs 1 and 2, degree 3); AA(20,21) = 1/ln 2
    assert abs(rows[0]["aa_e6"] - 2 / math.log(3) * 1_000_000) <= 2
    assert abs(rows[1]["aa_e6"] - 1 / math.log(2) * 1_000_000) <= 2
    assert all(40 not in (r["u"], r["v"]) for r in rows)


# ----------------------------------------------------- knn_probe_curve
def test_knn_probe_curve_monotone_and_bounded(spark, duck):
    """On the real sf0.001 tables: per-query recall must be monotone
    non-decreasing in probe count (more cells can only add candidates)
    and every sweep point obeys 0 <= n_hit <= k."""
    queries, oracles = _entry()
    sdf = queries["knn_probe_curve"](spark, "/root/testdata/sf0.001")
    assert_matches_oracle(sdf, duck, oracles["knn_probe_curve"])
    rows = sdf.collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in rows:
        assert 0 <= r["n_hit"] <= r["k"]
        by_q.setdefault(r["query_id"], {})[r["probes"]] = r["recall_ppm"]
    for qid, curve in by_q.items():
        ordered = [curve[p] for p in sorted(curve)]
        assert ordered == sorted(ordered), (qid, curve)


# ----------------------------------------------------- doc_charset_stats
def test_doc_charset_stats_planted(spark, tmp_path):
    """Shouting text, a digit/symbol blob, empty and NULL docs, and a
    non-ASCII doc (accents count as OTHER, not alpha — both regex
    engines are ASCII-classed) — replayed in pure python."""
    rows = [
        (1, "HELLO WORLD", "en"),           # upper-heavy, texty
        (2, "a1b2== ++ 99389131//", "en"),  # blob: digits+symbols
        (3, "", "en"),                      # empty: every ratio NULL
        (4, None, "en"),                    # NULL == empty by coalesce
        (5, "café naïve", "fr"),  # accents -> other
    ]
    _write_docs(tmp_path, rows)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["doc_charset_stats"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["doc_charset_stats"])
    got = {r["doc_id"]: r for r in sdf.collect()}

    def replay(t):
        import re
        n = len(t)
        alpha = len(re.findall(r"[a-zA-Z]", t))
        upper = len(re.findall(r"[A-Z]", t))
        digit = len(re.findall(r"[0-9]", t))
        ws = len(re.findall(r"[\t\n\x0b\f\r ]", t))
        return n, alpha, upper, digit, ws

    for did, text in ((1, "HELLO WORLD"), (2, "a1b2== ++ 99389131//"),
                      (5, "café naïve")):
        n, alpha, upper, digit, ws = replay(text)
        r = got[did]
        assert r["n_chars"] == n
        assert r["alpha_ppm"] == alpha * 1000000 // n
        assert r["upper_in_alpha_ppm"] == (upper * 1000000 // alpha if alpha else None)
        assert r["digit_ppm"] == digit * 1000000 // n
        assert r["other_ppm"] == (n - alpha - digit - ws) * 1000000 // n
        assert r["is_texty"] == (alpha * 2 >= n)
    for empty in (3, 4):
        assert got[empty]["n_chars"] == 0
        assert got[empty]["alpha_ppm"] is None
        assert got[empty]["is_texty"]  # 0 >= 0: vacuously texty, pinned
    # accents are NOT ascii-alpha: doc 5 has other_ppm > 0
    assert got[5]["other_ppm"] > 0


# --------------------------------------------------- minhash_band_curve
def test_minhash_band_curve_invariants(spark, tmp_path):
    """Mid-similarity corpus (mutated copies at varying overlap): per
    config verified <= candidates and recall_ppm <= 1e6; the (16, 4)
    sweep point must agree EXACTLY with the deployed dedup_minhash
    pipeline's verified pair count (same signatures, same banding);
    the union covers every config's verified set."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    did = 0
    for base in range(6):
        words = [vocab[rng.randrange(50)] for _ in range(40)]
        did += 1
        rows.append((did, " ".join(words), "en"))
        # mutated copy: overlap tuned to straddle the tau=0.5 boundary
        mut = list(words)
        for _ in range(rng.randrange(4, 14)):
            mut[rng.randrange(40)] = vocab[rng.randrange(50)]
        did += 1
        rows.append((did, " ".join(mut), "en"))
    _write_docs(tmp_path, rows)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["minhash_band_curve"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["minhash_band_curve"])
    got = {r["bands"]: r for r in sdf.collect()}
    assert set(got) == {32, 16, 8}
    n_union = {r["n_union"] for r in got.values()}
    assert len(n_union) == 1
    for r in got.values():
        assert r["n_verified"] <= r["n_candidates"]
        assert r["n_verified"] <= r["n_union"]
        assert 0 <= r["recall_ppm"] <= 1_000_000
    deployed = queries["dedup_minhash"](spark, str(tmp_path)).count()
    assert got[16]["n_verified"] == deployed


# -------------------------------------------------------- events_ab_lift
def _write_events_typed(d, rows):
    """rows: (user_id, event_type)"""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, len(rows) + 1), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )


def test_events_ab_lift_planted(spark, tmp_path):
    """Users planted so conversion differs by arm; the md5 arm
    assignment and every count replay in pure python."""
    import hashlib

    def arm(u: int) -> str:
        return "A" if int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2 == 0 else "B"

    rows = []
    # 30 users; convert exactly those with u % 3 == 0
    for u in range(1, 31):
        rows.append((u, "view"))
        if u % 3 == 0:
            rows.append((u, "purchase"))
    _write_events_typed(tmp_path, rows)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["events"])
    sdf = queries["events_ab_lift"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["events_ab_lift"])
    r = sdf.collect()[0]
    exp = {"A": [0, 0], "B": [0, 0]}  # [users, converted]
    for u in range(1, 31):
        a = arm(u)
        exp[a][0] += 1
        exp[a][1] += 1 if u % 3 == 0 else 0
    assert (r["n_a"], r["c_a"]) == tuple(exp["A"])
    assert (r["n_b"], r["c_b"]) == tuple(exp["B"])
    assert r["conv_a_ppm"] == exp["A"][1] * 1000000 // exp["A"][0]
    assert r["cross_diff"] == exp["B"][1] * exp["A"][0] - exp["A"][1] * exp["B"][0]


def test_events_ab_lift_empty(spark, tmp_path):
    _write_events_typed(tmp_path, [])
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["events"])
    sdf = queries["events_ab_lift"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["events_ab_lift"])


# ---------------------------------------------------- doc_ngram_novelty
def test_doc_ngram_novelty_planted(spark, tmp_path):
    """An exact later copy scores 0 novelty, the original 1e6; a doc
    sharing half its trigrams splits accordingly; short/NULL docs
    surface with zeros (total output)."""
    rows = [
        (1, "a b c d e", "en"),       # trigrams: abc bcd cde (all novel)
        (2, "a b c d e", "en"),       # exact copy: all debuted in doc 1
        (3, "a b c x y z", "en"),     # 'a b c' old; 'b c x','c x y','x y z' new
        (4, "q r", "en"),             # < 3 tokens: zeros
        (5, None, "en"),              # NULL text: zeros
    ]
    _write_docs(tmp_path, rows)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    sdf = queries["doc_ngram_novelty"](spark, str(tmp_path))
    assert_matches_oracle(sdf, con, oracles["doc_ngram_novelty"])
    got = {r["doc_id"]: r for r in sdf.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["n_distinct_grams"] == 3 and got[1]["novelty_ppm"] == 1_000_000
    assert got[2]["n_distinct_grams"] == 3 and got[2]["n_novel"] == 0
    assert got[2]["novelty_ppm"] == 0
    assert got[3]["n_distinct_grams"] == 4 and got[3]["n_novel"] == 3
    assert got[3]["novelty_ppm"] == 3 * 1000000 // 4
    for z in (4, 5):
        assert got[z]["n_distinct_grams"] == 0 and got[z]["novelty_ppm"] == 0
