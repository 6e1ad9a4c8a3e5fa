"""Round-7 targeted adversarial cases (VERDICT r6 order #3): each r6-new
oracle gets a dataset planted exactly at its branch points, then runs
through the same Spark↔DuckDB gate the driver uses.

- distinct_kmv: groups holding exactly K−1 / K / K+1 distinct keys (the
  estimator's exact-vs-sketch branch, relational.py KMV_K)
- events_quantile_sample: event_ids whose md5 bucket lands as close to
  the 25% threshold as a bounded search finds, from both sides, plus
  one-row / zero-row / all-ties sampled groups (interpolation edges)
- split_leakage_safe: a near-dup graph that is ONE 8-doc chain through
  two bridge docs — three 2-doc clusters joined end-to-end, so the
  connected-components closure needs 7 propagation hops
- mj_exe_wordcount: texts with tabs, embedded newlines, CRs, empty /
  whitespace-only / NULL bodies — the pipe protocol's framing edges
"""

from __future__ import annotations

import hashlib

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


# ------------------------------------------------------------- distinct_kmv
@pytest.fixture(scope="module")
def kmv_dir(tmp_path_factory):
    from grapefruit_spark.operators.relational import KMV_K

    d = tmp_path_factory.mktemp("kmv")
    prios, custs = [], []
    for prio, n_distinct in (
        ("1-AT-KMINUS1", KMV_K - 1),
        ("2-AT-K", KMV_K),
        ("3-AT-KPLUS1", KMV_K + 1),
        ("4-TINY", 3),
    ):
        for i in range(n_distinct):
            prios.append(prio)
            custs.append(10_000 + i)  # overlapping keys ACROSS groups
            if i % 7 == 0:  # repeated rows: distinct must collapse them
                prios.append(prio)
                custs.append(10_000 + i)
    pq.write_table(
        pa.table(
            {"o_orderpriority": pa.array(prios), "o_custkey": pa.array(custs, pa.int64())}
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


def test_kmv_branch_points_match_oracle(spark, kmv_dir):
    queries, oracles = _entry()
    con = _duck_for(kmv_dir, ["orders"])
    assert_matches_oracle(
        queries["distinct_kmv"](spark, kmv_dir), con, oracles["distinct_kmv"]
    )


def test_kmv_exact_below_k_and_sane_at_k(spark, kmv_dir):
    from grapefruit_spark.operators.relational import KMV_K, distinct_kmv

    rows = {r["o_orderpriority"]: r for r in distinct_kmv(spark, kmv_dir).collect()}
    # below K the sketch IS the exact count
    assert rows["1-AT-KMINUS1"]["kmv_distinct"] == KMV_K - 1
    assert rows["4-TINY"]["kmv_distinct"] == 3
    # at and past K the estimator engages; rsd ≈ 6 % — allow 30 %
    for g in ("2-AT-K", "3-AT-KPLUS1"):
        est, exact = rows[g]["kmv_distinct"], rows[g]["exact_distinct"]
        assert abs(est - exact) <= 0.3 * exact, (g, est, exact)


# --------------------------------------------------- events_quantile_sample
@pytest.fixture(scope="module")
def qsample_dir(tmp_path_factory):
    from grapefruit_spark.operators.analytics import SAMPLE_Q_RATE

    def bucket(eid: int) -> int:
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16)

    # bounded search for the event_ids whose bucket lands closest to the
    # threshold from each side (an exact hit needs ~2^32 tries; what the
    # case must pin is that BOTH engines classify the straddling pair
    # identically under the same strict <)
    lo_id = hi_id = None
    lo_gap = hi_gap = 1 << 33
    ins, outs = [], []
    for eid in range(400_000):
        b = bucket(eid)
        if b < SAMPLE_Q_RATE:
            if SAMPLE_Q_RATE - b < lo_gap:
                lo_gap, lo_id = SAMPLE_Q_RATE - b, eid
            if len(ins) < 40:
                ins.append(eid)
        else:
            if b - SAMPLE_Q_RATE < hi_gap:
                hi_gap, hi_id = b - SAMPLE_Q_RATE, eid
            if len(outs) < 40:
                outs.append(eid)
    ins = [e for e in ins if e not in (lo_id, hi_id)]
    outs = [e for e in outs if e not in (lo_id, hi_id)]

    ids, types, values = [], [], []

    def add(eid, etype, val):
        ids.append(eid)
        types.append(etype)
        values.append(val)

    # boundary group: the two straddlers + a spread of sampled values
    add(lo_id, "bnd", 111.5)
    add(hi_id, "bnd", 999.9)
    for i, e in enumerate(ins[:10]):
        add(e, "bnd", 1.0 + i * 3.7)
    # exactly one sampled row (all three percentiles = that value)
    add(ins[10], "one", 42.25)
    for e in outs[:5]:
        add(e, "one", 7.0)
    # zero sampled rows: the group must vanish from BOTH engines
    for e in outs[5:15]:
        add(e, "none", 3.0)
    # all sampled values tied (interpolation between equal neighbors)
    for e in ins[11:17]:
        add(e, "ties", 5.5)
    d = tmp_path_factory.mktemp("qsample")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "event_type": pa.array(types),
                "value": pa.array(values, pa.float64()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_quantile_sample_threshold_boundary(spark, qsample_dir):
    queries, oracles = _entry()
    con = _duck_for(qsample_dir, ["events"])
    assert_matches_oracle(
        queries["events_quantile_sample"](spark, qsample_dir),
        con,
        oracles["events_quantile_sample"],
    )
    rows = {
        r["event_type"]: r
        for r in queries["events_quantile_sample"](spark, qsample_dir).collect()
    }
    assert "none" not in rows  # fully-unsampled group vanished
    assert rows["one"]["p50_e4"] == rows["one"]["p99_e4"] == 422500
    assert rows["ties"]["p50_e4"] == rows["ties"]["p90_e4"] == 55000


# ------------------------------------------------------- split_leakage_safe
def _block(tag: str) -> list[str]:
    return [f"{tag}{i}" for i in range(6)]


@pytest.fixture(scope="module")
def chain_dir(tmp_path_factory):
    # 8-doc chain: consecutive docs share one 6-token block → 4 shared
    # trigrams, J = 4/16 = 0.25 ≥ τ = 0.08; non-consecutive docs share
    # nothing. Clusters {1,2}, {3,4}, {5,6} joined end-to-end through
    # bridges 7 and 9: 1-2-7-3-4-9-5-6. Keeper propagation 1 → 6 takes
    # SEVEN hops — the closure must genuinely iterate.
    blocks = {t: _block(t) for t in "PQRSTUVX"}
    order = [
        (1, "P", "Q"),
        (2, "Q", "R"),
        (7, "R", "S"),
        (3, "S", "T"),
        (4, "T", "U"),
        (9, "U", "V"),
        (5, "V", "X"),
        (6, "X", "P2"),
    ]
    blocks["P2"] = _block("Z")  # doc6's tail is unique: no 6-1 edge
    docs = {did: " ".join(blocks[a] + blocks[b]) for did, a, b in order}
    for did, tag in ((10, "solo_a"), (11, "solo_b"), (12, "solo_c")):
        docs[did] = " ".join(f"{tag}_{i}" for i in range(12))
    ids = sorted(docs)
    texts = [docs[i] for i in ids]
    d = tmp_path_factory.mktemp("chain")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["adv"] * len(ids)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_chain_forms_one_cluster(spark, chain_dir):
    from grapefruit_spark.operators.graph import jaccard_clusters

    got = {
        r["doc_id"]: r["keep_doc_id"]
        for r in jaccard_clusters(spark, chain_dir).collect()
    }
    assert got == {i: 1 for i in (1, 2, 3, 4, 5, 6, 7, 9)}


def test_split_leakage_safe_chain_matches_oracle(spark, chain_dir):
    queries, oracles = _entry()
    con = _duck_for(chain_dir, ["documents"])
    assert_matches_oracle(
        queries["split_leakage_safe"](spark, chain_dir),
        con,
        oracles["split_leakage_safe"],
    )


def test_no_near_dup_pair_straddles_split(spark, chain_dir):
    """The invariant itself, edge-level, on the chained graph."""
    from pyspark.sql import functions as F

    from grapefruit_spark.operators.datapipe import _U32, _bucket
    from grapefruit_spark.operators.dedup import ngram_jaccard_pairs
    from grapefruit_spark.operators.graph import jaccard_clusters

    clusters = jaccard_clusters(spark, chain_dir)
    b = _bucket(F.col("keep_doc_id"))
    split = (
        F.when(b < int(0.90 * _U32), "train")
        .when(b < int(0.95 * _U32), "val")
        .otherwise("test")
    )
    doc_split = {
        r["doc_id"]: r["s"]
        for r in clusters.select("doc_id", split.alias("s")).collect()
    }
    pairs = ngram_jaccard_pairs(spark, chain_dir).collect()
    assert len(pairs) >= 7  # the chain's consecutive edges all found
    for r in pairs:
        assert doc_split[r["doc_a"]] == doc_split[r["doc_b"]], (
            r["doc_a"],
            r["doc_b"],
        )


# ------------------------------------------- r7-changed graph code paths
@pytest.fixture(scope="module")
def graph_dir(tmp_path_factory):
    """lineitem warehouse exercising BOTH r7-new pagerank/lift branches:

    - supplier 999 appears ONLY as the second line of its orders → only
      ever an edge DST → a DANGLING node, so pagerank takes the
      dm-branch the driver testdata never reaches (the fused kernel's
      dangling-mass fold; the distributed loop's dm-branch — which pins
      every generation, cadence 1 — is covered by the parametrized
      python-reference tests in test_graph_ivf.py);
    - baskets are built symmetrically so two part pairs share EXACTLY
      the same (n_ab, n_a, n_b) → bit-equal double lift, forcing the
      (u,v) tie-break to decide the rank in both engines.
    """
    rows = []  # (l_orderkey, l_partkey, l_suppkey, l_linenumber)

    def order(okey, supps, parts):
        for i, (s, p) in enumerate(zip(supps, parts), start=1):
            rows.append((okey, p, s, i))

    # pagerank graph: 1→2, 2→3, 3→1 cycle plus 999 dangling (only dst)
    for okey, (sa, sb) in enumerate(
        [(1, 2), (2, 3), (3, 1), (1, 999), (2, 999)], start=100
    ):
        for rep in range(3):  # repeated orders: distinct-edge dedup
            order(1000 * okey + rep, [sa, sb], [10 + sa, 10 + sb])
    # lift ties: pairs (51,52) and (61,62) each co-occur in exactly 3
    # orders; parts 51/52/61/62 each appear in exactly 4 baskets, so
    # both pairs score the same exact lift
    for okey in (1, 2, 3):
        order(okey, [7, 7], [51, 52])
        order(okey + 10, [7, 7], [61, 62])
    order(30, [7, 7], [51, 61])  # 4th basket for 51 and 61
    order(31, [7, 7], [52, 62])  # 4th basket for 52 and 62
    d = tmp_path_factory.mktemp("graphadv")
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in rows], pa.int64()),
                "l_linenumber": pa.array([r[3] for r in rows], pa.int32()),
            }
        ),
        str(d / "lineitem.parquet"),
    )
    return str(d)


def test_pagerank_dangling_branch_matches_oracle(spark, graph_dir):
    """The dm branch against the unrolled dangling-mass CTEs — the
    driver corpus has no dangling nodes, so only this case compares the
    two dm implementations (the fused kernel at this graph size)."""
    queries, oracles = _entry()
    con = _duck_for(graph_dir, ["lineitem"])
    assert_matches_oracle(
        queries["supplier_pagerank"](spark, graph_dir),
        con,
        oracles["supplier_pagerank"],
    )
    # the seeded variant's dangling path against ITS unrolled CTEs
    assert_matches_oracle(
        queries["supplier_ppr"](spark, graph_dir),
        con,
        oracles["supplier_ppr"],
    )
    # and the branch really is the dangling one
    from grapefruit_spark.operators.graph import supplier_edges

    e = supplier_edges(spark, graph_dir)
    srcs = {r["src"] for r in e.select("src").distinct().collect()}
    dsts = {r["dst"] for r in e.select("dst").distinct().collect()}
    assert 999 in dsts - srcs  # dangling by construction


def test_lift_double_tie_matches_oracle(spark, graph_dir):
    """Two pairs with bit-equal double lift: rank must fall to the
    (u,v) tie-break identically in both engines."""
    queries, oracles = _entry()
    con = _duck_for(graph_dir, ["lineitem"])
    assert_matches_oracle(
        queries["copurchase_lift"](spark, graph_dir),
        con,
        oracles["copurchase_lift"],
    )
    rows = {
        (r["part_a"], r["part_b"]): r
        for r in queries["copurchase_lift"](spark, graph_dir).collect()
    }
    a, b = rows.get((51, 52)), rows.get((61, 62))
    assert a is not None and b is not None
    assert a["lift_ppm"] == b["lift_ppm"]  # the planted exact tie
    assert a["rank"] == b["rank"] - 1  # broken by (u,v), adjacent ranks


# --------------------------------------------------------- mj_exe_wordcount
@pytest.fixture(scope="module")
def framing_dir(tmp_path_factory):
    texts = [
        "hello\tworld\thello",  # tabs separate tokens (the protocol's own
        "a  b\t\tc",  # delimiter appearing in DATA lines)
        "",  # empty body → empty pipe line
        "   \t  ",  # whitespace-only
        None,  # NULL body
        "line one\nline two",  # embedded newline: one row, two pipe lines
        "crlf\r\nend",
        "MiXeD CaSe MIXED case",
        "it's a\\b quoted",  # shell-ish bytes must pass through untouched
        "hello world",  # cross-doc aggregation
    ]
    d = tmp_path_factory.mktemp("framing")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["adv"] * len(texts)),
                "n_chars": pa.array(
                    [len(t) if t else 0 for t in texts], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("qname", ["mj_exe_wordcount", "mj_wordcount"])
def test_wordcount_framing_edges(spark, framing_dir, qname):
    queries, oracles = _entry()
    con = _duck_for(framing_dir, ["documents"])
    assert_matches_oracle(queries[qname](spark, framing_dir), con, oracles[qname])


def test_exe_wordcount_counts(spark, framing_dir):
    from grapefruit_spark.operators.mapreduce_apps import mj_exe_wordcount

    got = {r["word"]: r["cnt"] for r in mj_exe_wordcount(spark, framing_dir).collect()}
    assert got["hello"] == 3  # tab-separated + plain, across docs/lines
    assert got["world"] == 2
    assert got["mixed"] == 2 and got["case"] == 2
    assert got["it's"] == 1 and got["a\\b"] == 1
    assert got["line"] == 2 and got["one"] == 1 and got["two"] == 1
    assert got["crlf"] == 1 and got["end"] == 1
