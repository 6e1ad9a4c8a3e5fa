"""Round-11 targeted adversarial cases.

- events_pareto_share (rank-arithmetic rewrite): ties EXACTLY at decile
  boundaries — where the range-partitioned-rank rewrite could diverge
  from SQL ntile if the bucket arithmetic or the (n_events DESC,
  user_id ASC) tie order were off by one. Covers N % 10 != 0 (the
  big-bucket/small-bucket seam), N < 10 (base = 0, every bucket one
  row), and an all-equal corpus (pure user_id tiebreak).
"""

from __future__ import annotations


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


def _write_events(d, counts: dict[int, int]) -> None:
    rows = []
    eid = 0
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
        str(d / "events.parquet"),
    )


def _py_ntile_deciles(counts: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Standard-SQL ntile(10) over (n_events DESC, user_id ASC):
    first (N mod 10) buckets take ceil(N/10) rows."""
    users = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    n = len(users)
    base, rem = divmod(n, 10)
    per: dict[int, list[int]] = {}
    for i, (_, cnt) in enumerate(users):
        r = i + 1
        if r <= rem * (base + 1):
            d = (r - 1) // (base + 1) + 1
        else:
            d = rem + (r - rem * (base + 1) - 1) // max(base, 1) + 1
        st = per.setdefault(d, [0, 0])
        st[0] += 1
        st[1] += cnt
    return {d: (v[0], v[1]) for d, v in per.items()}


@pytest.mark.parametrize(
    "counts",
    [
        # 23 users, ALL tied at 7 events: pure user_id tiebreak; the
        # big/small bucket seam falls inside the tie run (buckets 1-3
        # take 3 users, 4-10 take 2)
        {u: 7 for u in range(1, 24)},
        # 34 users, ties planted EXACTLY across the rank-4 boundary
        # where bucket sizes flip from 4 to 3 (rem = 4)
        {u: (100 if u <= 2 else 50 if u <= 6 else 1) for u in range(1, 35)},
        # N < 10: base = 0, deciles 1..7 get one user each, 8-10 empty
        {u: 10 - u for u in range(1, 8)},
        # one user: degenerate frame, single decile row
        {1: 42},
    ],
    ids=["all-tied", "seam-tie", "under-ten", "single-user"],
)
def test_pareto_share_boundary_ties(spark, tmp_path, counts):
    _write_events(tmp_path, counts)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["events"])
    assert_matches_oracle(
        queries["events_pareto_share"](spark, str(tmp_path)),
        con,
        oracles["events_pareto_share"],
    )
    expect = _py_ntile_deciles(counts)
    total = sum(counts.values())
    got = {
        r["decile"]: r
        for r in queries["events_pareto_share"](spark, str(tmp_path)).collect()
    }
    assert sorted(got) == sorted(expect)
    cum = 0
    for d in sorted(expect):
        cum += expect[d][1]
        assert got[d]["n_users"] == expect[d][0]
        assert got[d]["n_events"] == expect[d][1]
        assert got[d]["share_ppm"] == expect[d][1] * 1_000_000 // total
        assert got[d]["share_cum_ppm"] == cum * 1_000_000 // total


# ------------------------------------------------------------ knn_ivf_sq8
def test_ivfsq_recall_matches_set_overlap(spark):
    """n_hit must equal the literal set overlap of the two composed
    (already driver-verified) queries — the LSH/IVF/SQ twins' contract
    extended to the fourth QA-matrix row."""
    from grapefruit_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_sq8,
        knn_ivfsq_recall_eval,
    )

    from .conftest import SF_DIR

    exact: dict[int, set] = {}
    for r in knn_bruteforce(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in knn_ivf_sq8(spark, SF_DIR).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {
        r["query_id"]: r for r in knn_ivfsq_recall_eval(spark, SF_DIR).collect()
    }
    assert set(got) == set(exact)
    for qid, ex in exact.items():
        hits = len(ex & approx.get(qid, set()))
        assert got[qid]["n_hit"] == hits
        assert got[qid]["k"] == len(ex)
        assert got[qid]["recall_ppm"] == hits * 1_000_000 // len(ex)


def test_ivfsq_dist_consistent_with_sq8(spark):
    """Cell pruning must not touch the metric: any (query, neighbor)
    pair surfaced by BOTH knn_sq8 and knn_ivf_sq8 carries the identical
    integer dist_q (same codes, same weights — IVF only narrows WHICH
    pairs are scored)."""
    from grapefruit_spark.operators.similarity import knn_ivf_sq8, knn_sq8

    from .conftest import SF_DIR

    sq = {
        (r["query_id"], r["neighbor_id"]): r["dist_q"]
        for r in knn_sq8(spark, SF_DIR).collect()
    }
    both = 0
    for r in knn_ivf_sq8(spark, SF_DIR).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in sq:
            both += 1
            assert sq[key] == r["dist_q"], key
    assert both > 0  # the overlap is never empty on this corpus


def test_ivfsq_recall_vs_random_baseline(spark):
    """Probing 3/16 cells must beat the 3/16 random baseline on
    average (same bound the plain-IVF recall test pins)."""
    from grapefruit_spark.operators.similarity import knn_ivfsq_recall_eval

    from .conftest import SF_DIR

    rows = knn_ivfsq_recall_eval(spark, SF_DIR).collect()
    mean = sum(r["recall_ppm"] for r in rows) / len(rows)
    assert mean > 300_000


# ----------------------------------------------------- doc_repetition_stats
def test_repetition_stats_planted(spark, tmp_path):
    """Docs planted at the branch points: a 10×-repeated line (caught by
    the line rule), a degenerate trigram loop (trigram rule), a clean
    doc, a 2-word doc (no trigrams), an empty doc, and a NULL text."""
    docs = [
        # 4 distinct lines, 6 dups of one line -> 10 lines, dup 6/10 > 3/10
        (1, "\n".join(["spam line"] * 7 + ["a", "b", "c"]), "s"),
        # 'x y x y x y x y' -> 8 words, 6 trigrams, 2 distinct -> 4/6 > 1/5
        (2, " ".join(["x", "y"] * 4), "s"),
        (3, "one two three four five six seven", "s"),  # all distinct
        (4, "just two", "s"),  # < 3 words: zero trigrams, no div-by-0
        (5, "", "s"),  # zero lines AND zero words
        (6, None, "s"),  # NULL text behaves as empty
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array([d[2] for d in docs]),
                "n_chars": pa.array(
                    [len(d[1] or "") for d in docs], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["doc_repetition_stats"](spark, str(tmp_path)),
        con,
        oracles["doc_repetition_stats"],
    )
    got = {
        r["doc_id"]: r
        for r in queries["doc_repetition_stats"](spark, str(tmp_path)).collect()
    }
    assert got[1]["n_lines"] == 10 and got[1]["n_dup_lines"] == 6
    assert got[1]["dup_line_ppm"] == 600_000 and got[1]["is_repetitive"]
    assert got[2]["n_tris"] == 6 and got[2]["n_dup_tris"] == 4
    assert got[2]["dup_tri_ppm"] == 4 * 1_000_000 // 6 and got[2]["is_repetitive"]
    assert not got[3]["is_repetitive"] and got[3]["n_dup_tris"] == 0
    assert got[4]["n_tris"] == 0 and got[4]["dup_tri_ppm"] is None
    for d in (5, 6):
        assert got[d]["n_lines"] == 0 and got[d]["dup_line_ppm"] is None
        assert not got[d]["is_repetitive"]


# -------------------------------------------------------- events_burstiness
def test_burstiness_planted_processes(spark, tmp_path):
    """Three hand-built arrival processes: a metronome (same count every
    hour -> Fano 0), a burst (all events in one hour of two -> high
    Fano), and a single-hour user (excluded by contract)."""
    rows = []  # (user, hour_offset, count)
    plan = {
        1: [(h, 5) for h in range(4)],        # metronome: var 0
        2: [(0, 19), (1, 1)],                 # burst: h=2,sum=20,sumsq=362
        3: [(0, 7)],                          # single hour: excluded
    }
    eid = 0
    base = 1_700_000_000_000_000
    for u, hours in plan.items():
        for h, n in hours:
            for i in range(n):
                eid += 1
                rows.append((eid, base + h * 3_600_000_000 + i, u))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
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
        queries["events_burstiness"](spark, str(tmp_path)),
        con,
        oracles["events_burstiness"],
    )
    got = {
        r["user_id"]: r
        for r in queries["events_burstiness"](spark, str(tmp_path)).collect()
    }
    assert sorted(got) == [1, 2]  # single-hour user 3 excluded
    assert got[1]["fano_ppm"] == 0  # metronome
    # burst: (2*362 - 400)*1e6 // (2*20) = 324*1e6/40 = 8.1e6
    assert got[2]["fano_ppm"] == (2 * 362 - 400) * 1_000_000 // 40


# -------------------------------------------------------- langid_confusion
def test_langid_confusion_cells_match_lang_id(spark, duck):
    """Every confusion cell must equal the recount of the (already
    verified) lang_id output, and per-lang shares must sum to ~1e6."""
    from collections import Counter

    from grapefruit_spark.operators.text import lang_id, langid_confusion

    from .conftest import SF_DIR

    cells = Counter()
    for r in lang_id(spark, SF_DIR).collect():
        cells[(r["lang"], r["pred_lang"])] += 1
    rows = langid_confusion(spark, SF_DIR).collect()
    assert {(r["lang"], r["pred_lang"]): r["n_docs"] for r in rows} == dict(cells)
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["share_ppm"]
        assert r["is_match"] == (r["lang"] == r["pred_lang"])
    for lang, total in per_lang.items():
        assert 999_000 <= total <= 1_000_000, lang


# -------------------------------------------------------- source_cap_sample
def test_source_cap_planted_boundaries(spark, tmp_path):
    """Sources planted at the cap's branch points: under-cap (keep
    all), exactly-at-cap, and a whale 20x over cap — the bucketed
    selection must equal the plain per-source (hash, doc_id) top-15 the
    oracle computes, including when a boundary bucket holds several
    rows."""
    import hashlib

    sizes = {"tiny": 3, "exact": 15, "whale": 300}
    docs, did = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            did += 1
            docs.append((did, f"doc {did} text", src))
    _write_docs_cap(tmp_path, docs)
    queries, oracles = _entry()
    con = _duck_for(str(tmp_path), ["documents"])
    assert_matches_oracle(
        queries["source_cap_sample"](spark, str(tmp_path)),
        con,
        oracles["source_cap_sample"],
    )
    got: dict[str, set] = {}
    for r in queries["source_cap_sample"](spark, str(tmp_path)).collect():
        got.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(got["tiny"]) == 3 and len(got["exact"]) == 15
    assert len(got["whale"]) == 15
    # python replay of the md5-order top-15 for the whale
    def h60(doc_id: int) -> int:
        return int(hashlib.md5(f"{doc_id}cap".encode()).hexdigest()[:15], 16)

    whale_ids = [d for d, _, s in docs if s == "whale"]
    expect = set(sorted(whale_ids, key=lambda d: (h60(d), d))[:15])
    assert got["whale"] == expect


def _write_docs_cap(d, docs):
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
