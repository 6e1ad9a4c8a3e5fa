"""Full driver-gate replica over an ADVERSARIAL TPC-H-ish warehouse.

Completes the adversarial-parity program (rich corpus → documents ops,
adversarial events → C-block): this module generates all ten tables with
the relational edge cases a different driver generator could produce —

- exact VALUE TIES everywhere a top-N or rank could silently diverge
  (duplicate o_totalprice within a customer, equal acctbals, equal
  revenues at the LIMIT cutoff),
- dates landing EXACTLY on every filter boundary the queries use
  (1998-09-02, 1997-01-01, 1996-03-01/31, 1996-10-01, …),
- l_quantity exactly at the 23/24 threshold, l_discount exactly at the
  0.05 / 0.07 BETWEEN endpoints,
- customers with zero orders, negative balances, all five segments /
  priorities / status values, every literal the queries filter on
  (NATION_1/2/9, ASIA, EUROPE, BUILDING, MACHINERY, Brand#13, ECONOMY)

— and then runs EVERY oracle-backed registry query not already covered
by the rich-corpus / adversarial-events modules through the identical
row/schema/hash gate. Seeded; byte-identical across runs.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from .test_rich_corpus_parity import _build_corpus
from .test_rich_events_parity import RICH_EVENT_QUERIES, _build_embeddings, _build_events

#: covered elsewhere — excluded here to keep runtime bounded
_COVERED = (
    {q for _, q in RICH_EVENT_QUERIES}
    | {
        "lang_id", "doc_entropy", "doc_quality", "token_count", "doc_fingerprint",
        "doc_rolling_fingerprint", "tfidf_top_terms", "bm25_search",
        "doc_unigram_logprob", "vocab_coverage", "dedup_exact", "dup_span_docs",
        "ngram_jaccard_pairs", "ngram_containment_pairs", "quality_repetition",
        "dedup_spans_apply",
        "doc_chunking", "seq_packing", "jaccard_clusters",
        "knn_bruteforce", "knn_topk_partitioned", "embedding_neardup",
    }
)

_BOUNDARY_DATES = [
    "1998-09-02", "1997-01-01", "1996-01-01", "1996-03-01", "1996-03-31",
    "1996-04-01", "1996-07-01", "1996-10-01", "1996-12-31", "1997-12-31",
]


def _write(df, d, name, schema=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    (d / f"{name}.parquet").mkdir()
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, str(d / f"{name}.parquet" / "part-0.parquet"))


def _build_relational(d) -> None:
    import pandas as pd
    import pyarrow as pa

    rng = random.Random(20260815)
    regions = pd.DataFrame(
        [(i, n) for i, n in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        columns=["r_regionkey", "r_name"],
    )
    regions["r_regionkey"] = regions["r_regionkey"].astype("int32")
    _write(regions, d, "region")

    nations = pd.DataFrame(
        [(i, f"NATION_{i}", i % 5) for i in range(10)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    for c in ("n_nationkey", "n_regionkey"):
        nations[c] = nations[c].astype("int32")
    _write(nations, d, "nation")

    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
    # acctbal ties: exactly 8000.00 repeated (the segment_set_ops gate),
    # a shared 9000.00, and some negatives
    bal_pool = [8000.00, 8000.00, 9000.00, 9000.00, -1.50, 0.00, 8000.01, 7999.99]
    customers = pd.DataFrame(
        [
            (
                i,
                f"Customer#{i:09d}",
                i % 10,
                bal_pool[i % len(bal_pool)] + (i % 3) * 1000,
                segs[i % 5],
            )
            for i in range(1, 61)
        ],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    customers["c_nationkey"] = customers["c_nationkey"].astype("int32")
    _write(customers, d, "customer")

    suppliers = pd.DataFrame(
        [
            (i, f"Supplier#{i:09d}", i % 10, round(1000.0 * (i % 4), 2))
            for i in range(1, 15)
        ],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    suppliers["s_nationkey"] = suppliers["s_nationkey"].astype("int32")
    _write(suppliers, d, "supplier")

    brands = ["Brand#1", "Brand#2", "Brand#3", "Brand#13", "Brand#19", "Brand#25"]
    types = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
    adjs = ["red", "green", "large", "small"]
    nouns = ["anvil", "plate", "gizmo", "widget"]
    parts = pd.DataFrame(
        [
            (
                i,
                f"{adjs[i % 4]} {nouns[(i // 4) % 4]}",
                brands[i % 6],
                types[(i // 2) % 6],
                (i % 10) + 1,
                round(10.0 + i, 2),
            )
            for i in range(1, 31)
        ],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )
    parts["p_size"] = parts["p_size"].astype("int32")
    _write(parts, d, "part")

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    stats = ["O", "F", "P"]
    # tied totalprice values recur so top-N cutoffs land on ties
    price_pool = [100.00, 100.00, 2500.50, 2500.50, 999.99, 50000.00]
    orders_rows = []
    for ok in range(1, 281):
        ck = rng.randint(1, 50)  # custkeys 51-60 stay orderless
        if ok % 9 == 0:
            date = _BOUNDARY_DATES[(ok // 9) % len(_BOUNDARY_DATES)]
        else:
            date = (
                dt.date(1995, 1, 1)
                + dt.timedelta(days=rng.randint(0, 6 * 365))
            ).isoformat()
        price = price_pool[ok % len(price_pool)] if ok % 3 == 0 else round(
            rng.uniform(10, 90000), 2
        )
        orders_rows.append(
            (ok, ck, stats[ok % 3], price, dt.datetime.fromisoformat(date), prios[ok % 5])
        )
    orders = pd.DataFrame(
        orders_rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    # micro-second precision like the stock testdata: ns timestamps read
    # as BIGINT under the session's nanosAsLong conf (only events.ts is
    # normalized by the catalog)
    orders["o_orderdate"] = pd.to_datetime(orders["o_orderdate"]).astype("datetime64[us]")
    _write(orders, d, "orders")

    rf_ls = [("A", "F"), ("N", "O"), ("R", "F"), ("R", "O"), ("N", "F"), ("A", "O")]
    li_rows = []
    for ok, ck, st, price, odate, prio in orders_rows:
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float([23, 24, 1, 50, rng.randint(2, 49)][(ok + ln) % 5])
            disc = [0.0, 0.04, 0.05, 0.06, 0.07, 0.08][(ok + ln) % 6]
            tax = [0.0, 0.05][(ok + ln) % 2]
            if (ok + ln) % 11 == 0:
                ship = dt.datetime.fromisoformat(
                    _BOUNDARY_DATES[(ok + ln) % len(_BOUNDARY_DATES)]
                )
            else:
                ship = odate + dt.timedelta(days=rng.randint(1, 120))
            rf, ls = rf_ls[(ok + ln) % 6]
            # tied extendedprice so per-part/per-supplier revenue sums tie
            ext = [500.00, 500.00, 1234.56, round(rng.uniform(10, 5000), 2)][
                (ok + ln) % 4
            ]
            li_rows.append(
                (
                    ok, ((ok + ln) % 30) + 1, ((ok * 3 + ln) % 14) + 1, ln,
                    qty, ext, disc, tax, rf, ls, ship,
                )
            )
    li = pd.DataFrame(
        li_rows,
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        ],
    )
    li["l_linenumber"] = li["l_linenumber"].astype("int32")
    li["l_shipdate"] = pd.to_datetime(li["l_shipdate"]).astype("datetime64[us]")
    _write(li, d, "lineitem")


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("advwh")
    _build_relational(d)
    (d / "documents.parquet").mkdir()
    _build_corpus(str(d / "documents.parquet" / "part-0.parquet"))
    (d / "events.parquet").mkdir()
    # events INSIDE the orders' 1995-2001 span so events_asof_join and
    # purchase attribution exercise real matches, not all-miss rows
    _build_events(
        str(d / "events.parquet" / "part-0.parquet"),
        base_us=820_454_400_000_000,  # 1996-01-01 UTC
    )
    (d / "embeddings.parquet").mkdir()
    _build_embeddings(str(d / "embeddings.parquet" / "part-0.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet/*.parquet'")
    return con


def _target_queries():
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    return sorted(n for n in queries if n in oracles and n not in _COVERED)


@pytest.mark.parametrize("qname", _target_queries())
def test_adversarial_warehouse_matches_oracle(spark, adv_dir, adv_duck, qname):
    import __spark_entry__ as entrymod

    from .util import assert_matches_oracle

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert_matches_oracle(queries[qname](spark, adv_dir), adv_duck, oracles[qname])
