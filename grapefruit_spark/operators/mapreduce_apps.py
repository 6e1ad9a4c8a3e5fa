"""Reference demo applications re-expressed Spark-first (SURVEY §2 block A).

The reference ships four workloads (app/, wg_*.py): WordCount, WebGraph
in-link counting, and the two-stage Condorcet winner election. Each gets a
queries() entry + DuckDB oracle. ``mj_wordcount`` deliberately runs through
the generic maple/juice API (pandas path) to exercise A1/A2; everything
else is declarative.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import spread, table
from ..maplejuice import juice, maple

ORACLE: dict[str, str] = {}


# ------------------------------------------------------------------ A1/A2/A6
def cli_wc_maple(pdf: pd.DataFrame) -> pd.DataFrame:
    """Wordcount maple of mj_wordcount and cli_sim — module-level so the
    CLI's ``module:function`` exe loader (cli._load_exe) can name it.

    A per-batch COMBINER (the reference's own WebGraph maple pre-sums
    counts before the shuffle): emits (word, partial_count) instead of
    (word, 1) — the summing juice is unchanged, the shuffle carries
    |vocab| rows per batch instead of |tokens|."""
    from collections import Counter

    c: Counter = Counter()
    for t in pdf["text"]:
        # null text contributes no tokens (the exe path gets this for
        # free from the pipe framing: None serializes to an empty line)
        if isinstance(t, str):
            c.update(t.lower().split())
    return pd.DataFrame({"key": list(c.keys()), "value": list(c.values())})


def cli_wc_juice(key, grp: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"word": [key], "cnt": [int(grp["value"].sum())]})


def mj_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount via the generic maple/juice API (hash shuffle).

    Maple: text → (word, 1) pairs (lowered, whitespace-split) — the analog
    of a wc maple exe emitting K,V lines. Juice: per-key sum. Runs on the
    pandas escape-hatch path on purpose: it proves the generic MR surface.
    """
    # r14: catalog.spread — the maple stage otherwise runs as ONE pandas
    # batch over the single-row-group local scan (integer counts,
    # partitioning-free; the reference CLI's num_maples knob, derived)
    docs = spread(table(spark, sf_dir, "documents").select("text"))
    kv = maple(docs, cli_wc_maple, "key string, value int")
    return juice(kv, cli_wc_juice, "word string, cnt bigint", shuffle="hash")


ORACLE["mj_wordcount"] = """
SELECT word, count(*)::BIGINT AS cnt
FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
    FROM documents
)
WHERE length(word) > 0
GROUP BY word
"""


def mj_exe_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount through the reference's ARBITRARY-EXECUTABLE contract:
    ``maple <exe>`` / ``juice <exe>`` run real external programs speaking
    the hadoop-streaming line protocol (MapleJuice.java task loop; hash
    placement MapleJuice.java:677), piped via RDD ``pipe``. The mapper
    emits (word, 1) lines; the reducer streams sorted key groups. Shares
    mj_wordcount's oracle: the exe path must produce value-identical
    counts to both the declarative path and DuckDB.
    """
    import shlex
    import sys

    from ..maplejuice import juice_pipe, maple_pipe

    mapper = (
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.lower().split():\n"
        "        print(f'{w}\\t1')\n"
    )
    reducer = (
        "import sys\n"
        "cur, acc = None, 0\n"
        "def flush():\n"
        "    if cur is not None:\n"
        "        print(f'{cur}\\t{acc}')\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n"
        "        flush(); cur, acc = k, 0\n"
        "    acc += int(v)\n"
        "flush()\n"
    )
    # r14: catalog.spread — otherwise ONE external pipe process maps the
    # whole corpus (the reference always passes num_maples > 1)
    docs = spread(table(spark, sf_dir, "documents").select("text"))
    # each program travels in its command line (pipe shlex-splits it), so
    # no call writes a file another call's lazy pipe may be starting
    kv = maple_pipe(docs, f"{sys.executable} -c {shlex.quote(mapper)}")
    out = juice_pipe(kv, f"{sys.executable} -c {shlex.quote(reducer)}", num_juices=8)
    return out.select(
        F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt")
    )


ORACLE["mj_exe_wordcount"] = ORACLE["mj_wordcount"]


# ------------------------------------------------------------------ A3
def mj_range_topkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts via juice with RANGE shuffle (shuffle_option=2,
    JuiceJob.java:3) — reducers own contiguous key ranges."""
    ev = table(spark, sf_dir, "events").select(F.col("event_type").alias("key"))

    def count_juice(key, grp: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"event_type": [key], "n": [len(grp)]})

    return juice(ev, count_juice, "event_type string, n bigint", shuffle="range", num_juices=4)


ORACLE["mj_range_topkeys"] = """
SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY event_type
"""


# ------------------------------------------------------------------ A7
def webgraph_inlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebGraph in-link count (app/WebGraph.java, wg_maple.py/wg_juice.py):
    filter edges whose target ∈ [1,3], count in-links per target.

    Edge list here: lineitem (l_orderkey → l_suppkey). Declarative
    filter+groupBy = map-side combine then a 3-key shuffle; the filter is
    pushed to the parquet scan.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_suppkey") >= 1) & (F.col("l_suppkey") <= 3))
        .groupBy(F.col("l_suppkey").alias("node"))
        .agg(F.count(F.lit(1)).alias("inlinks"))
    )


ORACLE["webgraph_inlinks"] = """
SELECT l_suppkey AS node, count(*) AS inlinks
FROM lineitem
WHERE l_suppkey BETWEEN 1 AND 3
GROUP BY l_suppkey
"""


# ------------------------------------------------------------------ A8
def _ballots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ballots for the Condorcet election: each order ranks the suppliers
    it touches by first line number (a deterministic stand-in for the
    reference's A,B,C ballot files).

    Pre-partitioned on l_orderkey: HashPartitioning(l_orderkey) satisfies
    the clustered distribution of BOTH this (l_orderkey, l_suppkey)
    groupBy (subset rule) and the pairwise sort-merge self-join on
    l_orderkey in :func:`condorcet_pairs`, so the ballot relation is
    shuffled exactly once: one ``Exchange hashpartitioning(l_orderkey)``
    feeds the aggregate, and the second join side reads it back as a
    ``ReusedExchange`` — stage 1 at the reference's 100 MB baseline
    scale: 9.9 → 4.0 s."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.min("l_linenumber").alias("rk"))
    )


_BALLOTS_SQL = """
    SELECT l_orderkey, l_suppkey, min(l_linenumber) AS rk
    FROM lineitem GROUP BY l_orderkey, l_suppkey
"""


def condorcet_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condorcet stage 1 (app/Win1.java, win_maple1.py/win_juice1.py):
    explode each ballot into pairwise matchups keyed lo#hi with a 0/1 vote
    (1 = lo preferred), majority-reduce per pair.

    Self-join of the ballot relation on orderkey gives every ordered pair
    exactly once (rk_a < rk_b); a single groupBy replaces the reference's
    intermediate-file shuffle. The join is hinted to a sort-merge join so
    both sides read the one l_orderkey exchange :func:`_ballots` builds.
    Unhinted, a ballot relation under the broadcast threshold plans as a
    broadcast join, one more Spark job per call; above it Spark picks this
    same sort-merge join on its own, so the hint costs nothing at scale
    (a shuffled-hash join would instead hold a hash table per partition).
    """
    b = _ballots(spark, sf_dir)
    a = b.alias("a")
    c = b.alias("c").hint("merge")
    pairs = (
        a.join(c, (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
               & (F.col("a.rk") < F.col("c.rk")))
        .select(
            F.least("a.l_suppkey", "c.l_suppkey").alias("cand_lo"),
            F.greatest("a.l_suppkey", "c.l_suppkey").alias("cand_hi"),
            # win_maple1.py: emit 1 when the winner sorts first in the key
            F.when(F.col("a.l_suppkey") < F.col("c.l_suppkey"), 1).otherwise(0).alias("vote"),
        )
    )
    return (
        pairs.groupBy("cand_lo", "cand_hi")
        .agg(
            F.sum("vote").alias("lo_wins"),
            F.sum(1 - F.col("vote")).alias("hi_wins"),
        )
        # win_juice1.py: count1 > count0 → first candidate dominates
        .withColumn(
            "pair_winner",
            F.when(F.col("lo_wins") > F.col("hi_wins"), F.col("cand_lo")).otherwise(F.col("cand_hi")),
        )
    )


ORACLE["condorcet_pairs"] = f"""
WITH ballots AS ({_BALLOTS_SQL}),
votes AS (
    SELECT least(a.l_suppkey, c.l_suppkey)    AS cand_lo,
           greatest(a.l_suppkey, c.l_suppkey) AS cand_hi,
           CASE WHEN a.l_suppkey < c.l_suppkey THEN 1 ELSE 0 END AS vote
    FROM ballots a JOIN ballots c
      ON a.l_orderkey = c.l_orderkey AND a.rk < c.rk
)
SELECT cand_lo, cand_hi,
       sum(vote)::BIGINT     AS lo_wins,
       sum(1 - vote)::BIGINT AS hi_wins,
       CASE WHEN sum(vote) > sum(1 - vote) THEN cand_lo ELSE cand_hi END AS pair_winner
FROM votes GROUP BY cand_lo, cand_hi
"""


# ------------------------------------------------------------------ A9
def condorcet_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condorcet stage 2 (app/Win2.java, win_juice2.py): count pairwise
    wins per candidate; a candidate beating all n-1 others is the
    Condorcet winner.

    Reference hardcodes wins==2 for 3 candidates (win_juice2.py); this
    generalizes to wins == n_candidates - 1. Emits per-candidate win
    counts + the is_condorcet flag (SQL-expressible, unlike the
    reference's free-text verdict line).

    The pair matrix has ONE consumer, so its subtree (the ballots
    shuffle and self-join) runs once without being pinned: each pair
    becomes a (cand, won) row for both of its candidates (won = 1 for the
    pair's winner, 0 for the loser), and one groupBy(cand) yields every
    candidate that appears in a pair with its wins, zeros included.
    n_candidates is a window count over that one-row-per-candidate
    result (≤ C(n, 2) pairs in, n rows out), the only single-partition
    step of the plan.
    """
    pairs = condorcet_pairs(spark, sf_dir)
    wins = (
        pairs.select(F.inline(F.array(*(
            F.struct(F.col(side).alias("cand"),
                     (F.col("pair_winner") == F.col(side)).cast("int").alias("won"))
            for side in ("cand_lo", "cand_hi")
        ))))
        .groupBy("cand")
        .agg(F.sum("won").alias("wins"))
    )
    n_cand = F.count(F.lit(1)).over(Window.partitionBy())
    return wins.select("cand", "wins", (F.col("wins") == n_cand - 1).alias("is_condorcet"))


ORACLE["condorcet_winner"] = f"""
WITH ballots AS ({_BALLOTS_SQL}),
votes AS (
    SELECT least(a.l_suppkey, c.l_suppkey)    AS cand_lo,
           greatest(a.l_suppkey, c.l_suppkey) AS cand_hi,
           CASE WHEN a.l_suppkey < c.l_suppkey THEN 1 ELSE 0 END AS vote
    FROM ballots a JOIN ballots c
      ON a.l_orderkey = c.l_orderkey AND a.rk < c.rk
),
pairs AS (
    SELECT cand_lo, cand_hi,
           CASE WHEN sum(vote) > sum(1 - vote) THEN cand_lo ELSE cand_hi END AS pair_winner
    FROM votes GROUP BY cand_lo, cand_hi
),
cands AS (
    SELECT DISTINCT cand FROM (
        SELECT cand_lo AS cand FROM pairs UNION ALL SELECT cand_hi FROM pairs
    )
),
wins AS (
    SELECT pair_winner AS cand, count(*)::BIGINT AS wins FROM pairs GROUP BY pair_winner
)
SELECT c.cand,
       coalesce(w.wins, 0)::BIGINT AS wins,
       coalesce(w.wins, 0) = (SELECT count(*) FROM cands) - 1 AS is_condorcet
FROM cands c LEFT JOIN wins w ON c.cand = w.cand
"""


# ------------------------------------------------------------------ A10
def grep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (the canonical maple-only job): documents whose
    text contains 'join' in English — filter pushed to the scan."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.where((F.col("lang") == "en") & F.col("text").contains("join"))
        .select("doc_id", "source", "n_chars")
    )


ORACLE["grep_filter"] = """
SELECT doc_id, source, n_chars
FROM documents
WHERE lang = 'en' AND text LIKE '%join%'
"""


def sdfs_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible SDFS namespace lifecycle (A5, the reference's
    SdfsServer.java file ops re-expressed): put the customer table into
    a fresh namespace, CDC-MERGE an update batch (every 10th customer's
    balance bumped by 1000), COMPACT the fragmented table, read the
    final state back. The oracle replays the merge in SQL, so a lost
    row, duplicated key, or value corrupted anywhere in the
    put→merge→compact→get chain breaks the hash. Balance totals travel
    as exact decimal sums (dec_sum pattern) — no order-dependent float
    folds."""
    import tempfile

    from ..reliability import pin
    from ..sdfs import Sdfs

    cust = table(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    with tempfile.TemporaryDirectory(prefix="grapefruit_sdfs_sim_") as wh:
        fs = Sdfs(spark, wh)
        fs.put(cust, "cust_sim")
        fs.merge("cust_sim", updates, ["c_custkey"])
        fs.compact("cust_sim", target_files=2)
        final = fs.get("cust_sim").select(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("c_custkey") % 10 == 0).cast("long")).alias("n_bumped"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("bal_total"),
        )
        return pin(final)  # reads no file of the namespace removed here


ORACLE["sdfs_sim"] = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bumped,
       round(sum((CASE WHEN c_custkey % 10 = 0
                       THEN c_acctbal + 1000.0
                       ELSE c_acctbal END)::DECIMAL(18,6)), 2)::DOUBLE
           AS bal_total
FROM customer
"""


# ----------------------------------------------------------------- A11/A12
def cli_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CLI lifecycle (A12) + membership introspection
    (A11): the full reference session a user types at the prompt —
    ``put`` the documents table into a fresh namespace, ``maple`` a
    wordcount exe over it, ``juice`` the keyed output with
    ``--delete-input`` (the reference's delete_input flag), then
    ``ls``/``store`` the namespace and ``info``/``members`` the node —
    every step THROUGH cli.main()'s argv surface, nothing called as a
    library. The returned frame is the juice output read back from the
    temporary warehouse and pinned before that warehouse is removed,
    hash-checked against mj_wordcount's oracle, so a row
    lost anywhere in put→maple→juice→get breaks the gate; the
    introspection JSON shapes (CLI surface of MembershipServer.java's
    ls/info) are asserted in-sim and any violation raises into the
    driver's err column.

    Scale: the only data-sized work is mj_wordcount's own maple/juice
    pipeline (map-side combined, hash shuffle on the key); the CLI adds
    argv parsing and a namespace listing — nothing per-row.
    """
    import contextlib
    import io
    import json
    import tempfile

    from ..cli import main as cli_main
    from ..reliability import pin
    from ..sdfs import Sdfs

    exe = "grapefruit_spark.operators.mapreduce_apps"

    def run(argv: list[str]) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli_main(argv, spark)
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]!r} exited {rc}")
        return buf.getvalue()

    with tempfile.TemporaryDirectory(prefix="grapefruit_cli_sim_") as wh:
        run(["--warehouse", wh, "put", f"{sf_dir}/documents.parquet", "docs"])
        run(
            ["--warehouse", wh, "maple", f"{exe}:cli_wc_maple", "4", "kv", "docs",
             "--schema", "key string, value int"]
        )
        run(
            ["--warehouse", wh, "juice", f"{exe}:cli_wc_juice", "4", "kv", "counts",
             "--schema", "word string, cnt bigint", "--delete-input"]
        )
        parts = run(["--warehouse", wh, "ls", "counts"]).strip().splitlines()
        if not parts:
            raise RuntimeError("ls counts: no part files")
        names = set(run(["--warehouse", wh, "store"]).split())
        if "counts" not in names or "kv" in names:
            raise RuntimeError(f"namespace after delete-input: {sorted(names)}")
        node = json.loads(run(["info"]))
        if node.get("status") != "ALIVE" or not node.get("app_id"):
            raise RuntimeError(f"info: {node}")
        mem = json.loads(run(["members"]))
        if len(mem) < 1 or any(e.get("status") != "ALIVE" for e in mem):
            raise RuntimeError(f"members: {mem}")
        # reads no file of the warehouse removed here
        return pin(Sdfs(spark, wh).get("counts"))


ORACLE["cli_sim"] = ORACLE["mj_wordcount"]


QUERIES = {
    "mj_wordcount": mj_wordcount,
    "mj_exe_wordcount": mj_exe_wordcount,
    "sdfs_sim": sdfs_sim,
    "mj_range_topkeys": mj_range_topkeys,
    "webgraph_inlinks": webgraph_inlinks,
    "condorcet_pairs": condorcet_pairs,
    "condorcet_winner": condorcet_winner,
    "grep_filter": grep_filter,
    "cli_sim": cli_sim,
}
