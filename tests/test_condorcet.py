"""condorcet_winner on hand-built ballots, against its DuckDB oracle and
against the hand-counted answer.

The sf0.001 snapshot has none of the edge cases the stage-2 reduce must
get right: a candidate with no pairwise win must still be listed with
wins = 0, and a candidate can win every pair it is in without being the
Condorcet winner when it never meets some other candidate on a ballot."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from grapefruit_spark.operators.mapreduce_apps import ORACLE, condorcet_winner

from .util import assert_matches_oracle


def _write_ballots(sf_dir, ballots: list[list[int]]) -> None:
    """One order per ballot; its lines list candidates (l_suppkey) from
    most to least preferred (l_linenumber 1, 2, ...)."""
    rows = [(voter, cand, rank)
            for voter, ballot in enumerate(ballots)
            for rank, cand in enumerate(ballot, start=1)]
    voters, cands, ranks = zip(*rows)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(voters, pa.int64()),
        "l_suppkey": pa.array(cands, pa.int64()),
        "l_linenumber": pa.array(ranks, pa.int32()),
    }), sf_dir / "lineitem.parquet")


CASES = {
    # 1 beats 2 (2 of 3 ballots) and 3 (3 of 3); 2 beats 3 (2 of 3)
    "clear_winner": ([[1, 2, 3], [1, 3, 2], [2, 1, 3]],
                     {1: (2, True), 2: (1, False), 3: (0, False)}),
    # a 1 > 2 > 3 > 1 cycle, and 4 ranked last by everyone: 4 has no win
    # and still appears; nobody beats all three others
    "zero_wins": ([[1, 2, 3, 4], [2, 3, 1, 4], [3, 1, 2, 4]],
                  {1: (2, False), 2: (2, False), 3: (2, False), 4: (0, False)}),
    # 1 and 2 never share a ballot: 1 wins the only pair it is in, yet
    # with three candidates a winner needs two wins
    "never_met": ([[1, 3], [2, 3]],
                  {1: (1, False), 2: (1, False), 3: (0, False)}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_condorcet_winner_hand_built_ballots(spark, tmp_path, case):
    ballots, expected = CASES[case]
    _write_ballots(tmp_path, ballots)
    df = condorcet_winner(spark, str(tmp_path))
    got = {r["cand"]: (r["wins"], r["is_condorcet"]) for r in df.collect()}
    assert got == expected
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'")
    assert_matches_oracle(df, con, ORACLE["condorcet_winner"])
