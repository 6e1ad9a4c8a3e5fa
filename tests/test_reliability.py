"""reliability.pin / unpin when several threads share one SparkContext.

The interactive setting has several clients in one session, so a pin must
record the RDD it materialized itself — never one another thread persisted
at the same moment — and unpin must release only that RDD."""

from __future__ import annotations

import sys
import threading

from pyspark.sql.classic.dataframe import DataFrame

from grapefruit_spark.reliability import pin, unpin


def _own_rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_pin_records_its_own_rdd_when_another_is_persisted_meanwhile(spark, monkeypatch):
    """Another thread persisting an RDD while localCheckpoint runs must not
    change the id pin records (deterministic form of the race)."""
    others = []
    orig = DataFrame.localCheckpoint

    def checkpoint_and_persist_another(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        others.append(spark.sparkContext.parallelize([1, 2, 3]).persist())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint_and_persist_another)
    try:
        out = pin(spark.range(100))
        assert out._pin_rdd_id == _own_rdd_id(out)
        assert out._pin_rdd_id != others[0].id()
        assert out.count() == 100
        unpin(out)
        assert out._pin_rdd_id not in _persistent_ids(spark)
        assert others[0].id() in _persistent_ids(spark)
    finally:
        for rdd in others:
            rdd.unpersist()


def test_lazy_pin_records_its_own_rdd(spark):
    out = pin(spark.range(10), eager=False)
    assert out._pin_rdd_id == _own_rdd_id(out)
    assert out.count() == 10
    unpin(out)
    assert out._pin_rdd_id not in _persistent_ids(spark)


def test_concurrent_pins_release_only_their_own_blocks(spark):
    """Two threads, 40 rounds each of pin → count → unpin: every pin carries
    its own id, every count reads its own blocks (an unpin of the wrong RDD
    fails a read with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and no pin is
    left behind."""
    before = _persistent_ids(spark)
    rounds, wrong, errors = 40, [], []

    def client(k: int) -> None:
        try:
            for i in range(rounds):
                n = 50 + 7 * k + i
                out = pin(spark.range(n).selectExpr("id", "id * 2 AS twice"))
                if out._pin_rdd_id != _own_rdd_id(out):
                    wrong.append((k, i))
                assert out.count() == n
                unpin(out)
        except Exception as e:  # a failed read fails the test below
            errors.append(f"client {k}: {e}")

    threads = [threading.Thread(target=client, args=(k,)) for k in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a pin client did not finish"
    assert not errors, errors[0][:800]
    assert not wrong, f"{len(wrong)} of {2 * rounds} pins carried another RDD's id"
    assert _persistent_ids(spark) - before == set()
