"""reliability.pin / unpin when several threads share one SparkContext.

The interactive setting has several clients in one session, so a pin must
record the RDD it materialized itself — never one another thread persisted
at the same moment — and unpin must release only that RDD. ``pin`` is the
package's one way to materialize a frame: nothing it builds is served from
the session's plan-matched cache, so a query reads its input files as they
are when it runs."""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading

from pyspark.sql.classic.dataframe import DataFrame

from grapefruit_spark.reliability import pin, unpin

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_pin_is_the_only_materialization_in_the_package():
    """No module but reliability.py persists, caches or checkpoints a frame:
    ``persist``/``cache`` register it in the session's CacheManager, and a
    raw ``localCheckpoint`` skips pin's durable-checkpoint rule."""
    root = os.path.join(REPO, "grapefruit_spark")
    banned = re.compile(r"\.persist\(|\.cache\(\)|\.localCheckpoint\(|\.checkpoint\(|StorageLevel")
    offenders = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".py") and p != os.path.join(root, "reliability.py"):
                with open(p, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if banned.search(line):
                            offenders.append(f"{os.path.relpath(p, REPO)}:{i}")
    assert offenders == [], f"materialize through reliability.pin: {offenders}"


def test_dedup_minhash_reads_a_replaced_file_afresh(spark, tmp_path):
    """A second call after the documents file is replaced answers for the
    new file: no signature frame of the first call is served by path."""
    from grapefruit_spark.operators.dedup import dedup_minhash

    def pairs(sf_dir):
        return sorted(tuple(r) for r in dedup_minhash(spark, sf_dir).collect())

    larger = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    path = tmp_path / "documents.parquet"
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), path)
    old = pairs(str(tmp_path))
    fresh = pairs(larger)
    assert old != fresh  # the two inputs must tell the answers apart
    shutil.copy(os.path.join(larger, "documents.parquet"), tmp_path / "next.parquet")
    os.replace(tmp_path / "next.parquet", path)
    assert pairs(str(tmp_path)) == fresh
