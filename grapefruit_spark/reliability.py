"""Lineage truncation with opt-in durable checkpointing.

Iterative operators (connected components, PageRank, triangle counting)
must truncate lineage each round or the plan grows without bound. Two
mechanisms exist:

- ``localCheckpoint`` — executor-local block storage. Fast (no
  replication write), but a lost executor loses its blocks and the JOB
  dies. Fine on local[*] and for short interactive runs.
- ``checkpoint`` — writes to the SparkContext checkpoint directory
  (HDFS/S3 on a cluster). Survives executor loss; this is the Spark
  analog of the reference's re-replication-on-failure durability
  (/root/reference/src/main/java/edu/cs425/mp3/SdfsServer.java — a
  failed replica's files are re-replicated from survivors, and MapleJuice
  re-schedules the failed task against the surviving copies).

``pin`` picks per-session: if a reliable checkpoint dir is configured
(``SparkContext.setCheckpointDir`` or the ``SPARK_GRAFT_CHECKPOINT_DIR``
env var), every iterative operator becomes fault-tolerant with no code
change; otherwise it degrades to the fast local mode. On a 1000-executor
cluster running hour-long iterative jobs, set the dir.

``pin`` is the package's only way to materialize a frame: no module calls
``persist``, ``cache``, ``localCheckpoint`` or ``checkpoint`` itself
(``tests/test_reliability.py`` scans for them). A pin is never registered
in the session's ``CacheManager``, which matches cached data by plan —
for a file source, by path — and so would serve one client's stale blocks
to another client, or to a later call after the file was replaced.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def reliable_dir(df: DataFrame) -> str | None:
    """The active reliable checkpoint dir, honoring the env-var opt-in."""
    sc = df.sparkSession.sparkContext
    ckdir = sc.getCheckpointDir()
    if ckdir:
        return ckdir
    envdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if envdir:
        sc.setCheckpointDir(envdir)
        return envdir
    return None


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Durable (``checkpoint``) when a reliable dir is configured, else
    executor-local (``localCheckpoint``). Both return a DataFrame whose
    plan is a flat scan of the materialized blocks, so iterative loops
    stay O(1) plan size per round.

    In local mode the returned frame carries the id of the RDD it pinned,
    read from its own plan (the ``LogicalRDD`` ``localCheckpoint`` builds),
    so :func:`unpin` can release it the moment a later iteration
    supersedes it — without that, a 10-round loop holds 10 generations of
    state in block storage simultaneously. The id never depends on what
    other threads of the same SparkContext persist meanwhile, so clients
    sharing one session each release only their own blocks.
    """
    if reliable_dir(df) is not None:
        return df.checkpoint(eager=eager)
    out = df.localCheckpoint(eager=eager)
    out._pin_rdd_id = out._jdf.queryExecution().logical().rdd().id()
    return out


def unpin(df: DataFrame) -> None:
    """Release the block storage held by a :func:`pin`'d frame.

    Call ONLY once nothing will read ``df`` again (e.g. the previous
    iteration's state after the next one is eagerly materialized). It
    releases exactly the RDD ``pin`` recorded on ``df``, never another
    thread's. No-op for frames pin() didn't mark (reliable checkpoints
    clean up via spark.cleaner.referenceTracking.cleanCheckpoints /
    sc.stop).
    """
    rid = getattr(df, "_pin_rdd_id", None)
    if rid is not None:
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rid, False)
