"""SparkSession factory tuned for the Grapefruit-parity engine.

The reference (MapleJuice) hand-schedules tasks over VMs
(/root/reference/src/main/java/edu/cs425/mp3/MapleJuice.java); here the
equivalent knobs are Spark confs: AQE for runtime re-planning (the
reference's re-scheduling on failure), shuffle partition sizing (its
``num_maples``/``num_juices``), and Arrow for the Python escape hatches.
"""

from __future__ import annotations

import atexit
import os
import threading

from pyspark.sql import SparkSession

# Confs chosen to also hold at cluster scale: AQE coalesces/skew-splits
# shuffle partitions at runtime, so the static shuffle.partitions value is
# an upper bound, not a tuning landmine.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # every parquet writer (Sdfs, the streaming sink, bucketed tables, the
    # sims) writes zstd instead of snappy. sdfs_cdc benchmark, 4-vCPU VM,
    # medians of 10 pairs: 17.87 -> 12.74 stored bytes per row, job p50
    # 0.542 -> 0.557 s (merge CPU; inside run-to-run spread), read p50
    # 0.158 -> 0.155 s. Readers need nothing: each column chunk records
    # its own codec
    "spark.sql.parquet.compression.codec": "zstd",
    # push whole MIN/MAX/COUNT aggregates into parquet footers when the
    # query shape allows — a metadata read instead of a 100 TB scan
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.parquet carries TIMESTAMP(NANOS); read as long, catalog converts
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # managed-table home for bucketed datasets (static conf; session-scoped
    # in-memory catalog, parquet files live here)
    "spark.sql.warehouse.dir": "/tmp/grapefruit_spark_warehouse",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    # reliable checkpoints (reliability.pin with SPARK_GRAFT_CHECKPOINT_DIR)
    # are reference-tracked and GC'd once their RDD is unreachable —
    # without this an iterative job leaks one checkpoint dir per round
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Python workers (maple/juice pandas functions, every Arrow UDF) fork
    # from grapefruit_spark.pyworker: pyspark.daemon without the per-task
    # re-read of the zip directories of pyspark.zip and the spark-core jar,
    # 54-80 ms of CPU per task on a 4-vCPU VM
    "spark.python.daemon.module": "grapefruit_spark.pyworker",
    # JVM <-> worker over a Unix socket: over loopback TCP each task also
    # waited ~40 ms (the delayed-ACK minimum) for its first Arrow input.
    # Executor run time per Python task on a 4-vCPU VM: stock 86 ms, this
    # conf alone 78, the daemon alone 49, both 12
    "spark.python.unix.domain.socket.enabled": "true",
    # a fixed short deployment path, like the warehouse: an AF_UNIX path
    # holds 107 bytes and the socket's own name takes 42; under Spark's
    # default dir (java.io.tmpdir) a deep temp dir failed session start
    "spark.python.unix.domain.socket.dir": "/tmp",
    # workers import the daemon above and unpickle module-level functions
    # (cli_wc_maple) by reference, from whatever directory the driver runs in
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
}


# the session get_spark last returned, stopped at interpreter exit: a
# script that never calls stop() otherwise leaves the accumulator
# server's /tmp/.<uuid>.sock behind
_built: SparkSession | None = None
_built_lock = threading.Lock()


def _stop_at_exit() -> None:
    if _built._sc._jsc is not None:  # None once stopped; the gateway may be gone
        _built.stop()


def get_spark(app_name: str = "grapefruit-spark", master: str | None = None) -> SparkSession:
    """Return a (possibly shared) SparkSession with engine defaults applied."""
    global _built
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    with _built_lock:
        if _built is None:
            # registered after getOrCreate launched the gateway, so it
            # runs before PySpark's own atexit gateway kill (handlers run
            # last-in first-out)
            atexit.register(_stop_at_exit)
        _built = spark
    return spark


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally built session.

    The driver hands us its own SparkSession in ``__spark_entry__``; static
    confs (memory, master) are fixed by then, but SQL confs still apply.
    The Python worker confs are static too: such a session keeps Spark's
    stock daemon and TCP sockets, and its workers import this package
    only if it is on their ``sys.path`` already.
    """
    for k, v in _BASE_CONFS.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:  # immutable conf on this build — keep going
                pass
    return spark
