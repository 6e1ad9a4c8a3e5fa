"""MapleJuice-parity generic MapReduce on DataFrames.

Reference semantics (/root/reference/src/main/java/edu/cs425/mp3):
- ``maple <exe> <num_maples> ...`` (MapleJuice.java:~400): split input
  across N tasks, run a user program per chunk emitting (key, value) lines.
- ``juice <exe> <num_juices> ... shuffle_option={1,2}`` (MapleJuice.java:451,
  667-681): group intermediate data by key, place key-groups on reducers by
  hash (``Math.abs(hashCode) % taskNum``) or range partitioning
  (JuiceJob.java:3), run a reduce program per key-group.

Spark-first re-expression: a "maple" is a partition-parallel flatMap and a
"juice" is a shuffle-on-key + per-key reduce. User logic arrives as a
pandas function (Arrow-batched — never row-at-a-time), but both phases
also accept declarative Column expressions, which keep the whole job in
JVM codegen; that is the 100 TB path, the pandas path is the escape hatch
for logic Spark can't express.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MapleFn = Callable[[pd.DataFrame], pd.DataFrame]
JuiceFn = Callable[[Any, pd.DataFrame], pd.DataFrame]


def maple(
    df: DataFrame,
    fn: MapleFn,
    output_schema: str,
    num_maples: int | None = None,
) -> DataFrame:
    """Maple phase: apply ``fn`` to Arrow batches of input rows.

    ``fn`` maps a pandas DataFrame of input records to a pandas DataFrame
    matching ``output_schema`` (typically key/value columns) — the analog
    of the reference's per-chunk executable emitting (K,V) lines.
    ``num_maples`` mirrors the CLI knob; by default Spark's own input
    partitioning decides (the right call on a real cluster).
    """
    if num_maples is not None:
        df = df.repartition(num_maples)

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = fn(pdf)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(run, schema=output_schema)


def juice(
    kv: DataFrame,
    fn: JuiceFn,
    output_schema: str,
    key: str = "key",
    num_juices: int | None = None,
    shuffle: str = "hash",
    fs=None,
    src_name: str | None = None,
    dest_name: str | None = None,
    delete_input: bool = False,
) -> DataFrame:
    """Juice phase: shuffle on ``key`` then reduce each key-group.

    ``shuffle='hash'`` → ``repartition(n, key)`` (reference shuffle_option=1,
    MapleJuice.java:677); ``'range'`` → ``repartitionByRange`` (option 2).
    The reduce runs per-partition with a pandas groupby, so there is exactly
    ONE shuffle — the explicit one — and every group is complete because
    both placements are key-deterministic.

    ``delete_input`` mirrors the reference's ``juice ... delete_input={0,1}``
    (JuiceJob.java:12): with ``fs``/``src_name``/``dest_name`` given, the
    output is materialized into the SDFS namespace first, then the consumed
    input dataset is deleted — never before the write succeeds.
    """
    n = num_juices or kv.sparkSession.conf.get("spark.sql.shuffle.partitions")
    n = int(n)
    if shuffle == "hash":
        placed = kv.repartition(n, key)
    elif shuffle == "range":
        placed = kv.repartitionByRange(n, key)
    else:
        raise ValueError(f"shuffle must be 'hash' or 'range', got {shuffle!r}")

    def run(batches: Iterable[pd.DataFrame]):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        whole = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        for k, grp in whole.groupby(key, sort=False):
            out = fn(k, grp)
            if out is not None and len(out):
                yield out

    reduced = placed.mapInPandas(run, schema=output_schema)
    return _finish_juice(reduced, fs, src_name, dest_name, delete_input)


def _finish_juice(out: DataFrame, fs, src_name: str | None,
                  dest_name: str | None, delete_input: bool) -> DataFrame:
    """Shared delete_input contract: materialize to SDFS, then reclaim the
    consumed input (reference JuiceJob.java:12 semantics)."""
    if fs is not None and dest_name is not None:
        fs.put(out, dest_name)
        if delete_input and src_name is not None:
            fs.delete(src_name)
        return fs.get(dest_name)
    if delete_input:
        raise ValueError(
            "delete_input requires fs + src_name + dest_name: a lazy juice "
            "has no stored input to delete"
        )
    return out


def maple_expr(df: DataFrame, key: F.Column, value: F.Column) -> DataFrame:
    """Declarative maple: key/value column expressions, pure codegen."""
    return df.select(key.alias("key"), value.alias("value"))


def juice_agg(kv: DataFrame, agg: F.Column, key: str = "key") -> DataFrame:
    """Declarative juice: Catalyst groupBy-agg (partial agg + one shuffle)."""
    return kv.groupBy(key).agg(agg)


class MapleJuicePipeline:
    """Multi-stage chaining. Default mode composes stages lazily into ONE
    Catalyst plan (no intermediate materialization — strictly better than
    the reference's file-per-stage execution). Passing ``fs`` plus
    per-stage ``dest_name``s reproduces the reference's materialized mode
    instead: each stage writes its output to the SDFS namespace before the
    next reads it, and ``juice(..., delete_input=True)`` reclaims the
    consumed intermediate after the stage output is durably written — the
    reference's ``juice ... delete_input={0,1}`` contract
    (/root/reference/src/main/java/edu/cs425/mp3/JuiceJob.java:12, honored
    by the juice handler in MapleJuice.java).
    """

    def __init__(self, df: DataFrame, fs=None, stage_name: str | None = None):
        self.df = df
        self.fs = fs
        #: SDFS name this pipeline's current frame was materialized under
        #: (None in lazy mode) — the thing delete_input deletes
        self.stage_name = stage_name

    def _next(self, out: DataFrame, dest_name: str | None, delete_input: bool):
        out = _finish_juice(out, self.fs, self.stage_name, dest_name, delete_input)
        return MapleJuicePipeline(out, self.fs, dest_name if self.fs is not None else None)

    def maple(self, fn: MapleFn, output_schema: str, num_maples: int | None = None,
              dest_name: str | None = None):
        return self._next(maple(self.df, fn, output_schema, num_maples), dest_name, False)

    def juice(self, fn: JuiceFn, output_schema: str, key: str = "key",
              num_juices: int | None = None, shuffle: str = "hash",
              dest_name: str | None = None, delete_input: bool = False):
        out = juice(self.df, fn, output_schema, key, num_juices, shuffle)
        return self._next(out, dest_name, delete_input)

    def done(self) -> DataFrame:
        return self.df


# ---------------------------------------------------------------- exe pipe
def maple_pipe(df: DataFrame, exe: str) -> DataFrame:
    """The reference's EXACT executable contract (``maple <exe>``,
    MapleJuice.java task loop): each input row is fed to ``exe`` as one
    TSV line on stdin; the program emits ``key\\tvalue`` lines.

    RDD ``pipe`` is the deliberate exception to the DataFrame-first rule:
    an arbitrary external program IS per-partition imperative logic — one
    process per partition, rows streamed through, output re-ingested as a
    (key, value) DataFrame for the juice shuffle.
    """
    lines = df.rdd.map(
        lambda r: "\t".join("" if v is None else str(v) for v in r)
    ).pipe(exe)
    return _kv_lines_frame(df.sparkSession, lines)


def _kv_lines_frame(spark, lines) -> DataFrame:
    """An executable's ``key\\tvalue`` output lines as a (key, value)
    DataFrame; a line with no tab is dropped."""
    kv = (
        lines.map(lambda ln: ln.split("\t", 1))
        .filter(lambda p: len(p) == 2)
        .map(lambda p: (p[0], p[1]))
    )
    return spark.createDataFrame(kv, "key string, value string")


def juice_pipe(
    kv: DataFrame,
    exe: str,
    num_juices: int = 4,
    fs=None,
    src_name: str | None = None,
    dest_name: str | None = None,
    delete_input: bool = False,
) -> DataFrame:
    """``juice <exe>`` with hash shuffle (shuffle_option=1): key-groups are
    hash-placed on ``num_juices`` reducers (Math.abs(hashCode) % N in the
    reference), sorted within each reducer, and streamed through ``exe``
    as sorted ``key\\tvalue`` lines — hadoop-streaming-identical, so any
    streaming reducer binary runs unchanged.
    """
    from pyspark.rdd import portable_hash

    parted = (
        kv.rdd.map(lambda r: (str(r[0]), str(r[1])))
        .repartitionAndSortWithinPartitions(
            # portable_hash, not builtin hash: python string hashing is
            # process-seeded, which would scatter a key across reducers
            # on a real multi-executor cluster
            numPartitions=num_juices, partitionFunc=lambda k: abs(portable_hash(k))
        )
    )
    out = parted.map(lambda p: f"{p[0]}\t{p[1]}").pipe(exe)
    reduced = _kv_lines_frame(kv.sparkSession, out)
    return _finish_juice(reduced, fs, src_name, dest_name, delete_input)
