"""Unified batch sources/sinks (SURVEY §2 block E).

The reference moves whole files through SDFS (put/get); the Spark-native
equivalent is format-aware datasets with schema, partitioning, and
pushdown. parquet is the primary format; csv/json/text cover the
reference's line-oriented inputs (maple exes consumed text lines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "orc", "csv", "json", "text", "avro")
# avro needs the spark-avro package; read_any/write_any raise a clear error
# if the runtime lacks it (import-gated, per the environment contract)


from contextlib import contextmanager


@contextmanager
def _clear_module_error(fmt: str):
    """avro ships as an external Spark module; translate the data-source
    lookup failure into a clear deployment message."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        yield
    except AnalysisException as e:
        if fmt == "avro" and "Failed to find data source" in str(e):
            raise RuntimeError(
                "avro support requires the spark-avro module "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>); "
                "it is not deployed in this runtime"
            ) from None
        raise


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"format must be one of {FORMATS}, got {fmt!r}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
    with _clear_module_error(fmt):
        return reader.options(**options).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    dynamic_overwrite: bool = False,
    **options: str,
) -> None:
    """Write a dataset; ``partition_by`` lays out hive-style directories so
    downstream scans get partition pruning; ``dynamic_overwrite`` replaces
    only the partitions present in ``df`` (the idempotent-backfill mode a
    100 TB pipeline needs). The mode is a per-write option: the session's
    ``partitionOverwriteMode`` is never touched, so a concurrent static
    overwrite by another client of the session stays static."""
    if fmt not in FORMATS:
        raise ValueError(f"format must be one of {FORMATS}, got {fmt!r}")
    if fmt == "csv":
        options.setdefault("header", "true")
    if dynamic_overwrite:
        options["partitionOverwriteMode"] = "dynamic"
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with _clear_module_error(fmt):
        writer.save(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 4,
) -> None:
    """Cluster-by-key layout: range-partition on the sort key, sort within
    each file, then write — every output file owns a disjoint key range
    and its parquet row-group min/max stats are tight, so a selective
    scan skips whole files/row groups instead of reading them (the
    single-key version of Z-ordering; at 100 TB layout IS the index).
    """
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


ZORDER_BITS = 16


def zorder_value(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a ``_z`` column: the Morton (Z-order) interleave of the
    given numeric columns' rank spaces.

    Each column is min-max scaled to a ZORDER_BITS integer (bounds from
    one tiny agg, broadcast as literals), then bits interleave round-robin
    — pure JVM expressions, no UDF. Sorting by ``_z`` gives every output
    file a small hyper-rectangle of the combined key space, so parquet
    min/max stats stay tight on EVERY interleaved column at once —
    multi-dimensional file skipping where a single-column sort only
    serves its leading column.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).first()
    scaled = []
    top = (1 << ZORDER_BITS) - 1
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
            ).cast("bigint")
        )
    z = F.lit(0).cast("bigint")
    # interleave: output bit (b*K + j) takes bit b of column j
    for b in range(ZORDER_BITS - 1, -1, -1):
        for s in scaled:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(s, b).bitwiseAND(F.lit(1)).cast("bigint")
            )
    return df.withColumn("_z", z)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 4,
) -> None:
    """Multi-dimensional clustered layout: range-partition + sort on the
    Z-value of ``cols`` so selective scans on ANY of the clustered
    columns skip files via parquet min/max stats — the layout Delta/
    Iceberg OPTIMIZE ZORDER produces, from first principles. ``_z`` is
    dropped before writing; the clustering lives purely in row order.
    """
    from pyspark.sql import functions as F

    (
        zorder_value(df, cols)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
