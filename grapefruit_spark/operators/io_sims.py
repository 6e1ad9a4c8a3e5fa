"""Driver-visible source/sink sims (SURVEY §2 E3/E5) — r10, VERDICT_r9
order #5. The write paths themselves live in sources/io.py and are
footer/behavior-asserted in pytest; these sims drive the same engine
features end-to-end (stage files → mutate → read back → profile) so the
driver's row/schema/hash gate proves the round trip on its own data,
exactly the sdfs_sim / write_layout_sim precedent.

Both sims are pure functions of the orders table (restricted to
non-null orderkeys so the profile is well-defined on hostile inputs),
so a plain-SQL oracle replays them with no filesystem at all.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, table
from ..reliability import pin

ORACLE: dict[str, str] = {}


# ------------------------------------------------------------------- E3
def write_partition_overwrite_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite round trip: stage orders
    hive-partitioned by o_orderpriority, then OVERWRITE only the
    1-URGENT partition with doubled totalprice through
    ``sources.io.write_any(..., dynamic_overwrite=True)`` (a per-write
    option — no session conf mutation). The read-back per-partition
    profile hashes against an oracle holding doubled prices for exactly
    that slice — proof the dynamic overwrite replaced the one partition
    present in the incoming frame and left every other partition
    byte-identical (a STATIC overwrite would have deleted them; a botched
    append would double-count).

    At 100 TB this is the nightly-restatement shape: rewrite one day /
    one priority class in place without touching sibling partitions.
    """
    from ..sources.io import write_any

    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    restated = orders.where(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2  # ×2 is exact in binary fp
    )
    with tempfile.TemporaryDirectory(prefix="gf_dynovr_sim_") as tmp:
        base = os.path.join(tmp, "orders_by_prio")
        write_any(orders, base, partition_by=["o_orderpriority"])
        write_any(restated, base, partition_by=["o_orderpriority"], dynamic_overwrite=True)
        back = read_parquet(spark, base)
        return pin(
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_orderkey").alias("key_sum"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )


ORACLE["write_partition_overwrite_sim"] = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum((CASE WHEN o_orderpriority = '1-URGENT'
                       THEN o_totalprice * 2 ELSE o_totalprice
                  END)::DECIMAL(18,6)), 2)::DOUBLE AS total
FROM orders
WHERE o_orderkey IS NOT NULL
GROUP BY 1
ORDER BY o_orderpriority
"""


# ------------------------------------------------------------------- E5
def schema_evolution_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution + bad-record quarantine round trip, two staged
    legs sharing one (stage, n_rows, n_flagged, checksum) profile row:

    - ``merge_schema``: even-keyed orders written WITHOUT
      o_orderpriority, odd-keyed WITH it; both batches read back under
      ``mergeSchema=true``. n_flagged counts read-back NULL priorities —
      exactly the rows the narrow batch contributed (plus any genuinely
      null source priorities, so the oracle stays correct on hostile
      data). A reader that dropped the narrow batch or misaligned the
      evolved column breaks n_rows/checksum.
    - ``permissive_quarantine``: one JSON line per order, every 7th key
      deliberately corrupted; read back PERMISSIVE with a
      columnNameOfCorruptRecord sink. n_flagged counts quarantined
      lines, checksum sums the keys that survived parsing — the
      poison-pill contract (corrupt rows quarantine, they never abort
      the job and never leak into the parsed column).
    """
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )

    with tempfile.TemporaryDirectory(prefix="gf_schevo_sim_") as base:
        # --- merge_schema leg
        narrow = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        wide = orders.where(F.col("o_orderkey") % 2 == 1)
        p1 = os.path.join(base, "m", "b1")
        p2 = os.path.join(base, "m", "b2")
        narrow.write.mode("overwrite").parquet(p1)
        wide.write.mode("overwrite").parquet(p2)
        merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
        # degenerate-corpus guard (ADVICE r10): if every surviving key has
        # one parity, one staged batch is empty. THIS Spark's writer still
        # emits a schema-bearing empty part (verified: all-even / all-odd /
        # empty corpora all pass unguarded), but the hostile-input contract
        # must not hinge on that writer detail — when the evolved column is
        # absent every read-back row is by definition missing it.
        flagged = (
            F.sum(F.col("o_orderpriority").isNull().cast("long"))
            if "o_orderpriority" in merged.columns
            else F.sum(F.lit(1).cast("long"))  # NULL on empty, like the oracle's sum
        )
        merge_row = merged.agg(
            F.lit("merge_schema").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
            flagged.alias("n_flagged"),
            F.sum("o_orderkey").alias("checksum"),
        )

        # --- permissive_quarantine leg
        raw = os.path.join(base, "raw_json")
        lines = orders.select(
            F.when(F.col("o_orderkey") % 7 == 0, F.lit('{"k": oops'))
            .otherwise(
                F.concat(F.lit('{"k":'), F.col("o_orderkey").cast("string"), F.lit("}"))
            )
            .alias("value")
        )
        lines.write.mode("overwrite").text(raw)
        parsed = (
            spark.read.schema("k bigint, _bad string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .json(raw)
        )
        quarantine_row = parsed.agg(
            F.lit("permissive_quarantine").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_bad").isNotNull().cast("long")).alias("n_flagged"),
            F.sum("k").alias("checksum"),
        )

        return pin(merge_row.unionByName(quarantine_row).orderBy("stage"))


ORACLE["schema_evolution_sim"] = """
WITH o AS (SELECT * FROM orders WHERE o_orderkey IS NOT NULL)
SELECT * FROM (
    SELECT 'merge_schema' AS stage,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 OR o_orderpriority IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum
    FROM o
    UNION ALL
    SELECT 'permissive_quarantine' AS stage,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey END)
                AS BIGINT) AS checksum
    FROM o
)
ORDER BY stage
"""


# ------------------------------------------------------------------- E9
def write_manifest_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-publication manifest round trip: stage documents
    hive-partitioned by lang, read the layout back, and emit the
    per-partition integrity manifest a 100 TB pipeline publishes next
    to a dataset — row count, key range, an ORDER-INDEPENDENT content
    checksum (sum of the md5-uint32 of each doc_id: any dropped,
    duplicated, or corrupted row moves it, and it is invariant to task/
    file split layout, unlike a file-hash), and the total payload
    chars. The oracle computes the same manifest from the SOURCE table,
    so a hash-green row proves the write → partition discovery → read
    pipeline was lossless end to end.

    Rows with NULL lang or NULL doc_id are excluded by contract: a NULL
    partition key would round-trip as the hive default-partition
    SENTINEL STRING (not NULL), which is a publication-layout decision,
    not an integrity property. At 100 TB the write is one narrow
    columnar pass; the manifest itself is a map-side-combined groupBy
    over the partition axis — O(partitions) output.
    """
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", "n_chars")
    )
    checksum = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    with tempfile.TemporaryDirectory(prefix="gf_manifest_sim_") as tmp:
        base = os.path.join(tmp, "docs_by_lang")
        docs.write.partitionBy("lang").mode("overwrite").parquet(base)
        # explicit schema on read-back: hive partition discovery would
        # otherwise TYPE-INFER the partition column, so a numeric-looking
        # lang value (e.g. '90') silently round-trips as INT and changes
        # the groupBy key type vs the source table's VARCHAR
        back = spark.read.schema("doc_id bigint, n_chars bigint, lang string").parquet(
            base
        )
        return pin(
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("doc_id").alias("min_key"),
                F.max("doc_id").alias("max_key"),
                F.sum(checksum).cast("bigint").alias("checksum"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
            )
            .orderBy("lang")
        )


ORACLE["write_manifest_sim"] = """
SELECT lang,
       count(*) AS n_rows,
       min(doc_id) AS min_key,
       max(doc_id) AS max_key,
       CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            AS BIGINT) AS checksum,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id IS NOT NULL AND lang IS NOT NULL
GROUP BY 1
ORDER BY lang
"""


# ------------------------------------------------------------------ E10
def snapshot_read_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot / time-travel round trip — the lakehouse primitive
    between E3's dynamic overwrite and a real table format (Iceberg/
    Delta at manifest granularity): a versioned MANIFEST (version →
    list of data-file groups, one per hive partition) records three
    commits against an orders table partitioned by o_orderpriority —

    - v1 initial load: even-keyed orders;
    - v2 append: the remaining orders (manifest = v1 entries + new
      files; no data file is rewritten);
    - v3 partition restatement: 1-URGENT rewritten with doubled
      totalprice (manifest = v2 entries MINUS that partition's files
      PLUS the replacement files — exactly how Iceberg's dynamic
      overwrite commits, remove-matching + add);
    - v4 copy-on-write DELETE: rows with o_orderkey % 3 = 0 removed
      from the 1-URGENT partition — only the files CONTAINING matches
      are rewritten (here: that partition's), every other file is
      carried by reference, the Delta/Iceberg CoW delete commit;

    then READS AS OF each version from its manifest alone and emits the
    per-version integrity profile (n_rows, key_sum, decimal-rounded
    total). Reading v1 after v4 committed is the time-travel proof: old
    snapshots stay byte-stable because commits only ADD files and edit
    the manifest, never mutate data in place. The oracle replays each
    version from the source deltas, so a hash-green row proves all
    four snapshot reads were lossless.

    At 100 TB: each commit is one narrow columnar write of its delta
    (the CoW delete writes only the affected partition), the manifest
    operations are O(partitions) metadata, and read-as-of prunes to
    the listed files — no full-table rewrite at any version.
    """
    from urllib.parse import unquote

    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    b1 = orders.where(F.col("o_orderkey") % 2 == 0)
    b2 = orders.where(~(F.col("o_orderkey") % 2 == 0))
    b3 = orders.where(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2  # ×2 is exact in binary fp
    )
    # v4 rewrites the one partition holding delete matches: its v3
    # content minus the deleted rows
    b4 = b3.where(~(F.col("o_orderkey") % 3 == 0))

    def entries(d: str) -> list[tuple[str, str]]:
        """(data-path, partition-value) per hive partition dir of a commit."""
        return [
            (os.path.join(d, p), unquote(p.split("=", 1)[1]))
            for p in sorted(os.listdir(d))
            if p.startswith("o_orderpriority=")
        ]

    with tempfile.TemporaryDirectory(prefix="gf_snapshot_sim_") as base:
        d1, d2, d3, d4 = (
            os.path.join(base, b) for b in ("commit1", "commit2", "commit3", "commit4")
        )
        b1.write.partitionBy("o_orderpriority").mode("overwrite").parquet(d1)
        b2.write.partitionBy("o_orderpriority").mode("overwrite").parquet(d2)
        b3.write.partitionBy("o_orderpriority").mode("overwrite").parquet(d3)
        b4.write.partitionBy("o_orderpriority").mode("overwrite").parquet(d4)

        v1 = entries(d1)
        v2 = v1 + entries(d2)
        v3 = [e for e in v2 if e[1] != "1-URGENT"] + entries(d3)
        v4 = [e for e in v3 if e[1] != "1-URGENT"] + entries(d4)

        frames = []
        for ver, manifest in ((1, v1), (2, v2), (3, v3), (4, v4)):
            paths = [p for p, _ in manifest]
            if paths:
                snap = spark.read.schema("o_orderkey bigint, o_totalprice double").parquet(
                    *paths
                )
            else:  # degenerate corpus: an empty commit list still profiles
                snap = spark.createDataFrame([], "o_orderkey bigint, o_totalprice double")
            frames.append(
                snap.agg(
                    F.lit(ver).alias("version"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("key_sum"),
                    F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
                    .cast("double")
                    .alias("total"),
                )
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return pin(out.orderBy("version"))


ORACLE["snapshot_read_sim"] = """
WITH o AS (
    SELECT * FROM orders
    WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
)
SELECT * FROM (
    SELECT 1 AS version, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE AS total
    FROM o WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT),
           round(sum(o_totalprice::DECIMAL(18,6)), 2)::DOUBLE
    FROM o
    UNION ALL
    SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT),
           round(sum((CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice * 2 ELSE o_totalprice
                      END)::DECIMAL(18,6)), 2)::DOUBLE
    FROM o
    UNION ALL
    SELECT 4, count(*), CAST(sum(o_orderkey) AS BIGINT),
           round(sum((CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice * 2 ELSE o_totalprice
                      END)::DECIMAL(18,6)), 2)::DOUBLE
    FROM o
    WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
)
ORDER BY version
"""


QUERIES = {
    "write_partition_overwrite_sim": write_partition_overwrite_sim,
    "schema_evolution_sim": schema_evolution_sim,
    "write_manifest_sim": write_manifest_sim,
    "snapshot_read_sim": snapshot_read_sim,
}
