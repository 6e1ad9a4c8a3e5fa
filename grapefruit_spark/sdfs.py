"""SDFS-parity catalog: the reference's file namespace as a Spark warehouse.

Reference (/root/reference/src/main/java/edu/cs425/mp3/SdfsServer.java):
``put/get/delete`` move whole files between local FS and a replicated
namespace; ``ls <file>`` lists replica locations; ``store`` lists files on
one node; ``global`` lists the whole namespace. Replication/failure
re-replication is the DFS's job — on Spark that responsibility belongs to
the storage layer (HDFS/S3), so here each logical file is a parquet
dataset directory and "replica locations" become the dataset's part-files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .catalog import read_parquet, seed_schema

# Suffixes of the warehouse's own working directories: a generation being
# written (``__putting``/``__merging``/``__compacting``) or swapped out
# (``__retired``). They are never datasets.
_INTERNAL = ("__putting", "__merging", "__retired", "__compacting")


def _is_partition_dir(parent: str, entry: str) -> bool:
    """A hive ``col=value`` partition directory (Spark skips names that
    start with ``_`` or ``.``, e.g. ``_temporary``)."""
    return ("=" in entry and not entry.startswith(("_", "."))
            and os.path.isdir(os.path.join(parent, entry)))


class Sdfs:
    """Flat name → parquet-dataset namespace rooted at ``warehouse``."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        if "/" in name or name.startswith(".") or name.endswith(_INTERNAL):
            raise ValueError(f"invalid sdfs name: {name!r}")
        return os.path.join(self.warehouse, name)

    def _rewrite(self, df: DataFrame, name: str, suffix: str,
                 partition_by: list[str] | None = None) -> None:
        """Write ``df`` as the next generation of ``name`` beside it, in
        ``<name><suffix>``, then ``_swap`` it in."""
        tmp = self._path(name) + suffix
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        data = [f for f in df.schema.fields if f.name not in (partition_by or ())]
        self._swap(name, tmp, StructType(data))

    def _swap(self, name: str, tmp: str, data_schema: StructType) -> None:
        """Put the generation written at ``tmp`` in place of ``name``.

        The old generation is renamed aside, the new one renamed in, then
        the old one removed: the path is absent only for the instant
        between the two renames, and a crash there leaves the data at
        ``<name>__retired`` (a truly gapless swap needs a symlink flip or
        versioned directories). Then seeds the schema cache from the data
        columns written, so the next ``get`` skips inference: a read with
        them infers only the partition columns, from directory names,
        without launching a job."""
        final = self._path(name)
        old = final + "__retired"
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.isdir(old):
            shutil.rmtree(old)
        seed_schema(self.spark, final, self.spark.read.schema(data_schema).parquet(final).schema)

    def _partition_cols(self, name: str) -> list[str]:
        """Hive partition columns of a stored dataset, outermost first,
        read from its ``col=value`` directory names (no Spark job). Every
        partition directory nests the same columns, so one path down
        names them all."""
        cols: list[str] = []
        d = self._path(name)
        while True:
            sub = next((e for e in sorted(os.listdir(d)) if _is_partition_dir(d, e)), None)
            if sub is None:
                return cols
            cols.append(sub.split("=", 1)[0])
            d = os.path.join(d, sub)

    # -- file ops (SdfsServer.java put/get/delete) ----------------------
    def put(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        """Insert/update a dataset (reference: ``put local sdfsname``).

        Writes beside and swaps (``_swap``), so readers never see a
        half-written dataset and a ``df`` derived from this same dataset
        can't be clobbered mid-plan by Spark's delete-then-write
        overwrite."""
        self._rewrite(df, name, "__putting", partition_by)

    def get(self, name: str) -> DataFrame:
        """Fetch a dataset (reference: ``get sdfsname local``)."""
        if not self.exists(name):
            raise FileNotFoundError(f"sdfs file not found: {name}")
        return read_parquet(self.spark, self._path(name))

    def delete(self, name: str) -> bool:
        """Delete a dataset (reference: ``delete sdfsname``)."""
        p = self._path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)
            return True
        return False

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    # -- namespace ops (ls / store / global) ----------------------------
    def ls(self, name: str) -> list[str]:
        """Part-file locations of one dataset, inside its partition
        directories too (reference ``ls`` shows replica VMs; here: the
        distributed part files)."""
        out: list[str] = []
        for d, dirs, files in os.walk(self._path(name)):
            dirs[:] = [e for e in dirs if _is_partition_dir(d, e)]
            out += [
                os.path.join(d, f) for f in files
                if f.endswith(".parquet") or f.startswith("part-")
            ]
        return sorted(out)

    def store(self) -> list[str]:
        """All dataset names in this warehouse (reference ``store``)."""
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
            and not d.endswith(_INTERNAL)
        )

    def global_(self) -> dict[str, int]:
        """Namespace-wide view: name → part-file count (reference ``global``)."""
        return {name: len(self.ls(name)) for name in self.store()}

    # -- maintenance ----------------------------------------------------
    def compact(self, name: str, target_files: int) -> int:
        """Rewrite a dataset into ``target_files`` balanced part files.

        The small-files problem is the 100 TB killer for any
        file-namespace system (every scan pays per-file open + footer
        read; listings crawl): streaming sinks and incremental puts
        fragment datasets, compaction heals them. Round-robin
        repartition gives size-balanced output without a shuffle key.
        A partitioned dataset keeps its partition columns; its rows are
        placed by partition value, so each partition directory gets one
        file. Returns the new part-file count. (The reference's analogue
        is re-replication healing in SdfsServer.java — same maintenance
        slot, storage-layer concern.)

        The round-robin repartition drops the key order ``merge`` writes,
        so a compacted table's key column no longer delta-codes in runs:
        ~11.5 instead of ~9.9 stored bytes a row on ``sdfs_cdc``'s orders
        rows, until merges rewrite those rows.
        """
        cols = self._partition_cols(name)
        self._rewrite(self.get(name).repartition(target_files, *cols), name,
                      "__compacting", cols)
        return len(self.ls(name))

    def auto_compact(self, max_files: int = 16, target_files: int = 4) -> dict[str, int]:
        """Namespace-wide compaction policy: rewrite every dataset whose
        part-file count exceeds ``max_files`` down to ``target_files``.
        The periodic-maintenance loop a streaming landing zone needs —
        small files accumulate per microbatch and every later scan pays
        per-file open + footer read until someone compacts. Returns
        {name: new_file_count} for the datasets it rewrote."""
        out: dict[str, int] = {}
        for name, n_files in self.global_().items():
            if n_files > max_files:
                out[name] = self.compact(name, target_files)
        return out

    def merge(self, name: str, updates: DataFrame, key_cols: list[str]) -> None:
        """MERGE INTO (upsert) semantics on a stored dataset: rows in
        ``updates`` replace same-key stored rows, new keys insert — the
        CDC-apply step of an incremental ingest pipeline.

        Plan shape: one left-anti join of the stored table against the
        (usually much smaller, broadcastable) update keys — survivors
        union updates. The keys are not deduplicated first: a left-anti
        join drops the same rows whatever duplicates its right side
        holds, and a ``distinct`` would only add two aggregate stages and
        a shuffle. Every update row is kept, repeated keys included.
        Written beside and swapped in (``_rewrite``):
        a Spark job can never overwrite a path it is reading, and
        readers never observe a half-merged table. At warehouse scale
        the same shape runs partition-wise (only partitions containing
        updated keys rewrite); here the dataset is one logical file, the
        reference's SDFS granularity (put replaces a whole file,
        SdfsServer.java put/delete). A partitioned dataset keeps its
        partition columns.

        The update batch is written sorted by ``key_cols`` within its own
        partitions (no shuffle; after the partition columns, which the
        writer groups by anyway), so its keys delta-code in Parquet v2
        pages at under a byte a row. Only the batch is sorted: survivors
        keep the order they were written in, so every part file stays a
        key-sorted run from some earlier merge, and sorting the whole
        table would add a sort of every stored row to each merge.
        """
        if not self.exists(name):
            self.put(updates.sortWithinPartitions(*key_cols), name)
            return
        cols = self._partition_cols(name)
        survivors = self.get(name).join(updates.select(*key_cols), key_cols, "left_anti")
        merged = survivors.unionByName(updates.sortWithinPartitions(*cols, *key_cols))
        self._rewrite(merged, name, "__merging", cols)
