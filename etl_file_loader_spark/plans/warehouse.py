"""Copy-on-write parquet warehouse.

The reference's targets are DB tables (reference process/db.py:92-213). Here a
table is a directory of versioned parquet snapshots ``<table>/_v<N>``; the
highest committed N is current. Every new snapshot (overwrite, merge,
compaction) is built in a staging directory and published by
:func:`etl_file_loader_spark.snapshots.commit`: one rename after the
commit marker is in place. Readers list committed snapshots only, so a
crash at any step of a write leaves the previous snapshot current, and a
re-run of the same write reaches the result a run without the crash would
have. Older snapshots are pruned to ``keep_versions`` only after the commit.
A MERGE builds its snapshot from a plan that reads the previous one, so the
"read your own input while overwriting it" parquet hazard cannot arise.

``append`` (run log, DLQ) still adds part files to the current snapshot in
place; readers list files at plan time and see the old or the new file set.
It refuses a snapshot laid out in hive partition directories
(``name=value``): bare part files at its root would be invisible to
partition-discovering readers.

A MERGE (``plans.pipeline.publish``) rewrites the whole current snapshot
under the table's lock, the copy-on-write analogue of the reference's
row-level MERGE. Snapshots written by an earlier layout that
hive-partitioned the target on ``BUCKET_COL`` still read (the column is
dropped), and their next write is a plain snapshot. Metadata operations
route through :class:`etl_file_loader_spark.fs.FS`, so a warehouse rooted at
a URI (``s3a:``, ``abfss:``, ``gs:``, ``hdfs:``, ``file:``) works end to end.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_file_loader_spark import snapshots
from etl_file_loader_spark.fs import FS, is_uri

# hive-partition column of the earlier grain-bucket layout; readers drop it
BUCKET_COL = "_grain_bucket"


class Warehouse:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
    ):
        self.spark = spark
        self._root = str(path).rstrip("/")
        # public surface: a pathlib.Path for plain OS paths (callers join
        # table names onto it); URI warehouses expose the string instead.
        self.path = self._root if is_uri(self._root) else Path(path)
        self._fs = FS(spark)
        self.keep_versions = keep_versions
        self._fs.mkdirs(self._root)
        # per-TABLE locks: concurrent per-file pipelines
        # (Processor.process_files_in_parallel) can't interleave a
        # read-modify-write on the same table, but pipelines targeting
        # different tables mutate fully in parallel (the Delta/Iceberg
        # analogue is per-table optimistic concurrency). Reads stay
        # lock-free (snapshot isolation via versioned dirs).
        self._locks: dict[str, threading.RLock] = {}
        self._meta = threading.Lock()

    def _p(self, *parts: str) -> str:
        return "/".join([self._root, *parts])

    def _table_lock(self, table: str) -> threading.RLock:
        with self._meta:
            return self._locks.setdefault(table, threading.RLock())

    def _versions(self, table: str) -> list[int]:
        return snapshots.committed(self._fs, self._p(table), "_v")

    def _commit(
        self, table: str, versions: list[int], write: Callable[[str], None]
    ) -> None:
        """Publish the snapshot after ``versions[-1]`` that ``write`` builds
        in its staging directory, then prune to ``keep_versions``."""
        new_v = versions[-1] + 1 if versions else 0
        snapshots.commit(self._fs, self._p(table), "_v", new_v, write)
        for v in [*versions, new_v][: -max(self.keep_versions, 1)]:
            self._fs.rmtree(self._p(table, f"_v{v}"))

    def exists(self, table: str) -> bool:
        return bool(self._versions(table))

    def table_versions(self, table: str) -> list[int]:
        """Retained snapshot versions, oldest first (time-travel surface)."""
        return self._versions(table)

    def read_table(
        self,
        table: str,
        schema: T.StructType | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Current snapshot — or a retained older one via ``version`` (time
        travel, the COW analogue of Delta's VERSION AS OF; only the last
        ``keep_versions`` snapshots are retained). Empty frame with
        ``schema`` if the table doesn't exist.
        """
        versions = self._versions(table)
        if not versions:
            if schema is None:
                raise FileNotFoundError(f"table {table} does not exist and no schema given")
            return self.spark.createDataFrame([], schema)
        if version is not None:
            if version not in versions:
                raise FileNotFoundError(
                    f"table {table} version {version} not retained "
                    f"(available: {versions})"
                )
            return self._drop_internal(
                self.spark.read.parquet(self._p(table, f"_v{version}"))
            )
        return self._drop_internal(
            self.spark.read.parquet(self._p(table, f"_v{versions[-1]}"))
        )

    @staticmethod
    def _drop_internal(df: DataFrame) -> DataFrame:
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def overwrite(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> None:
        with self._table_lock(table):
            self._overwrite_locked(table, df, partition_by)

    def _overwrite_locked(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style layout: readers filtering on these columns prune
            # whole directories at plan time (PartitionFilters, zero I/O for
            # excluded partitions) — the COW analogue of Delta partitioning
            writer = writer.partitionBy(*partition_by)
        self._commit(table, self._versions(table), writer.parquet)

    def append(self, table: str, df: DataFrame) -> None:
        """True append: new part files into the current snapshot directory.

        O(appended rows), not O(table) — a run ingesting N files appends to
        the run log / DLQ N times; rewriting the whole table each time would
        be quadratic. Readers of the current snapshot list files at plan
        time, so concurrent readers see either the old or the new file set.
        Deletes/updates still go through ``overwrite`` (new snapshot).
        """
        with self._table_lock(table):
            versions = self._versions(table)
            if not versions:
                self._overwrite_locked(table, df)
            else:
                out = self._p(table, f"_v{versions[-1]}")
                if self._partition_cols(out):
                    # bare part files at the root of a hive-partitioned dir
                    # are invisible to partition-discovering readers — rows
                    # would be silently lost. Partitioned targets are
                    # publish-managed; append is for log/DLQ-style tables.
                    raise ValueError(
                        f"append not supported on partitioned table "
                        f"{table!r}; use overwrite"
                    )
                df.write.mode("append").parquet(out)

    def mutate(self, table: str):
        """Context manager serializing a multi-step read-modify-write on ONE
        table (e.g. merge: read target -> counts -> overwrite) across
        threads; mutations of other tables proceed concurrently."""
        return self._table_lock(table)

    def compact(self, table: str, target_files: int | None = None) -> None:
        """Rewrite the current snapshot with fewer, larger files.

        Append-heavy tables (run log, DLQ) accumulate one small part file per
        append; periodic compaction restores scan efficiency — the COW
        equivalent of Delta OPTIMIZE. ``target_files`` defaults to the
        cluster's parallelism capped by current file count. A snapshot laid
        out in hive partition directories keeps its partition columns
        (``BUCKET_COL`` of the earlier layout excepted).
        """
        with self._table_lock(table):
            versions = self._versions(table)
            if not versions:
                return
            raw = self.read_table(table)
            n = target_files or max(1, min(len(raw.inputFiles()), self.spark.sparkContext.defaultParallelism))
            parts = self._partition_cols(self._p(table, f"_v{versions[-1]}"))
            self._overwrite_locked(
                table, raw.coalesce(n), [c for c in parts if c != BUCKET_COL]
            )

    def _partition_cols(self, snapshot_dir: str) -> list[str]:
        """Hive partition columns of a snapshot, outermost first, read off
        its first chain of ``name=value`` directories."""
        cols: list[str] = []
        d = snapshot_dir
        while part := next((n for n in self._fs.list_names(d) if "=" in n), None):
            cols.append(part.split("=", 1)[0])
            d = f"{d}/{part}"
        return cols

    def drop(self, table: str) -> None:
        self._fs.rmtree(self._p(table))

