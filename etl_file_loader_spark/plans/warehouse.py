"""Copy-on-write parquet warehouse.

The reference's targets are DB tables (reference process/db.py:92-213). Here a
table is a directory of versioned parquet snapshots ``<table>/_v<N>``; the
highest committed N is current. Every new snapshot (overwrite, merge,
compaction, rebucketing) is built in a staging directory and published by
:func:`etl_file_loader_spark.snapshots.commit`: one rename after the
commit marker is in place. Readers list committed snapshots only, so a
crash at any step of a write leaves the previous snapshot current, and a
re-run of the same write reaches the result a run without the crash would
have. Older snapshots are pruned to ``keep_versions`` only after the commit.
A MERGE builds its snapshot from a plan that reads the previous one, so the
"read your own input while overwriting it" parquet hazard cannot arise.

``append`` (run log, DLQ) still adds part files to the current snapshot in
place; readers list files at plan time and see the old or the new file set.

Bounded-rewrite merges: tables written through the grain-bucket API are
hive-partitioned on ``_grain_bucket = pmod(hash(grain), n_buckets)``, and the
snapshot records its bucket count in ``_buckets.json``. A merge reads only
the buckets the stage rows hash into (partition pruning), rewrites those,
and carries the untouched bucket directories of the previous snapshot into
the staged one: by hard link for plain OS paths (O(1) per file), by Hadoop
FileSystem copy for URIs (``s3a:``, ``abfss:``, ``gs:``, ``hdfs:``,
``file:``; O(untouched bytes)). Metadata operations route through
:class:`etl_file_loader_spark.fs.FS`, so a warehouse rooted at a URI works
end to end.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark import snapshots
from etl_file_loader_spark.fs import FS, is_uri

# internal hive-partition column carrying the grain-hash bucket
BUCKET_COL = "_grain_bucket"
# per-snapshot record of the bucket count its layout was hashed with
BUCKETS_META = "_buckets.json"


def grain_bucket(grain: list[str], n_buckets: int) -> Column:
    """Stable bucket id for a row's grain: pmod(murmur3(grain), n).

    Spark's ``hash`` is fixed-seed Murmur3 — stable across sessions, so a
    later load's stage rows hash into the same bucket directories the target
    was written with. Changing ``n_buckets`` on an existing table would break
    that mapping; each snapshot therefore records its bucket count and every
    later merge reuses it (``Warehouse.rebucket`` changes it).
    """
    return F.pmod(F.hash(*[F.col(g) for g in grain]), F.lit(n_buckets))


class Warehouse:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self._root = str(path).rstrip("/")
        self._is_uri = is_uri(self._root)
        # public surface: a pathlib.Path for plain OS paths (callers join
        # table names onto it); URI warehouses expose the string instead.
        self.path = self._root if self._is_uri else Path(path)
        self._fs = FS(spark)
        self.keep_versions = keep_versions
        # default bucket count = the session's shuffle parallelism: one
        # bucket per write task locally, ~thousands on a big cluster — merge
        # rewrite granularity then tracks cluster scale. Recorded in each
        # snapshot, so later sessions keep the table's mapping.
        self.n_buckets = n_buckets or max(
            16, int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        )
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

    def table_buckets(self, table: str) -> int | None:
        """Bucket count of the current snapshot, or None if unbucketed."""
        versions = self._versions(table)
        if not versions:
            return None
        meta = self._p(table, f"_v{versions[-1]}", BUCKETS_META)
        if not self._fs.exists(meta):
            if self._fs.exists(self._p(table, BUCKETS_META)):
                # older layout kept the count at the table root; guessing
                # a count here would hash updated rows into wrong buckets
                raise RuntimeError(
                    f"table {table!r} keeps its bucket count in "
                    f"{table}/{BUCKETS_META}; migrate it by moving that file "
                    f"into {table}/_v{versions[-1]}/"
                )
            return None
        return int(json.loads(self._fs.read_text(meta))["n_buckets"])

    def read_table_buckets(
        self,
        table: str,
        bucket_values: list[int],
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Current snapshot pruned to the given grain-hash buckets.

        The filter lands on the hive partition column, so Spark's
        PartitionFilters exclude every other bucket directory at plan time —
        zero I/O for untouched buckets. Falls back to a full read when the
        table predates bucketing.
        """
        versions = self._versions(table)
        if not versions:
            if schema is None:
                raise FileNotFoundError(f"table {table} does not exist and no schema given")
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(self._p(table, f"_v{versions[-1]}"))
        if BUCKET_COL in df.columns:
            df = df.filter(F.col(BUCKET_COL).isin(bucket_values)).drop(BUCKET_COL)
        return df

    def merge_overwrite(
        self,
        table: str,
        df: DataFrame,
        touched_buckets: list[int] | None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Write a new snapshot rewriting ONLY the touched grain-hash buckets.

        ``df`` must carry ``BUCKET_COL`` and contain the complete new contents
        of the touched buckets, hashed with ``table_buckets(table)`` (or
        ``n_buckets`` for a new table); every other bucket directory is
        carried over from the previous snapshot. With
        ``touched_buckets=None`` (first load / full rewrite) the whole frame
        is written. Rows are repartitioned on the bucket column first so file
        count tracks bucket count, not tasks x buckets. The write, the
        carry-over and the bucket count all land in the staged snapshot.
        """
        with self._table_lock(table):
            versions = self._versions(table)
            n_buckets = self.table_buckets(table) or self.n_buckets
            parts = [BUCKET_COL] + list(partition_by or [])

            def write(out: str) -> None:
                df.repartition(F.col(BUCKET_COL)).write.mode(
                    "overwrite"
                ).partitionBy(*parts).parquet(out)
                if versions and touched_buckets is not None:
                    touched_dirs = {f"{BUCKET_COL}={v}" for v in touched_buckets}
                    prev = self._p(table, f"_v{versions[-1]}")
                    for name in self._fs.list_names(prev):
                        if name.startswith(f"{BUCKET_COL}=") and name not in touched_dirs:
                            self._carry(f"{prev}/{name}", f"{out}/{name}")
                self._write_buckets_meta(out, n_buckets)

            self._commit(table, versions, write)

    def _write_buckets_meta(self, out: str, n_buckets: int) -> None:
        meta = json.dumps({"n_buckets": n_buckets})
        self._fs.write_text(f"{out}/{BUCKETS_META}", meta)

    def _carry(self, src: str, dst: str) -> None:
        """Carry one untouched bucket dir into the staged snapshot: hard
        links for plain OS paths, a Hadoop FileSystem copy for URIs."""
        if self._is_uri:
            self._fs.copy_tree(src, dst)
        else:
            _link_tree(Path(src), Path(dst))

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
                if self.table_buckets(table) is not None:
                    # bare part files at the root of a hive-partitioned dir
                    # are invisible to partition-discovering readers — rows
                    # would be silently lost. Bucketed targets are
                    # merge-managed; append is for log/DLQ-style tables.
                    raise ValueError(
                        f"append not supported on grain-bucketed table "
                        f"{table!r}; use merge_overwrite"
                    )
                out = self._p(table, f"_v{versions[-1]}")
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
        cluster's parallelism capped by current file count.
        """
        with self._table_lock(table):
            if not self.exists(table):
                return
            versions = self._versions(table)
            raw = self.spark.read.parquet(self._p(table, f"_v{versions[-1]}"))
            if BUCKET_COL in raw.columns:
                # bucketed table: rewrite within the same bucket layout
                # (repartition on the bucket -> ~one file per bucket)
                self.merge_overwrite(table, raw, touched_buckets=None)
                return
            n = target_files or max(1, min(len(raw.inputFiles()), self.spark.sparkContext.defaultParallelism))
            self._overwrite_locked(table, raw.coalesce(n))

    def rebucket(self, table: str, grain: list[str], n_buckets: int) -> None:
        """Rewrite a grain-bucketed table with a NEW bucket count.

        The per-table bucket count is frozen at first write so later merges
        hash stage rows into the same directories — but a table created on a
        small cluster keeps its small bucket count as data grows 100×, and
        merge rewrite granularity (O(table/n_buckets) per touched bucket)
        degrades with it. ``rebucket`` is the COW analogue of Delta
        ``OPTIMIZE`` + repartition: one full rewrite re-hashing every row
        into ``n_buckets`` grain-hash buckets, the new count committed in
        the same snapshot as the new layout, after which merges prune and
        rewrite at the new granularity. O(table) — schedule it like any
        compaction, not per load.
        """
        with self._table_lock(table):
            if not self.exists(table):
                raise FileNotFoundError(f"table {table} does not exist")
            if self.table_buckets(table) is None:
                raise ValueError(f"table {table!r} is not grain-bucketed")
            versions = self._versions(table)
            out = self.read_table(table).withColumn(
                BUCKET_COL, grain_bucket(grain, n_buckets)
            )

            def write(path: str) -> None:
                out.repartition(F.col(BUCKET_COL)).write.mode(
                    "overwrite"
                ).partitionBy(BUCKET_COL).parquet(path)
                self._write_buckets_meta(path, n_buckets)

            self._commit(table, versions, write)
            self.n_buckets = n_buckets

    def drop(self, table: str) -> None:
        self._fs.rmtree(self._p(table))


def _link_tree(src: Path, dst: Path) -> None:
    """Mirror a directory tree with hard links (copy fallback across devices)."""
    dst.mkdir(parents=True, exist_ok=True)
    for p in src.rglob("*"):
        target = dst / p.relative_to(src)
        if p.is_dir():
            target.mkdir(parents=True, exist_ok=True)
        else:
            try:
                os.link(p, target)
            except OSError:
                shutil.copy2(p, target)
