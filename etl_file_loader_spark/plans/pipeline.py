"""Per-file pipeline runner + multi-file processor (SURVEY §3).

Reference run plan, fixed per file (reference runner.py:213-221):

    check_if_processed -> archive -> read -> validate -> write(stage+DLQ)
    -> audit (grain + custom) -> publish (MERGE) -> cleanup_dlq -> drop stage

Spark re-expression: the read->rename->validate->split chain is ONE lazy plan;
"stage" is never materialized (it stays a cached DataFrame — reference's stage
table is an artifact of row-at-a-time DB loading). Every count the load
reports or checks comes from an action it runs anyway. Actions, in order:

    1. log id                   max over the run log
    2. duplicate-file check     filter+limit on target           (J1)
    3. validate + cache; one scalar aggregate counts rows,
       invalid rows and distinct valid grains                    (P1-P9, A1, A4)
       -> no rows: NoDataInFileError
    4. DLQ append for invalid rows                               (K2, P5)
    5. threshold check -> maybe fail                             (A4)
    6. grain check on the step-3 counts (a job only on failure,
       for the examples) + custom audit SQL on the valid side    (A1-A3)
    7. MERGE write into target; insert/update/unchanged counts
       observed on it                                            (J2-J4, A5)
    8. DLQ stale probe, rewrite only if earlier runs left rows   (J5)
    9. run-log append

A CSV that scans as one partition runs no job while it is read, and each
committed snapshot's schema is inferred once per ``Warehouse``.
Failure at any step raises the taxonomy error; the run log records per-stage
timings either way. Multi-file parallelism: the reference uses a thread pool
over physical cores (processor.py:49-51); in Spark each file is already
processed by many tasks, so the Processor runs files sequentially by default
(per-file fail-fast) — at scale you union many files with input_file_name()
lineage or submit concurrent jobs via FAIR scheduler pools.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.exceptions import (
    DuplicateFileError,
    FileError,
    NoDataInFileError,
)
from etl_file_loader_spark.operators import audit as audit_ops
from etl_file_loader_spark.operators import dlq as dlq_ops
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.operators import validate as validate_ops
from etl_file_loader_spark.operators.hashing import with_row_hash
from etl_file_loader_spark.operators.publish import (
    CREATED_COL,
    FILENAME_COL,
    LOG_ID_COL,
    UPDATED_COL,
    PublishCounts,
)
from etl_file_loader_spark.plans.runlog import RunLog, next_log_id
from etl_file_loader_spark.plans.warehouse import Warehouse
from etl_file_loader_spark.registry import SourceRegistry
from etl_file_loader_spark.sources import read_source

DLQ_TABLE = "file_load_dlq"


def publish(warehouse: Warehouse, cfg: SourceConfig, stage: DataFrame) -> PublishCounts:
    """MERGE ``stage`` into ``cfg.target_table`` as one new snapshot
    (reference publish/base.py:80-97).

    The table's lock is held for the whole read-merge-write, so no other
    publish to the table commits between this read and this write. A first
    load writes the stage as it is, and every stage row is an insert. A
    later load reads the whole current snapshot, merges the stage into it
    with ``merge_upsert`` and commits the result. Either way the counts are
    observed on the write itself, so they cost no Spark job of their own.

    Additive schema evolution (Delta mergeSchema analogue): business
    columns the config gained since the target was created join in as typed
    nulls — existing rows keep null until a file re-delivers them (their
    row hash then differs, so they update). Columns REMOVED from the config
    drop from the new snapshot: the config is the schema of record.
    """
    table = cfg.target_table
    # one Observation per write; read only after the write returned, since
    # ``get`` waits for an action that a failed write never completes
    obs = Observation()
    with warehouse.mutate(table):
        if not warehouse.exists(table):
            merged = (
                stage.withColumn(CREATED_COL, F.current_timestamp())
                .withColumn(UPDATED_COL, F.lit(None).cast("timestamp"))
                .observe(obs, F.count(F.lit(1)).alias("inserts"))
            )
        else:
            target = warehouse.read_table(table)
            for f in cfg.fields:
                if f.name not in target.columns:
                    target = target.withColumn(f.name, F.lit(None).cast(f.dtype))
            merged = publish_ops.merge_upsert(
                target,
                stage,
                cfg.grain,
                cfg.business_columns,
                salt_buckets=cfg.merge_salt_buckets,
                observation=obs,
            )
        warehouse.overwrite(table, merged, partition_by=cfg.target_partition_by)
    return PublishCounts(**{"updates": 0, "unchanged": 0, **obs.get})


@dataclass
class RunResult:
    success: bool
    filename: str
    error_type: str | None = None
    error: str | None = None
    counts: PublishCounts | None = None


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        config: SourceConfig,
        path: str,
        archive_dir: str | None = None,
        log_id: int | None = None,
        delete_source: bool = False,
        duplicate_dir: str | None = None,
        on_stage=None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.config = config
        self.path = path
        from etl_file_loader_spark.fs import basename

        self.filename = basename(path)
        self.archive_dir = archive_dir
        # duplicate files are MOVED here (reference runner.py:127-140,
        # file_helper.py:50-65), timestamp-suffixed on a name clash
        self.duplicate_dir = duplicate_dir
        # reference deletes the drop-directory file success or fail
        # (runner.py:269-271); default off for library safety
        self.delete_source = delete_source
        self.log = RunLog(
            log_id=log_id if log_id is not None else next_log_id(warehouse),
            filename=self.filename,
            target_table=config.target_table,
            on_stage=on_stage,
        )

    def _quarantine_duplicate(self) -> None:
        """Move an already-loaded file to the duplicate-files directory
        (reference file_helper.py:50-65: move, not copy; name clashes get a
        UTC-timestamp suffix)."""
        if not self.duplicate_dir:
            return
        import datetime

        from etl_file_loader_spark import fs as fsmod

        hfs = fsmod.FS(self.spark)
        hfs.mkdirs(self.duplicate_dir)
        dest = fsmod.join(self.duplicate_dir, self.filename)
        if hfs.exists(dest):
            ts = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%d_%H%M%S")
            stem, dot, suffix = self.filename.rpartition(".")
            renamed = f"{stem}_{ts}.{suffix}" if dot else f"{self.filename}_{ts}"
            dest = fsmod.join(self.duplicate_dir, renamed)
        hfs.move(self.path, dest)

    def run(self) -> RunResult:
        cfg = self.config
        validated = None
        try:
            with self.log.stage("check_if_processed"):
                if self.warehouse.exists(cfg.target_table):
                    target = self.warehouse.read_table(cfg.target_table)
                    if publish_ops.is_file_loaded(target, self.filename):
                        self._quarantine_duplicate()
                        raise DuplicateFileError(
                            f"{self.filename} already published", self.filename
                        )

            if self.archive_dir:
                with self.log.stage("archive_file"):
                    from etl_file_loader_spark import fs as fsmod

                    hfs = fsmod.FS(self.spark)
                    hfs.mkdirs(self.archive_dir)
                    hfs.copy(self.path, fsmod.join(self.archive_dir, self.filename))

            with self.log.stage("read_data") as st:
                raw = read_source(self.spark, self.path, cfg)
                # a single small file scans as one partition (< maxPartitionBytes)
                # -> validation/hash/write would run on one core; fan out to the
                # cluster's parallelism (cheap round-robin shuffle, row numbers
                # are already materialized columns at this point)
                parallelism = self.spark.sparkContext.defaultParallelism
                if raw.rdd.getNumPartitions() < max(2, parallelism // 2):
                    raw = raw.repartition(parallelism)
                renamed = validate_ops.rename_and_prune(raw, cfg)

            with self.log.stage("validate_data") as st:
                # cache: the audit and publish stages each re-read the
                # validated frame (and the DLQ build when rows fail) —
                # recomputing the validation projection per pass measures
                # ~40% slower than materializing once. One aggregate fills
                # the cache and counts rows, invalid rows and the distinct
                # grains of the valid rows (for the grain audit).
                validated = validate_ops.validate(renamed, cfg).cache()
                is_valid = F.col(validate_ops.VALID_COL)
                c = validated.agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(F.when(is_valid, 0).otherwise(1)).alias("_bad"),
                    audit_ops.distinct_grains(cfg.grain, where=is_valid).alias("_grains"),
                ).first()
                n_total = c["_n"] or 0
                if not n_total:
                    raise NoDataInFileError("no data rows in file", self.path)
                n_invalid = int(c["_bad"] or 0)
                n_valid = n_total - n_invalid
                st.row_count = n_total
                valid, invalid = validate_ops.split(validated)

            with self.log.stage("write_data") as st:
                if n_invalid:
                    dlq_records = dlq_ops.build_dlq(
                        invalid, cfg, self.filename, self.log.log_id
                    )
                    # one file per load, so the DLQ grows like the run log
                    # and needs no compaction; repartition rather than
                    # coalesce keeps the filter over the cached file parallel
                    # and shuffles only the invalid rows
                    self.warehouse.append(DLQ_TABLE, dlq_records.repartition(1))
                st.row_count = n_invalid
                stats = audit_ops.ValidationStats(
                    total_rows=n_valid + n_invalid, error_rows=n_invalid
                )
                audit_ops.check_threshold(
                    stats, cfg.validation_error_threshold, invalid, self.filename
                )

            stage = (
                with_row_hash(valid, cfg)
                .withColumn(FILENAME_COL, F.lit(self.filename))
                .withColumn(LOG_ID_COL, F.lit(self.log.log_id).cast("long"))
                .drop(validate_ops.FILE_ROW_COL)
            )

            with self.log.stage("audit_data"):
                from etl_file_loader_spark.config import stage_table_name

                audit_ops.check_grain(
                    stage, cfg.grain, n_valid, c["_grains"], self.filename
                )
                audit_ops.check_audits(
                    self.spark, stage, cfg.audit_query, self.filename,
                    view_name=stage_table_name(self.filename),
                )

            with self.log.stage("publish_data") as st:
                pub_counts = publish(self.warehouse, cfg, stage)
                st.row_count = pub_counts.inserts + pub_counts.updates

            with self.log.stage("cleanup_dlq_records"):
                with self.warehouse.mutate(DLQ_TABLE):
                    if self.warehouse.exists(DLQ_TABLE):
                        dlq = self.warehouse.read_table(DLQ_TABLE)
                        stale = dlq_ops.stale_rows(self.filename, self.log.log_id)
                        # rewrite only when an earlier run left rows behind
                        if not dlq.filter(stale).isEmpty():
                            self.warehouse.overwrite(DLQ_TABLE, dlq.filter(~stale))

            return RunResult(True, self.filename, counts=pub_counts)
        finally:
            if validated is not None:
                validated.unpersist()
            self.log.flush(self.warehouse)
            if self.delete_source:
                from etl_file_loader_spark.fs import FS

                FS(self.spark).delete(self.path)


@dataclass
class Processor:
    """Directory-scan multi-file driver (reference processor.py:24-157).

    On handled file errors, stakeholders from the source's
    ``notification_emails`` are notified; a run summary notification fires
    after ``process_directory`` (reference notify/email.py, webhook.py).
    """

    spark: SparkSession
    warehouse: Warehouse
    registry: SourceRegistry
    archive_dir: str | None = None
    results: list[RunResult] = field(default_factory=list)
    notifier: "Notifier | None" = None
    delete_source: bool = False
    duplicate_dir: str | None = None
    # live per-stage hook threaded into every file's RunLog (CLI progress)
    on_stage: "Callable[[dict], None] | None" = None

    def process_file(self, path: str, log_id: int | None = None) -> RunResult:
        from etl_file_loader_spark.exceptions import (
            MultipleSourceMatchError,
            NoSourceMatchError,
        )

        from etl_file_loader_spark import fs as fsmod

        filename = fsmod.basename(path)
        try:
            config = self.registry.find_source_for_file(filename)
        except (NoSourceMatchError, MultipleSourceMatchError) as e:
            # unmatched files are still archived so nothing in the drop
            # directory is silently lost (reference processor.py:84)
            if self.archive_dir and isinstance(e, NoSourceMatchError):
                hfs = fsmod.FS(self.spark)
                hfs.mkdirs(self.archive_dir)
                hfs.copy(path, fsmod.join(self.archive_dir, filename))
            result = RunResult(False, filename, type(e).__name__, str(e))
            self.results.append(result)
            return result
        try:
            result = PipelineRunner(
                self.spark, self.warehouse, config, path, self.archive_dir,
                log_id=log_id, delete_source=self.delete_source,
                duplicate_dir=self.duplicate_dir, on_stage=self.on_stage,
            ).run()
        except FileError as e:
            result = RunResult(False, filename, type(e).__name__, str(e))
            if self.notifier is not None:
                from etl_file_loader_spark.notify import notify_file_error

                notify_file_error(
                    self.notifier, filename, type(e).__name__, str(e),
                    config.notification_emails,
                )
        self.results.append(result)
        return result

    def process_files_in_parallel(
        self, directory: str, max_workers: int | None = None
    ) -> list[RunResult]:
        """Thread-pool over files (reference processor.py:49-51, 98-111).

        Each thread submits independent Spark jobs (read/validate run
        concurrently across files); warehouse mutations serialize on the
        warehouse lock; log ids are pre-assigned under a counter so they
        stay unique. Per-file fail-fast semantics are preserved.
        """
        import os
        import threading
        from concurrent.futures import ThreadPoolExecutor

        from etl_file_loader_spark.plans.runlog import next_log_id

        from etl_file_loader_spark.fs import FS

        files = FS(self.spark).list_files(directory)
        max_workers = max_workers or min(len(files) or 1, (os.cpu_count() or 4) // 2 or 1)
        counter_lock = threading.Lock()
        next_id = next_log_id(self.warehouse)

        def alloc_id() -> int:
            nonlocal next_id
            with counter_lock:
                nid = next_id
                next_id += 1
                return nid

        def work(path: str) -> RunResult:
            return self.process_file(path, log_id=alloc_id())

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(work, files))
        if self.notifier is not None:
            from etl_file_loader_spark.notify import notify_summary

            notify_summary(self.notifier, self.results_summary())
        return self.results

    def process_directory(self, directory: str) -> list[RunResult]:
        from etl_file_loader_spark.fs import FS

        files = FS(self.spark).list_files(directory)
        for f in files:
            self.process_file(f)
        if self.notifier is not None:
            from etl_file_loader_spark.notify import notify_summary

            notify_summary(self.notifier, self.results_summary())
        return self.results

    def results_summary(self) -> dict:
        """Success/failure/no-source rollup (reference processor.py:113-157).

        Files matching no source are *skipped*, not failed — the reference's
        registry returns None for them and the run continues (registry.py:36).
        """
        ok = [r for r in self.results if r.success]
        skipped = [r for r in self.results if r.error_type == "NoSourceMatchError"]
        failed = [
            r for r in self.results if not r.success and r not in skipped
        ]
        return {
            "total": len(self.results),
            "succeeded": len(ok),
            "failed": len(failed),
            "no_source": len(skipped),
            "errors": {r.filename: r.error_type for r in failed},
        }
