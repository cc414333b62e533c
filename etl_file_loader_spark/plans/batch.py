"""Batch-union ingestion: many files of one source in ONE Spark job.

The per-file Processor preserves the reference's fail-fast semantics; at
100 TB (thousands of files per load) the right shape is a single plan over
every matching file with ``input_file_name()`` lineage (SURVEY §3.1):

    read(glob) -> rename/validate (one codegen'd projection)
    -> per-file validation stats (one groupBy(file) pass)
    -> files over threshold are EXCLUDED (their DLQ rows remain)
    -> cross-file grain resolution (latest filename wins per grain)
    -> ONE merge into the target

Per-file failure isolation is retained (a bad file never blocks the batch),
but instead of N sequential jobs the cluster runs one scan + two shuffles
(the stats groupBy and the grain window feeding the merge). CSV requires
uniform headers across batched files (Spark's multi-file reader takes the
schema from one header); file row numbers are not tracked in batch mode.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.operators import dlq as dlq_ops
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.operators import validate as validate_ops
from etl_file_loader_spark.operators.hashing import with_row_hash
from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, publish
from etl_file_loader_spark.plans.runlog import next_log_id
from etl_file_loader_spark.plans.warehouse import Warehouse

FILE_COL = publish_ops.FILENAME_COL


@dataclass
class BatchResult:
    files_published: list[str]
    files_rejected: dict[str, float]  # filename -> error_rate
    inserts: int
    updates: int
    dlq_rows: int
    stats: list[dict] = field(default_factory=list)


def _read_union(spark: SparkSession, paths: list[str], config: SourceConfig) -> DataFrame:
    fmt = config.file_format.lower()
    if fmt == "parquet":
        df = spark.read.parquet(*paths)
    elif fmt == "csv":
        df = (
            spark.read.option("header", "true")
            .option("sep", config.delimiter)
            .option("encoding", config.encoding)
            .csv(paths)
        )
    elif fmt == "json":
        df = spark.read.option("multiLine", "true").json(paths)
    else:
        raise ValueError(f"batch mode does not support format {config.file_format}")
    base = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn(FILE_COL, base)


def batch_ingest(
    spark: SparkSession,
    warehouse: Warehouse,
    config: SourceConfig,
    paths: list[str],
) -> BatchResult:
    log_id = next_log_id(warehouse)
    raw = _read_union(spark, paths, config)
    renamed = validate_ops.rename_and_prune(raw, config, passthrough=(FILE_COL,))
    validated = validate_ops.validate(renamed, config, passthrough=(FILE_COL,))

    # one pass: per-file valid/invalid counts
    stats = (
        validated.groupBy(FILE_COL)
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum((~F.col(validate_ops.VALID_COL)).cast("long")).alias("errors"),
        )
        .withColumn("error_rate", F.round(F.col("errors") / F.col("total"), 2))
        .collect()
    )
    threshold = config.validation_error_threshold
    rejected = {
        r[FILE_COL]: r["error_rate"]
        for r in stats
        if r["errors"] and r["error_rate"] >= threshold
    }
    published = [r[FILE_COL] for r in stats if r[FILE_COL] not in rejected]

    valid, invalid = validate_ops.split(validated)
    n_dlq = 0
    if any(r["errors"] for r in stats):
        dlq_records = dlq_ops.build_dlq(
            invalid, config, F.col(FILE_COL), log_id
        )
        warehouse.append(DLQ_TABLE, dlq_records)
        n_dlq = sum(int(r["errors"]) for r in stats)

    good = valid
    if rejected:
        good = good.filter(~F.col(FILE_COL).isin(list(rejected)))
    # cross-file grain resolution: one row per grain, latest filename wins
    # (batched files merged in one pass ≡ sequential per-file merges in
    # filename order)
    w = Window.partitionBy(*config.grain).orderBy(F.col(FILE_COL).desc())
    resolved = good.withColumn("_pick", F.row_number().over(w)).filter(
        F.col("_pick") == 1
    )
    drop_cols = ["_pick"]
    if validate_ops.FILE_ROW_COL in resolved.columns:
        drop_cols.append(validate_ops.FILE_ROW_COL)
    resolved = resolved.drop(*drop_cols)
    stage = with_row_hash(resolved, config).withColumn(
        publish_ops.LOG_ID_COL, F.lit(log_id).cast("long")
    )

    counts = publish(warehouse, config, stage)

    return BatchResult(
        files_published=sorted(published),
        files_rejected=rejected,
        inserts=counts.inserts,
        updates=counts.updates,
        dlq_rows=n_dlq,
        stats=[r.asDict() for r in stats],
    )
