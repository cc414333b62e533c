"""Dead-letter-queue build / cleanup (SURVEY §2.3 P5, §2.5 J5).

Reference DLQ record (process/db.py:184-209, validator.py:70-95): the failed
fields **plus grain fields** keyed by file alias (JSON), the per-field error
list (JSON), 1-based file row number, filename, log id, timestamp.

Cleanup-on-reprocess (delete/base.py:32-77): remove DLQ rows for the same
filename from *earlier* runs (file_load_log_id < current). The reference
deletes in LIMIT-batches against a DB. Here the DLQ is an unpartitioned
warehouse table to which each load appends its invalid rows as one file,
so it grows by one file per load like the run log. The pipeline first
checks whether it holds any such rows and, only if it does, rewrites the
whole table as a new snapshot without them. A file loaded for the first
time leaves the DLQ untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.operators.validate import ERRORS_COL, FILE_ROW_COL, alias_value_map


def build_dlq(
    invalid_df: DataFrame,
    config: SourceConfig,
    filename: str | Column,
    log_id: int,
    now: Column | None = None,
) -> DataFrame:
    """Shape invalid rows into DLQ records.

    ``invalid_df`` is the invalid side of ``validate.split`` (casted columns +
    ``_validation_errors``).
    """
    now = now if now is not None else F.current_timestamp()
    grain_aliases = [
        (f.alias or f.name) for f in config.fields if f.name in config.grain
    ]
    failed_names = F.transform(F.col(ERRORS_COL), lambda e: e["column_name"])

    def _keep(k: Column, _v: Column) -> Column:
        cond = F.array_contains(failed_names, k)
        if grain_aliases:
            cond = cond | k.isin(*grain_aliases)
        return cond

    payload = F.map_filter(alias_value_map(config), _keep)
    row_num = (
        F.col(FILE_ROW_COL)
        if FILE_ROW_COL in invalid_df.columns
        else F.lit(None).cast("long")
    )
    filename_col = F.lit(filename) if isinstance(filename, str) else filename
    return invalid_df.select(
        filename_col.alias("source_filename"),
        row_num.cast("long").alias("file_row_number"),
        F.to_json(payload).alias("file_record_data"),
        F.to_json(F.col(ERRORS_COL)).alias("validation_errors"),
        F.lit(log_id).cast("long").alias("file_load_log_id"),
        F.lit(config.target_table).alias("target_table_name"),
        now.alias("failed_at"),
    )


def stale_rows(filename: str, current_log_id: int) -> Column:
    """True for this file's DLQ rows from earlier runs."""
    return (F.col("source_filename") == filename) & (
        F.col("file_load_log_id") < F.lit(current_log_id)
    )


def cleanup_dlq(dlq: DataFrame, filename: str, current_log_id: int) -> DataFrame:
    """Drop this file's DLQ rows from earlier runs (reference delete/base.py:32-77)."""
    return dlq.filter(~stale_rows(filename, current_log_id))
