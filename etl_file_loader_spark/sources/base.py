"""Shared source checks + format dispatch (SURVEY §2.1 S8, S9, S11, S13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.exceptions import MissingColumnsError


def check_required_columns(columns: list[str], config: SourceConfig, filename: str | None = None) -> None:
    """Required field aliases (lowercased) must be present (reference read/base.py:42-64)."""
    actual = {c.lower() for c in columns}
    missing = [
        f.file_alias
        for f in config.fields
        if not f.nullable and f.file_alias not in actual
    ]
    if missing:
        raise MissingColumnsError(missing, filename)


def read_source(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    """Dispatch to the format reader; every reader applies S8/S9/S11 checks."""
    from etl_file_loader_spark.sources import csv, excel, json, parquet

    fmt = config.file_format.lower()
    if fmt == "csv":
        return csv.read_csv(spark, path, config)
    if fmt == "json":
        return json.read_json(spark, path, config)
    if fmt == "parquet":
        return parquet.read_parquet(spark, path, config)
    if fmt == "excel":
        return excel.read_excel(spark, path, config)
    raise ValueError(f"unknown file format: {config.file_format}")
