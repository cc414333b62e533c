"""CSV source (SURVEY §2.1 S1, S2, S7, S8, S10).

Reference: DictReader over a (possibly gzip) text stream, header required,
delimiter/encoding/skip_rows config, 1-based file row numbers with data
starting at 2+skip_rows (reference read/csv.py:34-84).

Spark-first design: the header line is read driver-side (one line, gzip-aware)
to get column names; the body is read distributed as text lines, given
deterministic *file-order* row numbers JVM-side: ``monotonically_increasing_id``
supplies the within-partition counter, a count-per-partition job supplies the
partition offsets (partition order = byte-offset order for splittable text,
single partition for .gz — matching the reference's single-stream semantics),
then parsed with ``from_csv`` into all-string columns so cast failures are
captured by the validator, never silently nulled. A scan of one partition
(a file below ``spark.sql.files.maxPartitionBytes``, or any .gz) has offset
0 and runs no job here. A file with no data rows reads as an empty frame;
the pipeline's validation count raises ``NoDataInFileError`` for it.

Scale: text scan + from_csv + row numbering all stay in whole-stage codegen —
no per-row Python serialization anywhere; the offset lookup is one extra
count-per-partition job for a multi-partition scan. Quoted embedded newlines break the
line-based path — set ``SourceConfig.multiline=True`` to switch to Spark's
multiLine CSV reader (whole-file, non-splittable — the reference's
DictReader is equally single-stream) with window-derived row numbers.
"""

from __future__ import annotations

import csv as pycsv
import gzip
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.exceptions import MissingHeaderError
from etl_file_loader_spark.operators.validate import FILE_ROW_COL
from etl_file_loader_spark.sources.base import check_required_columns


def _read_header_line(spark: SparkSession, path: str, encoding: str) -> str:
    """First line of the (possibly gzipped) file — local path or any
    Hadoop-FS URI (s3a://, abfss://, gs://); streams only the object head."""
    from etl_file_loader_spark.fs import FS, is_uri

    if not is_uri(path):
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as fh:
            line = fh.readline()
        return line.decode(encoding, errors="replace").rstrip("\r\n")
    return FS(spark).read_first_line(path, encoding)


def _read_csv_multiline(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    """Quoted-newline-safe path: Spark multiLine CSV (whole-file read)."""
    from pyspark.sql.window import Window

    df = (
        spark.read.option("header", "true")
        .option("sep", config.delimiter)
        .option("encoding", config.encoding)
        .option("multiLine", "true")
        .option("inferSchema", "false")
        .csv(path)
    )
    check_required_columns(df.columns, config, path)
    w = Window.orderBy(F.monotonically_increasing_id())
    first_data_row = 2 + config.skip_rows
    return df.withColumn(
        FILE_ROW_COL, (F.row_number().over(w) + 1).cast("long")
    ).filter(F.col(FILE_ROW_COL) >= first_data_row)


def read_csv(spark: SparkSession, path: str, config: SourceConfig) -> DataFrame:
    if config.multiline:
        return _read_csv_multiline(spark, path, config)
    header_line = _read_header_line(spark, path, config.encoding)
    if not header_line.strip() or not any(
        h.strip() for h in header_line.split(config.delimiter)
    ):
        raise MissingHeaderError("missing or blank header row", path)
    headers = next(
        pycsv.reader(io.StringIO(header_line), delimiter=config.delimiter)
    )
    headers = [h.strip() or f"_c{i}" for i, h in enumerate(headers)]
    check_required_columns(headers, config, path)

    # Deterministic file-order index, fully JVM-side (no Python row traffic):
    # monotonically_increasing_id encodes (scan_partition_id << 33 | row-in-
    # partition), and text-file scan partitions are byte-offset-ordered splits,
    # so global row = per-partition offset + within-partition counter. The
    # offsets of a multi-partition scan come from one tiny count-per-partition
    # job (numPartitions rows collected), mirroring zipWithIndex's extra job
    # without its per-row JVM->Python->JVM serialization.
    text = spark.read.text(path)
    lines = text.select(
        "value",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    counts = {}
    if text.rdd.getNumPartitions() > 1:
        counts = {
            r["_pid"]: r["cnt"]
            for r in lines.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    offset_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    ) if offsets else F.create_map()
    within_partition = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    indexed = lines.select(
        "value",
        (
            F.coalesce(F.try_element_at(offset_map, F.col("_pid")), F.lit(0))
            + within_partition
            + 1  # 1-based: header = 1
        ).cast("long").alias(FILE_ROW_COL),
    )
    first_data_row = 2 + config.skip_rows
    data = indexed.filter(F.col(FILE_ROW_COL) >= first_data_row)

    schema_ddl = ", ".join(f"`{h}` string" for h in headers)
    parsed = data.select(
        F.from_csv(
            F.col("value"),
            schema_ddl,
            {"sep": config.delimiter, "mode": "PERMISSIVE"},
        ).alias("_r"),
        F.col(FILE_ROW_COL),
    )
    return parsed.select(*[F.col(f"_r.`{h}`").alias(h) for h in headers], F.col(FILE_ROW_COL))
