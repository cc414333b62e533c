"""Durable state for the maintained-index family.

LinkageIndex / NearDupIndex / HLLIndex and the other maintained indexes keep
their state in-session (pinned / localCheckpointed frames); ``save`` writes
it durably so a later session resumes without re-signing, re-lowering or
re-sketching anything. State is plain parquet on any path or Hadoop-FS URI
the session can reach; config rides alongside as a one-row JSON parquet.
The artifact stays engine-portable: DuckDB reads the registers/bands
directly, which the suite oracles exploit.

Layout: each save is one versioned snapshot ``path/snapshot_v<N>`` holding
``state/`` (the index frame) and ``meta/`` (one JSON row), published by
:func:`etl_file_loader_spark.snapshots.commit`. ``load_index_state`` reads
the latest committed snapshot, so a crash at any step of a save leaves the
previous save loadable; older snapshots are deleted after the commit.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from etl_file_loader_spark import snapshots
from etl_file_loader_spark.fs import FS

PREFIX = "snapshot_v"


def _write_meta(spark: SparkSession, meta: dict, path: str) -> None:
    """One-row meta parquet, built JVM-side: a ``range(1).select(lit(...))``
    plan writes it in one JVM task, where ``createDataFrame`` would pay a
    Python-worker round trip per partition."""
    from pyspark.sql import functions as F

    spark.range(1).select(F.lit(json.dumps(meta)).alias("meta")).write.mode(
        "overwrite"
    ).parquet(path)


def save_index_state(state: DataFrame, meta: dict, path: str) -> None:
    spark = state.sparkSession
    fs = FS(spark)
    base = path.rstrip("/")
    versions = snapshots.committed(fs, base, PREFIX)

    def write(staging: str) -> None:
        state.write.mode("overwrite").parquet(f"{staging}/state")
        _write_meta(spark, meta, f"{staging}/meta")

    snapshots.commit(fs, base, PREFIX, versions[-1] + 1 if versions else 0, write)
    for v in versions:
        fs.rmtree(f"{base}/{PREFIX}{v}")


def load_index_state(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    fs = FS(spark)
    base = path.rstrip("/")
    versions = snapshots.committed(fs, base, PREFIX)
    if not versions:
        raise FileNotFoundError(
            f"no index state at {base}: no {PREFIX}<N> directory holds a "
            f"{snapshots.MARKER} marker (is the path right, and did a save "
            "complete?)"
        )
    snap = f"{base}/{PREFIX}{versions[-1]}"
    meta = json.loads(spark.read.parquet(f"{snap}/meta").head().meta)
    return spark.read.parquet(f"{snap}/state"), meta
