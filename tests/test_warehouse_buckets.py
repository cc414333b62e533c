"""Bounded-rewrite merge: grain-bucketed COW snapshots.

A second load must rewrite only the grain-hash buckets its stage rows touch;
every other bucket directory carries over as hard links (same inode) — the
local-FS analogue of Delta's file-level rewrite. Reference parity: the
reference's MERGE touches only matched/inserted rows server-side
(publish/postgresql.py:24-43); an O(target) rewrite per file would be
quadratic over a backfill.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.config import FieldSpec, SourceConfig
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.plans.pipeline import PipelineRunner
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse, grain_bucket

from pyspark.sql import types as T


def _cfg(tmp_path, threshold=0.0):
    return SourceConfig(
        name="sales",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("id", T.LongType(), nullable=False),
            FieldSpec("amount", T.DoubleType()),
        ],
        grain=["id"],
    )


def _write_csv(path: Path, rows: list[tuple[int, float]]):
    with open(path, "w") as f:
        f.write("id,amount\n")
        for i, a in rows:
            f.write(f"{i},{a}\n")


def _inodes(version_dir: Path) -> dict[str, int]:
    """bucket-dir name -> inode of its first parquet part file."""
    out = {}
    for sub in sorted(version_dir.iterdir()):
        if sub.is_dir() and sub.name.startswith(f"{BUCKET_COL}="):
            parts = sorted(p for p in sub.rglob("*.parquet"))
            if parts:
                out[sub.name] = os.stat(parts[0]).st_ino
    return out


def test_second_load_rewrites_only_touched_buckets(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    cfg = _cfg(tmp_path)

    f1 = tmp_path / "sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, 101)])
    r1 = PipelineRunner(spark, wh, cfg, str(f1)).run()
    assert r1.success and r1.counts.inserts == 100

    v1 = tmp_path / "wh" / "sales" / "_v0"
    inodes_before = _inodes(v1)
    assert len(inodes_before) > 1  # data spread over several buckets

    # second file updates ONE grain value -> touches exactly one bucket
    f2 = tmp_path / "sales_2.csv"
    _write_csv(f2, [(1, 999.0)])
    r2 = PipelineRunner(spark, wh, cfg, str(f2)).run()
    assert r2.success and r2.counts.updates == 1 and r2.counts.inserts == 0

    v2 = tmp_path / "wh" / "sales" / "_v1"
    inodes_after = _inodes(v2)
    assert set(inodes_after) == set(inodes_before)

    bucket_of_1 = (
        spark.createDataFrame([(1,)], "id long")
        .select(grain_bucket(["id"], 8).alias("b"))
        .collect()[0]["b"]
    )
    touched_dir = f"{BUCKET_COL}={bucket_of_1}"

    changed = {d for d in inodes_before if inodes_after[d] != inodes_before[d]}
    assert changed == {touched_dir}, (
        f"expected only {touched_dir} rewritten, got {changed}"
    )

    # correctness: merged contents
    rows = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert rows[1] == 999.0 and rows[2] == 2.0 and len(rows) == 100
    # bucket col never leaks to readers
    assert BUCKET_COL not in wh.read_table("sales").columns


def test_bucket_pruned_read_plan(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    df = spark.range(200).select(
        F.col("id"), F.col("id").cast("double").alias("amount")
    )
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 8)), touched_buckets=None
    )
    pruned = wh.read_table_buckets("t", [3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # only bucket-3 rows come back
    got = {r["id"] for r in pruned.collect()}
    expect = {
        r["id"]
        for r in df.select("id")
        .withColumn("b", grain_bucket(["id"], 8))
        .filter(F.col("b") == 3)
        .collect()
    }
    assert got == expect and got


def test_bucket_count_persisted_across_warehouse_instances(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    df = spark.range(50).select(F.col("id"))
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 4)), touched_buckets=None
    )
    # a new instance configured differently must keep using the table's 4
    wh2 = Warehouse(spark, str(tmp_path / "wh"), n_buckets=64)
    assert wh2.table_buckets("t") == 4


def test_schema_evolution_forces_full_rewrite(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    cfg = _cfg(tmp_path)
    f1 = tmp_path / "sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, 51)])
    assert PipelineRunner(spark, wh, cfg, str(f1)).run().success

    cfg2 = SourceConfig(
        name="sales",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=cfg.fields + [FieldSpec("note", T.StringType())],
        grain=["id"],
    )
    f2 = tmp_path / "sales_2.csv"
    with open(f2, "w") as f:
        f.write("id,amount,note\n1,999.0,hi\n")
    assert PipelineRunner(spark, wh, cfg2, str(f2)).run().success

    out = wh.read_table("sales")
    assert "note" in out.columns
    rows = {r["id"]: (r["amount"], r["note"]) for r in out.collect()}
    assert rows[1] == (999.0, "hi")
    assert rows[2] == (2.0, None)  # untouched rows gained a typed null


def test_compact_preserves_bucket_layout(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    df = spark.range(100).select(F.col("id"))
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 4)), touched_buckets=None
    )
    # a second single-bucket merge fragments that bucket's file set
    extra = spark.range(100, 110).select(F.col("id")).withColumn(
        BUCKET_COL, grain_bucket(["id"], 4)
    )
    touched = sorted(r[0] for r in extra.select(BUCKET_COL).distinct().collect())
    base = wh.read_table_buckets("t", touched).withColumn(
        BUCKET_COL, grain_bucket(["id"], 4)
    )
    wh.merge_overwrite("t", base.unionByName(extra), touched_buckets=touched)
    assert wh.read_table("t").count() == 110

    wh.compact("t")
    vdirs = sorted(
        p for p in (tmp_path / "wh" / "t").iterdir() if p.name.startswith("_v")
    )
    bucket_dirs = {p.name for p in vdirs[-1].iterdir() if p.name.startswith(BUCKET_COL)}
    assert bucket_dirs  # layout survived
    assert wh.read_table("t").count() == 110
    assert BUCKET_COL not in wh.read_table("t").columns


def test_copy_carry_mode_rewrites_only_touched_buckets(spark, tmp_path):
    # Object-store-safe path: a URI root carries untouched buckets by
    # recursive copy. Same bounded-rewrite semantics, no hard links anywhere.
    wh = Warehouse(spark, f"file://{tmp_path}/wh", n_buckets=8)
    cfg = _cfg(tmp_path)

    f1 = tmp_path / "sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, 101)])
    assert PipelineRunner(spark, wh, cfg, str(f1)).run().success

    v1 = tmp_path / "wh" / "sales" / "_v0"
    inodes_before = _inodes(v1)
    assert len(inodes_before) > 1

    f2 = tmp_path / "sales_2.csv"
    _write_csv(f2, [(1, 999.0)])
    r2 = PipelineRunner(spark, wh, cfg, str(f2)).run()
    assert r2.success and r2.counts.updates == 1 and r2.counts.inserts == 0

    v2 = tmp_path / "wh" / "sales" / "_v1"
    inodes_after = _inodes(v2)
    assert set(inodes_after) == set(inodes_before)
    # copies, not links: NO new-snapshot file shares an inode with v0, and
    # every carried part file has link count 1
    assert not set(inodes_after.values()) & set(inodes_before.values())
    for sub in v2.iterdir():
        if sub.is_dir() and sub.name.startswith(f"{BUCKET_COL}="):
            for p in sub.rglob("*.parquet"):
                assert os.stat(p).st_nlink == 1

    rows = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert rows[1] == 999.0 and rows[2] == 2.0 and len(rows) == 100


def test_uri_warehouse_bounded_merge(spark, tmp_path):
    # A warehouse rooted at a Hadoop-FS URI (file:/ stands in for s3a/abfss/
    # gs — same FileSystem API) must support the full bounded-merge cycle:
    # versioned writes, bucket meta, copy carry-over, prune.
    root = f"file://{tmp_path}/uwh"
    wh = Warehouse(spark, root, n_buckets=4)

    df = spark.range(100).select(
        F.col("id"), F.col("id").cast("double").alias("amount")
    )
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 4)), touched_buckets=None
    )
    assert wh.table_buckets("t") == 4
    assert wh.read_table("t").count() == 100

    # single-bucket update through the URI path
    upd = spark.createDataFrame([(1, 999.0)], "id long, amount double").withColumn(
        BUCKET_COL, grain_bucket(["id"], 4)
    )
    touched = [r[0] for r in upd.select(BUCKET_COL).distinct().collect()]
    base = wh.read_table_buckets("t", touched)
    merged = (
        base.filter(~F.col("id").isin([1]))
        .unionByName(upd.drop(BUCKET_COL))
        .withColumn(BUCKET_COL, grain_bucket(["id"], 4))
    )
    wh.merge_overwrite("t", merged, touched_buckets=touched)

    rows = {r["id"]: r["amount"] for r in wh.read_table("t").collect()}
    assert rows[1] == 999.0 and rows[2] == 2.0 and len(rows) == 100
    assert wh.table_versions("t") == [0, 1]


def test_rebucket_changes_layout_and_later_merges_prune(spark, tmp_path):
    # a table created with 4 buckets outgrows them; rebucket to 16 and the
    # next single-grain merge must touch exactly one of the NEW buckets
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    cfg = _cfg(tmp_path)
    f1 = tmp_path / "sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, 101)])
    assert PipelineRunner(spark, wh, cfg, str(f1)).run().success
    assert wh.table_buckets("sales") == 4

    wh.rebucket("sales", ["id"], 16)
    assert wh.table_buckets("sales") == 16
    rows = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert len(rows) == 100 and rows[7] == 7.0  # contents survive the rewrite

    vdirs = sorted(
        p.name for p in (tmp_path / "wh" / "sales").iterdir() if p.name.startswith("_v")
    )
    latest = tmp_path / "wh" / "sales" / vdirs[-1]
    n_dirs = len([p for p in latest.iterdir() if p.name.startswith(f"{BUCKET_COL}=")])
    assert n_dirs > 4  # data actually spread over the new layout

    # a fresh Warehouse instance picks up the persisted 16 and merges prune
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    f2 = tmp_path / "sales_2.csv"
    _write_csv(f2, [(1, 999.0)])
    before = _inodes(latest)
    r2 = PipelineRunner(spark, wh2, cfg, str(f2)).run()
    assert r2.success and r2.counts.updates == 1
    after = _inodes(tmp_path / "wh" / "sales" / "_v2")
    bucket_of_1 = (
        spark.createDataFrame([(1,)], "id long")
        .select(grain_bucket(["id"], 16).alias("b"))
        .collect()[0]["b"]
    )
    changed = {d for d in before if after.get(d) != before[d]}
    assert changed == {f"{BUCKET_COL}={bucket_of_1}"}

    # guardrails
    with pytest.raises(FileNotFoundError):
        wh.rebucket("missing", ["id"], 8)


def test_append_refused_on_bucketed_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    df = spark.range(10).select(F.col("id"))
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 4)), touched_buckets=None
    )
    # bare part files at the root of a hive layout would be silently
    # invisible to readers — the API refuses instead of losing rows
    with pytest.raises(ValueError, match="merge_overwrite"):
        wh.append("t", spark.range(10, 12).select(F.col("id")))
