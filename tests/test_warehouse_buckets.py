"""Warehouse layouts around the MERGE publish.

Every publish rewrites the current snapshot as one plain copy-on-write
snapshot. Tables written by the earlier grain-bucket layout (hive partition
directories ``_grain_bucket=N`` and a ``_buckets.json`` per snapshot) still
read, take upserts and compact, and their next snapshot is plain. ``append``
refuses any snapshot laid out in partition directories, where bare part
files would be invisible to readers.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark.config import FieldSpec, SourceConfig
from etl_file_loader_spark.plans.pipeline import PipelineRunner
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse


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


def _old_layout(spark, tmp_path, name: str, n_rows: int = 100) -> Warehouse:
    """A warehouse whose ``sales`` table was loaded with ids 1..n_rows and
    is stored in the grain-bucket layout: ``_v0/_grain_bucket=N/`` part
    files (plain Spark ``partitionBy``) and ``_v0/_buckets.json``."""
    seed = Warehouse(spark, str(tmp_path / f"{name}_seed"))
    f1 = tmp_path / f"{name}_sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, n_rows + 1)])
    assert PipelineRunner(spark, seed, _cfg(tmp_path), str(f1)).run().success

    v0 = tmp_path / name / "sales" / "_v0"
    seed.read_table("sales").withColumn(
        BUCKET_COL, F.pmod(F.hash(F.col("id")), F.lit(4))
    ).write.partitionBy(BUCKET_COL).parquet(str(v0))
    (v0 / "_buckets.json").write_text('{"n_buckets": 4}')
    assert len(_bucket_dirs(v0)) == 4
    return Warehouse(spark, str(tmp_path / name))


def _bucket_dirs(version_dir: Path) -> list[str]:
    return [p.name for p in version_dir.iterdir() if p.name.startswith(f"{BUCKET_COL}=")]


def _current(tmp_path, name: str) -> Path:
    versions = sorted(
        int(p.name[2:]) for p in (tmp_path / name / "sales").iterdir()
        if p.name.startswith("_v")
    )
    return tmp_path / name / "sales" / f"_v{versions[-1]}"


def test_old_bucket_layout_reads_upserts_and_compacts(spark, tmp_path):
    wh = _old_layout(spark, tmp_path, "wh")
    assert BUCKET_COL not in wh.read_table("sales").columns
    assert wh.read_table("sales").count() == 100

    f2 = tmp_path / "sales_2.csv"
    _write_csv(f2, [(1, 999.0), (101, 101.0)])
    r2 = PipelineRunner(spark, wh, _cfg(tmp_path), str(f2)).run()
    assert r2.success and (r2.counts.inserts, r2.counts.updates) == (1, 1)

    current = _current(tmp_path, "wh")
    assert current.name == "_v1"
    assert _bucket_dirs(current) == []
    assert not (current / "_buckets.json").exists()
    rows = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert len(rows) == 101 and rows[1] == 999.0 and rows[2] == 2.0

    old = _old_layout(spark, tmp_path, "old")
    old.compact("sales")
    assert _bucket_dirs(_current(tmp_path, "old")) == []
    assert old.read_table("sales").count() == 100
    assert BUCKET_COL not in old.read_table("sales").columns


def test_schema_evolution_forces_full_rewrite(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
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


def test_uri_warehouse_bounded_merge(spark, tmp_path):
    # A warehouse rooted at a Hadoop-FS URI (file:/ stands in for s3a/abfss/
    # gs — same FileSystem API) must support the full publish cycle:
    # first load, a MERGE that reads and rewrites the snapshot, prune.
    wh = Warehouse(spark, f"file://{tmp_path}/uwh")
    cfg = _cfg(tmp_path)

    f1 = tmp_path / "sales_1.csv"
    _write_csv(f1, [(i, float(i)) for i in range(1, 101)])
    r1 = PipelineRunner(spark, wh, cfg, str(f1)).run()
    assert r1.success and r1.counts.inserts == 100

    f2 = tmp_path / "sales_2.csv"
    _write_csv(f2, [(1, 999.0), (101, 101.0)])
    r2 = PipelineRunner(spark, wh, cfg, str(f2)).run()
    assert r2.success and (r2.counts.inserts, r2.counts.updates) == (1, 1)

    rows = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert rows[1] == 999.0 and rows[2] == 2.0 and len(rows) == 101
    assert wh.table_versions("sales") == [0, 1]


def test_append_refused_on_bucketed_table(spark, tmp_path):
    # bare part files at the root of a hive layout would be silently
    # invisible to readers — the API refuses instead of losing rows, both
    # on a grain-bucket-layout table and on a partition_by target
    bucketed = _old_layout(spark, tmp_path, "wh")
    extra = bucketed.read_table("sales").limit(1)
    with pytest.raises(ValueError, match="partitioned"):
        bucketed.append("sales", extra)
    assert bucketed.read_table("sales").count() == 100

    wh = Warehouse(spark, str(tmp_path / "pwh"))
    df = spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("k"))
    wh.overwrite("p", df, partition_by=["k"])
    with pytest.raises(ValueError, match="partitioned"):
        wh.append("p", spark.createDataFrame([(10, 0)], "id long, k long"))
    assert wh.read_table("p").count() == 10


def test_compact_keeps_partition_layout(spark, tmp_path):
    """``compact`` of a table written with ``partition_by`` rewrites it in
    the same hive layout, so readers still prune on those columns."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, i % 2, i % 3) for i in range(12)], "id long, k long, j long"
    )
    wh.overwrite("parted", df, partition_by=["k", "j"])
    wh.compact("parted")

    versions = wh.table_versions("parted")
    current = tmp_path / "wh" / "parted" / f"_v{versions[-1]}"
    assert versions[-1] == 1
    assert sorted(p.name for p in current.iterdir() if "=" in p.name) == ["k=0", "k=1"]
    assert sorted(p.name for p in (current / "k=0").iterdir() if "=" in p.name) == [
        "j=0", "j=1", "j=2"
    ]
    assert sorted(tuple(r) for r in wh.read_table("parted").collect()) == sorted(
        tuple(r) for r in df.collect()
    )
