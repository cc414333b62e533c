"""Fault injection at each step of a snapshot commit.

Every snapshot writer (warehouse tables, index state) publishes through
``snapshots.commit``: a staged write, a ``_SUCCESS`` marker, one rename. A
failure at any step must leave readers on the previous snapshot, and
re-running the same write must reach the table a run without the fault
reaches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark import snapshots
from etl_file_loader_spark.fs import FS
from etl_file_loader_spark.operators import persist
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse, grain_bucket

N_ROWS, N_BUCKETS = 1000, 16


class Injected(RuntimeError):
    pass


def _load(spark, root: str) -> Warehouse:
    wh = Warehouse(spark, root, n_buckets=N_BUCKETS)
    df = spark.range(N_ROWS).select(
        F.col("id"), F.col("id").cast("double").alias("amount")
    )
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], N_BUCKETS)), None
    )
    return wh


def _update_one(
    spark, wh: Warehouse, amount: float = 999.0, n_buckets: int = N_BUCKETS
) -> None:
    """Bounded merge changing row 1: rewrites its bucket and carries the
    others."""
    upd = spark.createDataFrame([(1, amount)], "id long, amount double")
    touched = [r[0] for r in upd.select(grain_bucket(["id"], n_buckets)).collect()]
    merged = (
        wh.read_table_buckets("t", touched)
        .filter(F.col("id") != 1)
        .unionByName(upd)
        .withColumn(BUCKET_COL, grain_bucket(["id"], n_buckets))
    )
    wh.merge_overwrite("t", merged, touched_buckets=touched)


def _rows(wh: Warehouse) -> list[tuple]:
    return sorted(map(tuple, wh.read_table("t").collect()))


def _leftovers(root: str) -> list[str]:
    return [n for n in FS(None).list_names(f"{root}/t") if not n.startswith("_v")]


@pytest.fixture
def no_fault(spark, tmp_path):
    """The table a faultless load-then-update reaches."""
    wh = _load(spark, str(tmp_path / "clean"))
    _update_one(spark, wh)
    return _rows(wh)


def test_commit_refuses_a_second_commit_of_one_version(tmp_path):
    fs, root = FS(None), str(tmp_path / "chain")

    def write(text):
        def fill(staging):
            fs.mkdirs(staging)
            fs.write_text(f"{staging}/data", text)

        return fill

    snapshots.commit(fs, root, "v", 0, write("first"))
    with pytest.raises(FileExistsError):
        snapshots.commit(fs, root, "v", 0, write("second"))
    assert snapshots.committed(fs, root, "v") == [0]
    assert fs.read_text(f"{root}/v0/data") == "first"
    assert fs.list_names(root) == ["v0"]  # the loser's staging is gone


def test_commit_ignores_and_replaces_a_markerless_version(tmp_path):
    fs, root = FS(None), str(tmp_path / "chain")
    fs.mkdirs(f"{root}/v0")  # written in place by a crashed writer
    assert snapshots.committed(fs, root, "v") == []
    snapshots.commit(fs, root, "v", 0, lambda s: fs.mkdirs(s))
    assert snapshots.committed(fs, root, "v") == [0]


def test_crash_in_spark_write_keeps_previous_snapshot(spark, tmp_path, no_fault):
    root = str(tmp_path / "wh")
    wh = _load(spark, root)
    before = _rows(wh)
    bad = spark.range(N_ROWS).select(
        F.col("id"),
        F.when(F.col("id") == 500, F.raise_error(F.lit("injected")))
        .otherwise(F.col("id").cast("double"))
        .alias("amount"),
    )
    with pytest.raises(Exception, match="injected"):
        wh.merge_overwrite(
            "t", bad.withColumn(BUCKET_COL, grain_bucket(["id"], N_BUCKETS)), None
        )
    assert wh.table_versions("t") == [0]
    assert _rows(wh) == before

    _update_one(spark, wh)
    assert _rows(wh) == no_fault
    assert _leftovers(root) == []


def test_crash_in_carry_over_keeps_previous_snapshot(
    spark, tmp_path, monkeypatch, no_fault
):
    root = str(tmp_path / "wh")
    wh = _load(spark, root)
    real_carry, carried = Warehouse._carry, []

    def carry_then_crash(self, src, dst):
        if len(carried) == 3:
            raise Injected("crash after 3 carry-overs")
        carried.append(src)
        real_carry(self, src, dst)

    monkeypatch.setattr(Warehouse, "_carry", carry_then_crash)
    with pytest.raises(Injected):
        _update_one(spark, wh)
    assert wh.table_versions("t") == [0]
    assert wh.read_table("t").count() == N_ROWS
    assert dict(_rows(wh))[1] == 1.0

    monkeypatch.setattr(Warehouse, "_carry", real_carry)
    _update_one(spark, wh)
    assert wh.table_versions("t") == [0, 1]
    assert _rows(wh) == no_fault
    assert _leftovers(root) == []


def test_crash_before_rename_keeps_previous_snapshot(
    spark, tmp_path, monkeypatch, no_fault
):
    root = str(tmp_path / "wh")
    wh = _load(spark, root)

    def crash(self, src, dst):
        raise Injected("crash between staging and rename")

    real_rename = FS.rename
    monkeypatch.setattr(FS, "rename", crash)
    with pytest.raises(Injected):
        _update_one(spark, wh)
    assert wh.table_versions("t") == [0]
    assert wh.read_table("t").count() == N_ROWS
    assert len(_leftovers(root)) == 1  # the staged, never-published snapshot

    monkeypatch.setattr(FS, "rename", real_rename)
    _update_one(spark, wh)
    assert _rows(wh) == no_fault
    assert _leftovers(root) == []


def test_crash_in_rebucket_keeps_layout_and_bucket_count(spark, tmp_path, monkeypatch):
    clean = _load(spark, str(tmp_path / "clean"))
    clean.rebucket("t", ["id"], 4)

    wh = _load(spark, str(tmp_path / "wh"))
    before = _rows(wh)

    def crash(self, out, n_buckets):
        raise Injected("crash before the bucket count is written")

    real_meta = Warehouse._write_buckets_meta
    monkeypatch.setattr(Warehouse, "_write_buckets_meta", crash)
    with pytest.raises(Injected):
        wh.rebucket("t", ["id"], 4)
    assert wh.table_versions("t") == [0]
    assert wh.table_buckets("t") == N_BUCKETS
    assert _rows(wh) == before

    monkeypatch.setattr(Warehouse, "_write_buckets_meta", real_meta)
    wh.rebucket("t", ["id"], 4)
    assert wh.table_buckets("t") == clean.table_buckets("t") == 4
    assert _rows(wh) == _rows(clean)
    # a later merge hashes into the committed count
    _update_one(spark, wh, amount=5.0, n_buckets=4)
    assert wh.read_table("t").count() == N_ROWS
    assert dict(_rows(wh))[1] == 5.0


def test_crash_in_save_index_state_keeps_previous_save(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    first = spark.range(3).select(F.col("id").alias("k"))
    second = spark.range(5).select(F.col("id").alias("k"))
    persist.save_index_state(first, {"n": 3}, path)

    real_meta = persist._write_meta

    def crash(spark_, meta, out):
        raise Injected("crash after the state, before the meta")

    monkeypatch.setattr(persist, "_write_meta", crash)
    with pytest.raises(Injected):
        persist.save_index_state(second, {"n": 5}, path)
    state, meta = persist.load_index_state(spark, path)
    assert meta == {"n": 3} and state.count() == 3

    monkeypatch.setattr(persist, "_write_meta", real_meta)
    persist.save_index_state(second, {"n": 5}, path)
    state, meta = persist.load_index_state(spark, path)
    assert meta == {"n": 5} and sorted(r.k for r in state.collect()) == list(range(5))
    assert FS(spark).list_names(path) == ["snapshot_v1"]


def test_pipeline_rerun_after_publish_crash_reaches_no_fault_table(
    spark, tmp_path, monkeypatch
):
    """A file whose publish crashed mid carry-over is not recorded as
    loaded: re-running it lands the same target and DLQ as a clean run."""
    from pyspark.sql import types as T

    from etl_file_loader_spark.config import FieldSpec, SourceConfig
    from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, PipelineRunner

    cfg = SourceConfig(
        name="sales",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("id", T.LongType(), nullable=False),
            FieldSpec("amount", T.DoubleType()),
        ],
        grain=["id"],
        validation_error_threshold=0.5,
    )
    first, second = tmp_path / "sales_1.csv", tmp_path / "sales_2.csv"
    first.write_text("id,amount\n" + "".join(f"{i},{i}.0\n" for i in range(200)))
    second.write_text("id,amount\n1,999.0\n500,5.0\n7,not-a-number\n")

    def load(wh, path):
        return PipelineRunner(spark, wh, cfg, str(path)).run()

    def state(wh):
        target = sorted(
            map(tuple, wh.read_table("sales").select("id", "amount").collect())
        )
        dlq = sorted(r.file_row_number for r in wh.read_table(DLQ_TABLE).collect())
        return target, dlq

    clean = Warehouse(spark, str(tmp_path / "clean"), n_buckets=8)
    assert load(clean, first).success and load(clean, second).success

    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=8)
    assert load(wh, first).success
    before = wh.read_table("sales").count()

    def crash(self, src, dst):
        raise Injected("crash during carry-over")

    real_carry = Warehouse._carry
    monkeypatch.setattr(Warehouse, "_carry", crash)
    with pytest.raises(Injected):
        load(wh, second)
    assert wh.read_table("sales").count() == before == 200

    monkeypatch.setattr(Warehouse, "_carry", real_carry)
    r = load(wh, second)
    assert r.success and (r.counts.inserts, r.counts.updates) == (1, 1)
    assert state(wh) == state(clean)


def test_root_level_bucket_count_is_refused(spark, tmp_path):
    """A table that keeps its bucket count at the table root (the layout
    before counts moved into snapshots) is refused, not merged with a
    guessed count."""
    root = str(tmp_path / "wh")
    wh = _load(spark, root)
    fs = FS(spark)
    fs.rename(f"{root}/t/_v0/_buckets.json", f"{root}/t/_buckets.json")
    before = _rows(wh)

    with pytest.raises(RuntimeError, match="_buckets.json"):
        wh.table_buckets("t")
    with pytest.raises(RuntimeError, match="_buckets.json"):
        _update_one(spark, wh)
    assert wh.table_versions("t") == [0]
    assert _rows(wh) == before

    fs.rename(f"{root}/t/_buckets.json", f"{root}/t/_v0/_buckets.json")
    assert wh.table_buckets("t") == N_BUCKETS


def test_registry_layout_corpus_is_refused_not_overwritten(spark, tmp_path):
    """A corpus root with a ``_versions`` registry and marker-less deltas
    (the layout before deltas carried a marker) is refused: committing
    version 1 over it would delete the user's first delta."""
    from etl_file_loader_spark.plans.curation import CurationConfig, VersionedCorpus

    root = tmp_path / "corpus"
    docs = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    docs.write.parquet(str(root / "delta_v1" / "docs"))
    registry = spark.createDataFrame([(1, "delta_v1")], "version int, delta_path string")
    registry.write.parquet(str(root / "_versions"))
    (root / "delta_v1" / "_SUCCESS").unlink(missing_ok=True)
    vc = VersionedCorpus(spark, str(root), CurationConfig(min_quality=None, scrub_pii=False, near_dedup=False))

    with pytest.raises(RuntimeError, match="_versions"):
        vc.versions()
    with pytest.raises(RuntimeError, match="_versions"):
        vc.ingest(docs)
    assert spark.read.parquet(str(root / "delta_v1" / "docs")).count() == 1
