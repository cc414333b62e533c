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
from etl_file_loader_spark.plans.warehouse import Warehouse

N_ROWS = 1000


class Injected(RuntimeError):
    pass


def _load(spark, root: str) -> Warehouse:
    wh = Warehouse(spark, root)
    df = spark.range(N_ROWS).select(
        F.col("id"), F.col("id").cast("double").alias("amount")
    )
    wh.overwrite("t", df)
    return wh


def _update_one(spark, wh: Warehouse, amount: float = 999.0) -> None:
    """Read-merge-write changing row 1: a new snapshot built from the
    current one."""
    upd = spark.createDataFrame([(1, amount)], "id long, amount double")
    with wh.mutate("t"):
        merged = wh.read_table("t").filter(F.col("id") != 1).unionByName(upd)
        wh.overwrite("t", merged)


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
        wh.overwrite("t", bad)
    assert wh.table_versions("t") == [0]
    assert _rows(wh) == before

    _update_one(spark, wh)
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
    """A file whose publish crashed between staging and rename is not
    recorded as loaded: re-running it lands the same target and DLQ as a
    clean run."""
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

    clean = Warehouse(spark, str(tmp_path / "clean"))
    assert load(clean, first).success and load(clean, second).success

    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert load(wh, first).success
    before = wh.read_table("sales").count()

    real_rename = FS.rename

    def crash_target_rename(self, src, dst):
        # only the target's publish: the DLQ and run-log commits go through
        if "/sales/" in dst:
            raise Injected("crash between staging and rename")
        real_rename(self, src, dst)

    monkeypatch.setattr(FS, "rename", crash_target_rename)
    with pytest.raises(Injected):
        load(wh, second)
    assert wh.read_table("sales").count() == before == 200

    monkeypatch.setattr(FS, "rename", real_rename)
    r = load(wh, second)
    assert r.success and (r.counts.inserts, r.counts.updates) == (1, 1)
    assert state(wh) == state(clean)


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


def test_recreated_table_never_reads_a_stale_schema(spark, tmp_path):
    """A warehouse reuses the schema it inferred for a committed snapshot,
    keyed by the marker's token: a table dropped and re-created at the same
    version with another schema reads the new schema, through the same
    ``Warehouse`` and through one that did not write it."""
    root = str(tmp_path / "wh")
    wh, other = Warehouse(spark, root), Warehouse(spark, root)
    wh.overwrite("t", spark.createDataFrame([(1,)], "a long"))
    assert wh.read_table("t").columns == ["a"]
    assert wh.read_table("t").columns == ["a"]  # from the memo
    wh.drop("t")
    wh.overwrite("t", spark.createDataFrame([("x",)], "b string"))
    assert wh.read_table("t").collect() == [("x",)]
    other.drop("t")
    other.overwrite("t", spark.createDataFrame([(2.5, 1)], "c double, d int"))
    assert wh.table_versions("t") == [0]
    assert wh.read_table("t").columns == ["c", "d"]
    assert wh.read_table("t").collect() == [(2.5, 1)]
    # appends keep the commit's marker, so the memo still applies
    wh.append("t", spark.createDataFrame([(3.5, 2)], "c double, d int"))
    assert sorted(wh.read_table("t").collect()) == [(2.5, 1), (3.5, 2)]
