"""End-to-end CSV pipeline behavior matrix (reference src/tests/test_csv.py)."""

import gzip
import json
import time

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.exceptions import (
    AuditFailedError,
    DuplicateFileError,
    GrainValidationError,
    MissingColumnsError,
    MissingHeaderError,
    NoDataInFileError,
    ValidationThresholdExceededError,
)
from etl_file_loader_spark.operators import validate as validate_ops
from etl_file_loader_spark.operators.hashing import HASH_COL, with_row_hash
from etl_file_loader_spark.plans.batch import batch_ingest
from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, PipelineRunner
from etl_file_loader_spark.plans.runlog import LOG_TABLE
from etl_file_loader_spark.sources import read_source
from tests.sources_fixtures import (
    CSV_BELOW_THRESHOLD,
    CSV_BLANK_HEADER,
    CSV_DUPLICATES,
    CSV_FAIL_AUDIT,
    CSV_GOOD,
    CSV_HEADER,
    CSV_MISSING_COLUMNS,
    CSV_VALIDATION_ERROR,
    transactions_source,
)


def write_file(tmp_path, name, content):
    p = tmp_path / name
    if name.endswith(".gz"):
        p.write_bytes(gzip.compress(content.encode()))
    else:
        p.write_text(content)
    return str(p)


def run(spark, warehouse, tmp_path, content, name="sales_2024.csv", **cfg):
    path = write_file(tmp_path, name, content)
    return PipelineRunner(
        spark, warehouse, transactions_source(**cfg), path
    ).run()


def test_happy_path(spark, warehouse, tmp_path):
    result = run(spark, warehouse, tmp_path, CSV_GOOD)
    assert result.success
    assert result.counts.inserts == 3 and result.counts.updates == 0

    target = warehouse.read_table("transactions")
    assert target.count() == 3
    row = target.filter(F.col("transaction_id") == "TXN001").collect()[0]
    assert row["quantity"] == 2
    assert row["unit_price"] == 10.50
    assert str(row["sale_date"]) == "2024-01-05"
    assert row["source_filename"] == "sales_2024.csv"
    assert row["etl_row_hash"] is not None
    assert row["etl_created_at"] is not None
    assert row["etl_updated_at"] is None


def test_idempotent_reload_rejected(spark, warehouse, tmp_path):
    run(spark, warehouse, tmp_path, CSV_GOOD)
    with pytest.raises(DuplicateFileError):
        run(spark, warehouse, tmp_path, CSV_GOOD)


def test_upsert_update_path(spark, warehouse, tmp_path):
    run(spark, warehouse, tmp_path, CSV_GOOD, name="sales_a.csv")
    changed = CSV_GOOD.replace("TXN001,CUST01,SKU-1,2,10.50", "TXN001,CUST01,SKU-1,9,10.50")
    result = run(spark, warehouse, tmp_path, changed, name="sales_b.csv")
    assert result.counts.inserts == 0
    assert result.counts.updates == 1
    assert result.counts.unchanged == 2
    target = warehouse.read_table("transactions")
    row = target.filter(F.col("transaction_id") == "TXN001").collect()[0]
    assert row["quantity"] == 9
    assert row["etl_updated_at"] is not None
    unchanged = target.filter(F.col("transaction_id") == "TXN002").collect()[0]
    assert unchanged["etl_updated_at"] is None
    assert unchanged["source_filename"] == "sales_a.csv"


def test_duplicate_grain(spark, warehouse, tmp_path):
    with pytest.raises(GrainValidationError) as exc:
        run(spark, warehouse, tmp_path, CSV_DUPLICATES)
    assert exc.value.examples[0]["transaction_id"] == "TXN001"
    assert exc.value.examples[0]["duplicate_count"] == 2


def test_validation_error_to_dlq(spark, warehouse, tmp_path):
    with pytest.raises(ValidationThresholdExceededError):
        run(spark, warehouse, tmp_path, CSV_VALIDATION_ERROR)
    dlq = warehouse.read_table(DLQ_TABLE).collect()
    assert len(dlq) == 1
    rec = dlq[0]
    assert rec["file_row_number"] == 2  # 1-based file row, header = 1
    errors = json.loads(rec["validation_errors"])
    assert errors[0]["column_name"] == "unit_price"
    assert errors[0]["column_value"] == "asdf"
    assert errors[0]["error_type"] == "cast_error"
    payload = json.loads(rec["file_record_data"])
    assert "transaction_id" in payload  # grain always included
    assert "unit_price" in payload


def test_below_threshold_succeeds(spark, warehouse, tmp_path):
    result = run(
        spark, warehouse, tmp_path, CSV_BELOW_THRESHOLD,
        validation_error_threshold=0.15,
    )
    assert result.success
    assert warehouse.read_table("transactions").count() == 9
    assert warehouse.read_table(DLQ_TABLE).count() == 1


def test_missing_columns(spark, warehouse, tmp_path):
    with pytest.raises(MissingColumnsError) as exc:
        run(spark, warehouse, tmp_path, CSV_MISSING_COLUMNS)
    assert exc.value.missing == ["sale_date"]


def test_blank_header(spark, warehouse, tmp_path):
    with pytest.raises(MissingHeaderError):
        run(spark, warehouse, tmp_path, CSV_BLANK_HEADER)


def test_empty_file(spark, warehouse, tmp_path):
    with pytest.raises(MissingHeaderError):
        run(spark, warehouse, tmp_path, "")


def test_audit_failure(spark, warehouse, tmp_path):
    with pytest.raises(AuditFailedError) as exc:
        run(spark, warehouse, tmp_path, CSV_FAIL_AUDIT)
    assert exc.value.failed_audits == ["unit_price_positive"]


def test_gzip_roundtrip(spark, warehouse, tmp_path):
    result = run(spark, warehouse, tmp_path, CSV_GOOD, name="sales_2024.csv.gz")
    assert result.success
    assert warehouse.read_table("transactions").count() == 3


def test_dlq_cleanup_on_reprocess(spark, warehouse, tmp_path):
    with pytest.raises(ValidationThresholdExceededError):
        run(spark, warehouse, tmp_path, CSV_VALIDATION_ERROR)
    assert warehouse.read_table(DLQ_TABLE).count() == 1
    # reprocess same filename with still-bad data below threshold:
    # old DLQ rows for this file (earlier log id) must be removed
    result = run(
        spark, warehouse, tmp_path, CSV_VALIDATION_ERROR,
        validation_error_threshold=0.9,
    )
    assert result.success
    dlq = warehouse.read_table(DLQ_TABLE).collect()
    assert len(dlq) == 1  # only the new run's row remains


def test_on_stage_hook_streams_stage_completions(spark, warehouse, tmp_path):
    """The run-log on_stage hook (CLI --stages) fires once per completed
    stage, in execution order, with success + timing fields populated."""
    seen = []
    path = write_file(tmp_path, "sales_2024.csv", CSV_GOOD)
    result = PipelineRunner(
        spark, warehouse, transactions_source(), path, on_stage=seen.append
    ).run()
    assert result.success
    stages = [e["stage"] for e in seen]
    assert stages[:3] == ["check_if_processed", "read_data", "validate_data"]
    assert "publish_data" in stages and "cleanup_dlq_records" in stages
    assert all(e["success"] for e in seen)
    assert all(e["ended_at"] >= e["started_at"] for e in seen)
    publish = next(e for e in seen if e["stage"] == "publish_data")
    assert publish["row_count"] == 3


# TXN001 updated, TXN002 unchanged, TXN004 new, TXN005 invalid (DLQ)
CSV_MIXED = f"""{CSV_HEADER}
TXN001,CUST01,SKU-1,9,10.50,21.00,2024-01-05,alice
TXN002,CUST02,SKU-2,1,5.25,5.25,2024-01-06,bob
TXN004,CUST03,SKU-4,3,1.00,3.00,2024-01-08,carol
TXN005,CUST03,SKU-4,x,1.00,3.00,2024-01-08,carol
"""


def stage_hashes(spark, cfg, path) -> dict:
    """grain -> row hash of the valid rows of one file, built from the
    read/validate/hash operators alone (no merge, no observation)."""
    renamed = validate_ops.rename_and_prune(read_source(spark, path, cfg), cfg)
    valid, _ = validate_ops.split(validate_ops.validate(renamed, cfg))
    rows = with_row_hash(valid, cfg).select(*cfg.grain, HASH_COL).collect()
    return {tuple(r[g] for g in cfg.grain): r[HASH_COL] for r in rows}


def joined_counts(warehouse, cfg, stage: dict) -> tuple[int, int, int]:
    """(inserts, updates, unchanged) of ``stage`` against the current
    snapshot, joined on the grain driver-side."""
    target = {}
    if warehouse.exists(cfg.target_table):
        for r in warehouse.read_table(cfg.target_table).collect():
            target[tuple(r[g] for g in cfg.grain)] = r[HASH_COL]
    inserts = sum(1 for k in stage if k not in target)
    updates = sum(1 for k, h in stage.items() if k in target and target[k] != h)
    return inserts, updates, len(stage) - inserts - updates


@pytest.mark.parametrize(
    "overrides",
    [{}, {"merge_salt_buckets": 8}, {"target_partition_by": ["sale_date"]}],
    ids=["plain", "salted", "partitioned"],
)
def test_observed_counts_equal_a_join_against_the_previous_snapshot(
    spark, warehouse, tmp_path, overrides
):
    """Publish counts are observed on the merge write; they equal an
    independent join of the stage against the snapshot it merges into, on
    a first load and on a mixed insert/update/unchanged file."""
    cfg = transactions_source(validation_error_threshold=0.5, **overrides)
    for name, content, want in [
        ("sales_a.csv", CSV_GOOD, (3, 0, 0)),
        ("sales_b.csv", CSV_MIXED, (1, 1, 1)),
    ]:
        path = write_file(tmp_path, name, content)
        joined = joined_counts(warehouse, cfg, stage_hashes(spark, cfg, path))
        counts = PipelineRunner(spark, warehouse, cfg, path).run().counts
        assert (counts.inserts, counts.updates, counts.unchanged) == joined == want
    assert warehouse.read_table("transactions").count() == 4


def test_batch_ingest_observed_counts_equal_a_join(spark, warehouse, tmp_path):
    """batch_ingest over two files: the later file wins a shared grain, and
    the observed counts equal the join of that stage against the target."""
    cfg = transactions_source(validation_error_threshold=0.5)
    assert run(spark, warehouse, tmp_path, CSV_GOOD, name="sales_a.csv").success
    c = write_file(tmp_path, "sales_c.csv", f"""{CSV_HEADER}
TXN001,CUST01,SKU-1,7,10.50,21.00,2024-01-05,alice
TXN004,CUST03,SKU-4,3,1.00,3.00,2024-01-08,carol
""")
    d = write_file(tmp_path, "sales_d.csv", f"""{CSV_HEADER}
TXN001,CUST01,SKU-1,8,10.50,21.00,2024-01-05,alice
TXN002,CUST02,SKU-2,1,5.25,5.25,2024-01-06,bob
TXN005,CUST03,SKU-5,2,1.00,2.00,2024-01-08,carol
""")
    stage = {**stage_hashes(spark, cfg, c), **stage_hashes(spark, cfg, d)}
    inserts, updates, _ = joined_counts(warehouse, cfg, stage)
    result = batch_ingest(spark, warehouse, cfg, [c, d])
    assert (result.inserts, result.updates) == (inserts, updates) == (2, 1)
    row = warehouse.read_table("transactions").filter(F.col("transaction_id") == "TXN001").first()
    assert row["quantity"] == 8


def test_second_upsert_runs_at_most_16_jobs(spark, warehouse, tmp_path):
    """Every count a load reports or checks rides an action it already
    runs: the publish counts ride the merge write, the grain check rides
    the validation aggregate, a one-partition CSV read runs no job, and a
    snapshot's schema is inferred once. The parent design ran 28 jobs for
    this load (30 for perfbench's 2,000-row customers file)."""
    assert run(spark, warehouse, tmp_path, CSV_GOOD, name="sales_a.csv").success
    sc = spark.sparkContext
    group = "second-upsert"
    sc.setJobGroup(group, group)
    try:
        result = run(spark, warehouse, tmp_path, CSV_MIXED.rsplit("TXN005", 1)[0],
                     name="sales_b.csv")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert result.success
    # the status store is fed asynchronously: wait until the list is stable
    jobs, deadline = None, time.monotonic() + 10
    while time.monotonic() < deadline:
        now = sorted(sc.statusTracker().getJobIdsForGroup(group))
        if now == jobs:
            break
        jobs = now
        time.sleep(0.2)
    assert 0 < len(jobs) <= 16


def test_header_only_csv_fails_validation_with_no_data(spark, warehouse, tmp_path):
    """A file with a header and no rows reads as an empty frame; the
    validation count raises NoDataInFileError and the run log marks
    validate_data as the failed stage."""
    with pytest.raises(NoDataInFileError):
        run(spark, warehouse, tmp_path, CSV_HEADER + "\n")
    log = {r["stage"]: r["success"] for r in warehouse.read_table(LOG_TABLE).collect()}
    assert log["read_data"] is True
    assert log["validate_data"] is False
    assert not warehouse.exists("transactions")


def test_multi_partition_csv_keeps_file_order_row_numbers(spark, warehouse, tmp_path):
    """A CSV scanned as several partitions numbers its rows by the
    per-partition offsets job, so DLQ rows keep their file-order
    ``file_row_number``."""
    bad = {7, 23, 41, 58}  # 1-based data-row positions of invalid rows
    rows = [
        f"TXN{i:03d},CUST01,SKU-1,1,{'asdf' if i in bad else '1.00'},1.00,2024-01-05,alice"
        for i in range(1, 61)
    ]
    path = write_file(tmp_path, "sales_big.csv", CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        assert spark.read.text(path).rdd.getNumPartitions() > 1
        result = PipelineRunner(
            spark, warehouse, transactions_source(validation_error_threshold=0.5), path
        ).run()
    finally:
        spark.conf.set(key, old)
    assert result.success and result.counts.inserts == 60 - len(bad)
    dlq = warehouse.read_table(DLQ_TABLE).collect()
    # header = row 1, so data row i sits on file row i + 1
    assert sorted(r["file_row_number"] for r in dlq) == sorted(i + 1 for i in bad)
    assert all(json.loads(r["file_record_data"])["transaction_id"] == f"TXN{r['file_row_number'] - 1:03d}"
               for r in dlq)
