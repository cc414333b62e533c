"""Additional source behaviors: gzip JSON, CSV skip_rows, cleaners in pipeline."""

import gzip
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark.config import FieldSpec, SourceConfig
from etl_file_loader_spark.functions import clean_phone
from etl_file_loader_spark.plans.batch import batch_ingest
from etl_file_loader_spark.plans.pipeline import PipelineRunner
from tests.test_json_excel_parquet import ledger_record, ledger_source


def test_json_gzip(spark, warehouse, tmp_path):
    payload = json.dumps({"entries": {"item": [ledger_record(i) for i in range(1, 4)]}})
    path = tmp_path / "ledger_2024.json.gz"
    path.write_bytes(gzip.compress(payload.encode()))
    cfg = ledger_source(array_path="entries.item", file_pattern="ledger_*.json")
    result = PipelineRunner(spark, warehouse, cfg, str(path)).run()
    assert result.success and result.counts.inserts == 3


def test_csv_skip_rows_and_row_numbers(spark, warehouse, tmp_path):
    content = (
        "transaction_id,quantity\n"
        "SKIP-ME,999\n"
        "T1,1\n"
        "T2,oops\n"
    )
    path = tmp_path / "sales_skip.csv"
    path.write_text(content)
    cfg = SourceConfig(
        name="skiprows",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("transaction_id", T.StringType(), nullable=False),
            FieldSpec("quantity", T.LongType(), nullable=False),
        ],
        grain=["transaction_id"],
        skip_rows=1,
        validation_error_threshold=0.9,
    )
    result = PipelineRunner(spark, warehouse, cfg, str(path)).run()
    assert result.success
    target = warehouse.read_table("skiprows")
    ids = {r["transaction_id"] for r in target.collect()}
    assert ids == {"T1"}  # SKIP-ME skipped, T2 went to DLQ
    dlq = warehouse.read_table("file_load_dlq").collect()
    assert dlq[0]["file_row_number"] == 4  # 1 header + 1 skipped + T1 -> T2 is row 4


def test_cleaner_applied_before_cast(spark, warehouse, tmp_path):
    content = "id,phone\nA1,(555) 123-4567 ext9\n"
    path = tmp_path / "contacts_1.csv"
    path.write_text(content)
    cfg = SourceConfig(
        name="contacts",
        file_pattern="contacts_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("id", T.StringType(), nullable=False),
            FieldSpec("phone", T.StringType(), nullable=False, cleaner=clean_phone, max_length=25),
        ],
        grain=["id"],
    )
    result = PipelineRunner(spark, warehouse, cfg, str(path)).run()
    assert result.success
    row = warehouse.read_table("contacts").collect()[0]
    assert row["phone"] == "55512345679"


def test_registry_gz_pattern_match(spark):
    from etl_file_loader_spark.registry import SourceRegistry

    cfg = SourceConfig(
        name="x", file_pattern="sales_*.csv", file_format="csv",
        fields=[FieldSpec("a")], grain=["a"],
    )
    reg = SourceRegistry([cfg])
    assert reg.find_source_for_file("SALES_2024.CSV").name == "x"
    assert reg.find_source_for_file("sales_jan.csv.gz").name == "x"
    _ = F  # imported for parity with sibling tests


def test_notifier_hooks(spark, warehouse, tmp_path):
    from etl_file_loader_spark.notify import CallableNotifier
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_FAIL_AUDIT, transactions_source

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "sales_bad.csv").write_text(CSV_FAIL_AUDIT)
    got = []
    proc = Processor(
        spark, warehouse,
        SourceRegistry([transactions_source(notification_emails=["ops@example.com"])]),
        notifier=CallableNotifier(got.append),
    )
    proc.process_directory(str(drop))
    kinds = [n.kind for n in got]
    assert kinds == ["file_error", "summary"]
    assert got[0].recipients == ["ops@example.com"]
    assert "AuditFailedError" in got[0].subject
    assert "1 failed" in got[1].subject


def test_parallel_directory_processing(spark, warehouse, tmp_path):
    """Thread-pool multi-file runs: unique log ids, consistent target/DLQ."""
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_HEADER, transactions_source

    drop = tmp_path / "drop"
    drop.mkdir()
    for f in range(4):
        rows = "\n".join(
            f"TX{f}_{i},C1,S1,1,2.50,2.50,2024-01-0{f + 1},rep"
            for i in range(5)
        )
        (drop / f"sales_{f}.csv").write_text(CSV_HEADER + "\n" + rows + "\n")
    proc = Processor(spark, warehouse, SourceRegistry([transactions_source()]))
    results = proc.process_files_in_parallel(str(drop), max_workers=4)
    assert all(r.success for r in results)
    target = warehouse.read_table("transactions")
    assert target.count() == 20
    # every file's rows present, each run got a distinct log id
    log_ids = {r["file_load_log_id"] for r in target.select("file_load_log_id").distinct().collect()}
    assert len(log_ids) == 4
    log = warehouse.read_table("file_load_log")
    assert log.select("file_load_log_id").distinct().count() == 4


def test_multiple_source_match(spark):
    from etl_file_loader_spark.exceptions import MultipleSourceMatchError
    from etl_file_loader_spark.registry import SourceRegistry
    import pytest as _pytest

    mk = lambda n, pat: SourceConfig(
        name=n, file_pattern=pat, file_format="csv",
        fields=[FieldSpec("a")], grain=["a"],
    )
    reg = SourceRegistry([mk("one", "sales_*.csv"), mk("two", "sales_2024*.csv")])
    with _pytest.raises(MultipleSourceMatchError):
        reg.find_source_for_file("sales_2024.csv")


def test_excel_blank_header(spark, warehouse, tmp_path):
    import pytest as _pytest

    from etl_file_loader_spark.exceptions import MissingHeaderError
    from tests.test_json_excel_parquet import products_source
    from tests.xlsx_helper import write_xlsx

    path = write_xlsx(
        str(tmp_path / "inventory_blank.xlsx"),
        {"Products": [["", "", ""], ["SKU-1", "X", "Y"]]},
    )
    with _pytest.raises(MissingHeaderError):
        PipelineRunner(spark, warehouse, products_source(sheet_name="Products"), path).run()


def test_no_notification_on_success(spark, warehouse, tmp_path):
    from etl_file_loader_spark.notify import CallableNotifier
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_GOOD, transactions_source

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "sales_ok.csv").write_text(CSV_GOOD)
    got = []
    Processor(
        spark, warehouse, SourceRegistry([transactions_source()]),
        notifier=CallableNotifier(got.append),
    ).process_directory(str(drop))
    assert [n.kind for n in got] == ["summary"]  # no file_error for clean runs


def test_delete_source_after_processing(spark, warehouse, tmp_path):
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_GOOD, CSV_FAIL_AUDIT, transactions_source

    drop = tmp_path / "drop"
    drop.mkdir()
    good = drop / "sales_ok.csv"
    bad = drop / "sales_bad.csv"
    good.write_text(CSV_GOOD)
    bad.write_text(CSV_FAIL_AUDIT)
    Processor(
        spark, warehouse, SourceRegistry([transactions_source()]), delete_source=True
    ).process_directory(str(drop))
    # deleted in both the success and the handled-failure case (reference
    # runner.py:269-271 semantics)
    assert not good.exists() and not bad.exists()


def test_multiline_csv_quoted_newlines(spark, warehouse, tmp_path):
    content = (
        'transaction_id,note,quantity\n'
        'T1,"line one\nline two",5\n'
        'T2,"plain",6\n'
    )
    path = tmp_path / "sales_multi.csv"
    path.write_text(content)
    cfg = SourceConfig(
        name="multiline_src",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("transaction_id", T.StringType(), nullable=False),
            FieldSpec("note", T.StringType(), nullable=False),
            FieldSpec("quantity", T.LongType(), nullable=False),
        ],
        grain=["transaction_id"],
        multiline=True,
    )
    from etl_file_loader_spark.plans.pipeline import PipelineRunner

    result = PipelineRunner(spark, warehouse, cfg, str(path)).run()
    assert result.success and result.counts.inserts == 2
    rows = {r["transaction_id"]: r["note"] for r in warehouse.read_table("multiline_src").collect()}
    assert rows["T1"] == "line one\nline two"


def test_per_table_locks_are_independent(warehouse):
    """mutate(table) serializes only that table: a thread holding table A's
    lock must not block table B's, but must block another A mutator."""
    import threading

    acquired_b = threading.Event()
    blocked_a = []

    with warehouse.mutate("table_a"):
        def try_b():
            with warehouse.mutate("table_b"):
                acquired_b.set()

        def try_a():
            got = warehouse.mutate("table_a").acquire(timeout=0.5)
            blocked_a.append(got)
            if got:
                warehouse.mutate("table_a").release()

        tb = threading.Thread(target=try_b)
        ta = threading.Thread(target=try_a)
        tb.start(); ta.start()
        assert acquired_b.wait(timeout=5), "different-table mutate blocked"
        tb.join(); ta.join()
    assert blocked_a == [False], "same-table mutate did not serialize"


def test_duplicate_file_quarantine_and_unmatched_archive(spark, warehouse, tmp_path):
    """Duplicates MOVE to duplicate_dir (timestamp suffix on clash,
    reference file_helper.py:50-65); unmatched files COPY to archive
    (reference processor.py:84)."""
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_GOOD, transactions_source

    drop = tmp_path / "drop"
    archive = tmp_path / "archive"
    dupdir = tmp_path / "dups"
    drop.mkdir()
    (drop / "sales_ok.csv").write_text(CSV_GOOD)
    (drop / "mystery.bin").write_text("x")
    proc = Processor(
        spark, warehouse, SourceRegistry([transactions_source()]),
        archive_dir=str(archive), duplicate_dir=str(dupdir),
    )
    proc.process_directory(str(drop))
    assert (archive / "sales_ok.csv").exists()
    assert (archive / "mystery.bin").exists()  # unmatched archived too

    # reprocess: duplicate is MOVED out of the drop dir
    (drop / "sales_ok.csv").write_text(CSV_GOOD)
    proc.process_directory(str(drop))
    assert not (drop / "sales_ok.csv").exists()
    assert (dupdir / "sales_ok.csv").exists()

    # second clash gets a timestamp-suffixed name
    (drop / "sales_ok.csv").write_text(CSV_GOOD)
    proc.process_directory(str(drop))
    extras = [p.name for p in dupdir.iterdir() if p.name != "sales_ok.csv"]
    assert len(extras) == 1 and extras[0].startswith("sales_ok_") and extras[0].endswith(".csv")


def test_partitioned_target_table(spark, warehouse, tmp_path):
    """target_partition_by writes a hive layout; readers filtering on the
    partition column prune at plan time; merge preserves the layout."""
    from tests.sources_fixtures import CSV_GOOD, transactions_source

    path = tmp_path / "sales_part.csv"
    path.write_text(CSV_GOOD)
    cfg = transactions_source(target_partition_by=["sale_date"])
    result = PipelineRunner(spark, warehouse, cfg, str(path)).run()
    assert result.success and result.counts.inserts == 3

    tdir = warehouse.path / "transactions"
    vdirs = sorted(p for p in tdir.iterdir() if p.name.startswith("_v"))
    # user partitions nest under the grain-hash bucket level
    parts = sorted({p.name for p in vdirs[-1].rglob("sale_date=*")})
    assert parts == ["sale_date=2024-01-05", "sale_date=2024-01-06", "sale_date=2024-01-07"]

    read = warehouse.read_table("transactions").filter(F.col("sale_date") == "2024-01-06")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and read.count() == 1

    # merge run: one update + one insert, partition layout preserved
    changed = CSV_GOOD.replace(
        "TXN001,CUST01,SKU-1,2,10.50,21.00,2024-01-05", "TXN001,CUST01,SKU-1,9,10.50,94.50,2024-01-05"
    ) + "TXN004,CUST03,SKU-4,1,3.00,3.00,2024-01-08,carol\n"
    p2 = tmp_path / "sales_part2.csv"
    p2.write_text(changed)
    r2 = PipelineRunner(spark, warehouse, cfg, str(p2)).run()
    assert r2.success and r2.counts.inserts == 1 and r2.counts.updates == 1
    vdirs = sorted(p for p in tdir.iterdir() if p.name.startswith("_v"))
    parts = sorted({p.name for p in vdirs[-1].rglob("sale_date=*")})
    assert "sale_date=2024-01-08" in parts
    got = warehouse.read_table("transactions")
    assert got.count() == 4
    assert got.filter("transaction_id='TXN001'").collect()[0]["quantity"] == 9


def test_smtp_and_webhook_notifier_shapes(monkeypatch):
    """Transport notifiers build the reference's message shapes; transports
    are monkeypatched (no egress in tests)."""
    import smtplib
    import urllib.request

    from etl_file_loader_spark.notify import (
        Notification,
        SmtpNotifier,
        WebhookNotifier,
    )

    sent = {}

    class FakeSMTP:
        def __init__(self, host, port):
            sent["conn"] = (host, port)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False
        def starttls(self):
            sent["tls"] = True
        def login(self, u, p):
            sent["login"] = (u, p)
        def sendmail(self, frm, to, body):
            sent["mail"] = (frm, tuple(to), body)

    monkeypatch.setattr(smtplib, "SMTP", FakeSMTP)
    n = Notification(
        kind="file_error",
        subject="File load failed: sales_x.csv (AuditFailure)",
        body="audit price_positive failed",
        recipients=["a@x.com"],
    )
    SmtpNotifier("smtp.local", 587, "noreply@x.com", user="u", password="p",
                 data_team_email="team@x.com").send(n)
    assert sent["conn"] == ("smtp.local", 587) and sent["tls"] and sent["login"] == ("u", "p")
    frm, to, body = sent["mail"]
    assert frm == "noreply@x.com" and to == ("a@x.com", "team@x.com")
    assert "File load failed: sales_x.csv" in body and "Cc: team@x.com" in body

    posts = {}
    def fake_urlopen(req, timeout=None):
        import json
        posts["url"] = req.full_url
        posts["payload"] = json.loads(req.data)
        class R:
            status = 200
            def __enter__(self): return self
            def __exit__(self, *a): return False
        return R()

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    WebhookNotifier("https://hooks.local/abc").send(n)
    p = posts["payload"]
    assert posts["url"] == "https://hooks.local/abc"
    assert p["level"] == "ERROR" and p["title"].startswith("File load failed")
    assert "*ERROR*" in p["text"] and "*Timestamp:*" in p["text"]


def test_notifier_from_settings_factory(monkeypatch):
    """Config-driven transport selection (reference notify/factory.py:8-16 +
    settings.py:77-84 key names)."""
    from etl_file_loader_spark.notify import (
        MultiNotifier,
        Notifier,
        SmtpNotifier,
        WebhookNotifier,
        notifier_from_settings,
    )

    assert type(notifier_from_settings({})) is Notifier  # logging default
    smtp = notifier_from_settings(
        {"SMTP_HOST": "smtp.local", "FROM_EMAIL": "noreply@x.com",
         "SMTP_PORT": "465", "DATA_TEAM_EMAIL": "team@x.com"}
    )
    assert isinstance(smtp, SmtpNotifier)
    assert smtp.port == 465 and smtp.data_team_email == "team@x.com"
    hook = notifier_from_settings({"WEBHOOK_URL": "https://hooks.local/a"})
    assert isinstance(hook, WebhookNotifier)
    both = notifier_from_settings(
        {"SMTP_HOST": "smtp.local", "FROM_EMAIL": "n@x.com",
         "WEBHOOK_URL": "https://hooks.local/a"}
    )
    assert isinstance(both, MultiNotifier) and len(both.notifiers) == 2
    # incomplete SMTP config (host without from) falls back cleanly
    assert type(notifier_from_settings({"SMTP_HOST": "smtp.local"})) is Notifier


def test_smtp_email_sent_on_audit_failure_via_processor(
    spark, warehouse, tmp_path, monkeypatch
):
    """End-to-end transport wiring (reference test_notifications.py:
    test_email_notification_on_audit_failure): an audit-failing file drives
    a real SMTP send through the Processor, with smtplib mocked."""
    import smtplib

    from etl_file_loader_spark.notify import SmtpNotifier
    from etl_file_loader_spark.plans.pipeline import Processor
    from etl_file_loader_spark.registry import SourceRegistry
    from tests.sources_fixtures import CSV_FAIL_AUDIT, transactions_source

    mails = []

    class FakeSMTP:
        def __init__(self, host, port):
            pass
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False
        def starttls(self):
            pass
        def login(self, u, p):
            pass
        def sendmail(self, frm, to, body):
            mails.append((frm, tuple(to), body))

    monkeypatch.setattr(smtplib, "SMTP", FakeSMTP)
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "sales_bad.csv").write_text(CSV_FAIL_AUDIT)
    proc = Processor(
        spark, warehouse,
        SourceRegistry([transactions_source(notification_emails=["ops@example.com"])]),
        notifier=SmtpNotifier("smtp.local", 587, "noreply@x.com",
                              data_team_email="team@x.com"),
    )
    proc.process_directory(str(drop))
    # one file_error mail + one summary mail, stakeholder + cc on the error
    assert len(mails) == 2
    frm, to, body = mails[0]
    assert frm == "noreply@x.com" and to == ("ops@example.com", "team@x.com")
    assert "AuditFailedError" in body


def _load_with_runner(spark, warehouse, cfg, path):
    r = PipelineRunner(spark, warehouse, cfg, path).run()
    assert r.success
    return r.counts.inserts, r.counts.updates


def _load_with_batch(spark, warehouse, cfg, path):
    r = batch_ingest(spark, warehouse, cfg, [path])
    return r.inserts, r.updates


@pytest.mark.parametrize(
    "load", [_load_with_runner, _load_with_batch], ids=["runner", "batch"]
)
def test_additive_schema_evolution_on_merge(spark, warehouse, tmp_path, load):
    """A business column added to the config after the target exists joins
    in as typed nulls for old rows; re-delivered rows pick up the value
    (hash differs -> update)."""
    from etl_file_loader_spark.config import SourceConfig

    base_fields = [
        FieldSpec("id", T.StringType(), nullable=False),
        FieldSpec("v", T.LongType(), nullable=False),
    ]
    def cfg(fields):
        return SourceConfig(name="evo", file_pattern="evo_*.csv",
                            file_format="csv", fields=fields, grain=["id"])

    p1 = tmp_path / "evo_1.csv"
    p1.write_text("id,v\na,1\nb,2\n")
    assert load(spark, warehouse, cfg(base_fields), str(p1)) == (2, 0)

    fields2 = base_fields + [FieldSpec("note", T.StringType(), nullable=True)]
    p2 = tmp_path / "evo_2.csv"
    p2.write_text("id,v,note\nb,2,hello\nc,3,new\n")
    assert load(spark, warehouse, cfg(fields2), str(p2)) == (1, 1)

    rows = {r["id"]: r for r in warehouse.read_table("evo").collect()}
    assert rows["a"]["note"] is None          # old row: typed null
    assert rows["b"]["note"] == "hello"       # re-delivered: updated
    assert rows["c"]["note"] == "new"
    assert rows["a"]["etl_updated_at"] is None and rows["b"]["etl_updated_at"] is not None
