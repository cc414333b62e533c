"""Structured Streaming ingest + windowed aggregation."""

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.streaming.ingest import (
    StreamingIngest,
    raw_stream_schema,
    windowed_event_counts,
)
from tests.sources_fixtures import CSV_GOOD, CSV_HEADER, transactions_source


@pytest.fixture
def stream_dirs(tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    return src, str(tmp_path / "checkpoint")


def test_streaming_ingest_and_incremental_merge(spark, warehouse, stream_dirs, tmp_path):
    src, checkpoint = stream_dirs
    (src / "sales_1.csv").write_text(CSV_GOOD)

    ingest = StreamingIngest(
        spark, transactions_source(), warehouse, str(src), checkpoint
    )
    q = ingest.start()
    q.awaitTermination(120)
    assert warehouse.read_table("transactions").count() == 3

    # drop a second file: one changed row + one new row; restart (availableNow)
    changed = CSV_GOOD.replace(
        "TXN001,CUST01,SKU-1,2,10.50", "TXN001,CUST01,SKU-1,7,10.50"
    ) + "TXN004,CUST03,SKU-4,1,3.00,3.00,2024-01-08,carol\n"
    (src / "sales_2.csv").write_text(changed)
    q2 = ingest.start()
    q2.awaitTermination(120)

    target = warehouse.read_table("transactions")
    assert target.count() == 4
    updated = target.filter(F.col("transaction_id") == "TXN001").collect()[0]
    assert updated["quantity"] == 7
    assert updated["etl_updated_at"] is not None
    untouched = target.filter(F.col("transaction_id") == "TXN002").collect()[0]
    assert untouched["etl_updated_at"] is None


def test_streaming_invalid_rows_to_dlq(spark, warehouse, stream_dirs):
    src, checkpoint = stream_dirs
    bad = CSV_GOOD.replace("TXN002,CUST02,SKU-2,1,5.25", "TXN002,CUST02,SKU-2,1,oops")
    (src / "sales_bad.csv").write_text(bad)
    cfg = transactions_source(validation_error_threshold=0.9)
    q = StreamingIngest(spark, cfg, warehouse, str(src), checkpoint).start()
    q.awaitTermination(120)
    assert warehouse.read_table("transactions").count() == 2
    dlq = warehouse.read_table("file_load_dlq").collect()
    assert len(dlq) == 1
    assert "oops" in dlq[0]["validation_errors"]


def test_micro_batch_resolves_grains_and_keeps_file_lineage(
    spark, warehouse, stream_dirs
):
    """One trigger over two files that share a grain writes the grain once,
    with the later file's row, and every row names the file it came from;
    a later file re-sending the grain updates that one row."""
    src, checkpoint = stream_dirs
    row = "TXN{:03d},CUST01,SKU-1,{},1.00,1.00,2024-01-05,alice"
    (src / "sales_1.csv").write_text(
        f"{CSV_HEADER}\n{row.format(1, 1)}\n{row.format(2, 1)}\n"
    )
    (src / "sales_2.csv").write_text(f"{CSV_HEADER}\n{row.format(1, 5)}\n")
    ingest = StreamingIngest(
        spark, transactions_source(), warehouse, str(src), checkpoint
    )

    def target_rows():
        return sorted(
            (r["transaction_id"], r["quantity"], r["source_filename"])
            for r in warehouse.read_table("transactions").collect()
        )

    ingest.start().awaitTermination(120)
    assert target_rows() == [
        ("TXN001", 5, "sales_2.csv"),
        ("TXN002", 1, "sales_1.csv"),
    ]

    (src / "sales_3.csv").write_text(f"{CSV_HEADER}\n{row.format(1, 9)}\n")
    ingest.start().awaitTermination(120)
    assert target_rows() == [
        ("TXN001", 9, "sales_3.csv"),
        ("TXN002", 1, "sales_1.csv"),
    ]


def test_micro_batch_publish_keeps_a_concurrent_commit(
    spark, warehouse, stream_dirs, tmp_path, monkeypatch
):
    """A pipeline commit to the target that arrives while a micro-batch
    plans its merge is not overwritten by the micro-batch's snapshot: the
    micro-batch holds the table's lock from reading the target to its
    commit, so the other commit waits and then merges on top."""
    import threading

    from etl_file_loader_spark.operators import publish as publish_ops
    from etl_file_loader_spark.plans.pipeline import PipelineRunner

    cfg = transactions_source()
    src, checkpoint = stream_dirs
    row = "TXN{:03d},CUST01,SKU-1,{},1.00,1.00,2024-01-05,alice"
    first = tmp_path / "sales_1.csv"
    first.write_text(CSV_HEADER + "\n" + "\n".join(row.format(i, 1) for i in range(300)) + "\n")
    assert PipelineRunner(spark, warehouse, cfg, str(first)).run().success
    update = tmp_path / "sales_2.csv"
    update.write_text(CSV_HEADER + "\n" + row.format(0, 77) + "\n")

    lock = warehouse.mutate(cfg.target_table)
    settled, threads, results = threading.Event(), [], []

    def concurrent_commit():
        try:
            if not lock.acquire(blocking=False):
                settled.set()  # waiting for the micro-batch to commit
                lock.acquire()
            try:
                results.append(PipelineRunner(spark, warehouse, cfg, str(update)).run())
            finally:
                lock.release()
        finally:
            settled.set()

    real_merge = publish_ops.merge_upsert

    def merge_after_concurrent_commit(*args, **kwargs):
        if not threads:  # the micro-batch's merge, not the pipeline's
            threads.append(threading.Thread(target=concurrent_commit))
            threads[0].start()
            assert settled.wait(120)
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(publish_ops, "merge_upsert", merge_after_concurrent_commit)
    # a micro-batch as start() delivers it: raw columns plus file lineage
    batch = spark.createDataFrame(
        [row.format(i, 1).split(",") for i in range(300, 600)], raw_stream_schema(cfg)
    ).withColumn(publish_ops.FILENAME_COL, F.lit("sales_3.csv"))
    StreamingIngest(spark, cfg, warehouse, str(src), checkpoint)._process_batch(batch, 0)
    threads[0].join(120)
    assert not threads[0].is_alive()

    assert results and results[0].success and results[0].counts.updates == 1
    target = warehouse.read_table("transactions")
    assert target.count() == 600
    assert target.filter(F.col("transaction_id") == "TXN000").first()["quantity"] == 77


def test_windowed_event_counts_streaming(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:01:00", "click", 1.0),
        (2, "2024-01-01 00:02:00", "click", 2.0),
        (3, "2024-01-01 00:07:00", "view", 3.0),
        (4, "2024-01-01 01:00:00", "click", 4.0),
    ]
    batch = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "events_stream")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("winout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM winout ORDER BY window_start, event_type").collect()
    # watermark has passed the first windows once the 01:00 event arrives
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in out}
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:05:00", "view")] == (1, 3.0)


def test_windowed_event_counts_batch_shape(spark):
    rows = [(1, "2024-01-01 00:01:00", "click", 1.0)]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = windowed_event_counts(df).collect()
    assert out[0]["n_events"] == 1


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState: sessions close on gap; open session stays in state."""
    from etl_file_loader_spark.streaming.stateful import sessionize_stream

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),   # same session (10 min gap)
        (1, "2024-01-01 02:00:00"),   # closes session 1 (gap > 30 min)
        (1, "2024-01-01 02:05:00"),   # open session
        (2, "2024-01-01 01:00:00"),   # user 2: single open session
    ]
    batch = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "stateful_events")
    # single file -> single micro-batch; huge timeout so only gap-closes emit
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    sessions = sessionize_stream(stream, gap_seconds=1800, timeout_ms=600_000)
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sessions_out").collect()
    # only user 1's first session closed within the batch
    assert len(out) == 1
    s = out[0]
    assert s["user_id"] == 1
    assert s["n_events"] == 2
    assert s["session_end_us"] - s["session_start_us"] == 600 * 1_000_000


def test_dedup_stream_within_watermark(spark, tmp_path):
    from etl_file_loader_spark.streaming.ingest import dedup_stream

    rows = [
        (1, "2024-01-01 00:01:00", "click", 1.0),
        (1, "2024-01-01 00:01:30", "click", 1.0),   # duplicate event_id (retry)
        (2, "2024-01-01 00:02:00", "view", 2.0),
        (2, "2024-01-01 00:02:00", "view", 2.0),    # exact duplicate
        (3, "2024-01-01 01:00:00", "click", 3.0),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "dedup_stream_src")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    deduped = dedup_stream(stream, ["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedupout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id FROM dedupout").collect()
    ids = sorted(r["event_id"] for r in out)
    assert ids == [1, 2, 3]

    # batch frame degenerates to plain dropDuplicates on the keys
    assert sorted(
        r["event_id"] for r in dedup_stream(batch, ["event_id"]).collect()
    ) == [1, 2, 3]


def test_enrich_stream_with_static_dimension(spark, tmp_path):
    from etl_file_loader_spark.streaming.ingest import enrich_stream

    rows = [
        (1, "2024-01-01 00:01:00", "click", 10),
        (2, "2024-01-01 00:02:00", "view", 20),
        (3, "2024-01-01 00:03:00", "click", 99),   # no matching user dim
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "enrich_src")
    batch.write.parquet(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        enrich_stream(stream, dim, ["user_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrichout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["event_id"]: r["tier"] for r in spark.sql("SELECT * FROM enrichout").collect()}
    assert out == {1: "gold", 2: "silver", 3: None}


def test_incremental_agg_stream_materialized_view(spark, warehouse, tmp_path):
    from etl_file_loader_spark.streaming.ingest import incremental_agg_stream

    schema = "event_id long, ts timestamp, event_type string, value double"
    src = tmp_path / "inc_src"
    src.mkdir()
    ckpt = str(tmp_path / "inc_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema.replace("timestamp", "string")).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.parquet(str(src / name))

    # no far-future event in batch 1: the 00:00 window must still be open
    # (inside watermark) when batch 2 adds to it
    write_batch("b1", [
        (1, "2024-01-01 00:01:00", "click", 1.0),
        (2, "2024-01-01 00:02:00", "click", 2.0),
    ])
    stream_schema = spark.read.parquet(str(src / "b1")).schema
    stream = spark.readStream.schema(stream_schema).option(
        "pathGlobFilter", "*.parquet"
    ).parquet(str(src / "*"))
    q = incremental_agg_stream(stream, warehouse, "event_counts_mv", ckpt)
    q.awaitTermination(120)
    mv = {(str(r["window_start"]), r["event_type"]): r["n_events"]
          for r in warehouse.read_table("event_counts_mv").collect()}
    assert mv[("2024-01-01 00:00:00", "click")] == 2

    # second batch: same (still-open) window gets another click -> the row is
    # REPLACED; the 02:00 event then advances the watermark past it
    write_batch("b2", [
        (4, "2024-01-01 00:03:00", "click", 4.0),
        (5, "2024-01-01 02:00:00", "view", 5.0),
    ])
    q2 = incremental_agg_stream(stream, warehouse, "event_counts_mv", ckpt)
    q2.awaitTermination(120)
    mv = {(str(r["window_start"]), r["event_type"]): r["n_events"]
          for r in warehouse.read_table("event_counts_mv").collect()}
    assert mv[("2024-01-01 00:00:00", "click")] == 3
    # one row per (window, type): no duplicates from the upsert
    import collections
    keys = [(str(r["window_start"]), r["event_type"])
            for r in warehouse.read_table("event_counts_mv").collect()]
    assert max(collections.Counter(keys).values()) == 1


def test_interval_join_streams(spark, tmp_path):
    from etl_file_loader_spark.streaming.ingest import interval_join_streams

    imp_rows = [
        (100, "2024-01-01 00:01:00", 1),
        (101, "2024-01-01 00:10:00", 2),
    ]
    click_rows = [
        (200, "2024-01-01 00:03:00", 1),   # within 5 min of imp 100
        (201, "2024-01-01 00:30:00", 2),   # too late for imp 101
        (202, "2024-01-01 01:00:00", 9),   # advances watermark
    ]
    schema = "event_id long, ts string, user_id long"
    imps = spark.createDataFrame(imp_rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = spark.createDataFrame(click_rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))
    imp_src, click_src = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imps.write.parquet(imp_src)
    clicks.write.parquet(click_src)

    imp_stream = spark.readStream.schema(imps.schema).parquet(imp_src)
    click_stream = (
        spark.readStream.schema(clicks.schema).parquet(click_src)
        .withColumnRenamed("event_id", "click_id").withColumnRenamed("ts", "click_ts")
    )
    joined = interval_join_streams(
        imp_stream, click_stream, "user_id", "ts", "click_ts", max_delay="5 minutes"
    ).select("l.event_id", "r.click_id")
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("ijout").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = {(r["event_id"], r["click_id"]) for r in spark.sql("SELECT * FROM ijout").collect()}
    assert out == {(100, 200)}


def test_near_dedup_stream_builds_corpus(spark, warehouse, tmp_path):
    """Streaming near-dedup: within-batch dups collapse, cross-batch dups
    are caught by the persisted band index, survivors accumulate."""
    import json

    from etl_file_loader_spark.streaming.ingest import near_dedup_stream

    src = tmp_path / "docs"
    src.mkdir()
    cp = str(tmp_path / "cp")
    t1 = "the quick brown fox jumps over the lazy dog today"
    t2 = "completely different second document with its own words here"
    t3 = "a third and totally unrelated piece of text content now"
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": t1},
                {"doc_id": 2, "text": t1},  # within-batch near-dup of 1
                {"doc_id": 3, "text": t2},
            ]
        )
    )
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(src))
    q = near_dedup_stream(stream, warehouse, "corpus", "band_index", cp)
    q.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in warehouse.read_table("corpus").collect()
    ) == [1, 3]

    # batch 2: doc 4 near-dups the INDEXED doc 1 (cross-batch), doc 5 is new
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [{"doc_id": 4, "text": t1}, {"doc_id": 5, "text": t3}]
        )
    )
    stream2 = spark.readStream.schema(schema).json(str(src))
    q2 = near_dedup_stream(stream2, warehouse, "corpus", "band_index", cp)
    q2.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in warehouse.read_table("corpus").collect()
    ) == [1, 3, 5]
    # index holds one row per distinct band bucket, min-id owned
    idx = warehouse.read_table("band_index")
    assert idx.count() == idx.select("band_idx", "band_hash").distinct().count()
    assert idx.groupBy().agg(F.min("cid")).collect()[0][0] == 1


def test_curate_stream_filters_scrubs_and_dedups(spark, warehouse, tmp_path):
    """Streaming curation: low-quality docs never reach the corpus, PII is
    redacted before landing, and the band index still catches cross-batch
    near-dups of curated survivors."""
    import json

    from etl_file_loader_spark.streaming.ingest import curate_stream

    src = tmp_path / "docs"
    src.mkdir()
    cp = str(tmp_path / "cp")
    good = (
        "the quick brown fox jumps over the lazy dog and keeps running through "
        "the quiet field while the morning sun rises over it all today"
    )
    pii = (
        "please contact our support team at someone@example.com for further "
        "details about the order and the delivery schedule we discussed there"
    )
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": good},
                {"doc_id": 2, "text": "x!"},  # low quality -> filtered
                {"doc_id": 3, "text": pii},  # kept, but scrubbed
            ]
        )
    )
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(src))
    q = curate_stream(stream, warehouse, "curated", "curated_index", cp)
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["text"] for r in warehouse.read_table("curated").collect()}
    assert sorted(rows) == [1, 3]
    assert "[EMAIL]" in rows[3] and "@" not in rows[3]

    # batch 2: near-dup of doc 1 is rejected by the index; a new doc lands
    other = (
        "a completely different second document with its own particular words "
        "arranged in another order about some other topic entirely for now"
    )
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [{"doc_id": 4, "text": good}, {"doc_id": 5, "text": other}]
        )
    )
    stream2 = spark.readStream.schema(schema).json(str(src))
    q2 = curate_stream(stream2, warehouse, "curated", "curated_index", cp)
    q2.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in warehouse.read_table("curated").collect()
    ) == [1, 3, 5]


def test_streaming_multimodal_decode(spark, tmp_path):
    """Round 5: the real-codec decode runs under Structured Streaming —
    mapInPandas is a narrow stream-compatible projection, so media
    ingestion streams exactly like text: binary batches in, decoded stats
    out, no state store."""
    import numpy as np

    from etl_file_loader_spark.operators import codecs, multimodal

    src = str(tmp_path / "media_src")
    out: list = []
    img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    batch = spark.createDataFrame(
        [(1, codecs.png_encode(img)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    decoded = multimodal.decode_image(stream)  # fake=False: real PNG path

    q = (
        decoded.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["media_id"]: r for r in out}
    assert rows[1]["decode_ok"] and (rows[1]["width"], rows[1]["height"]) == (4, 2)
    assert rows[1]["mean_pixel"] == float(img.astype(np.int64).sum()) / img.size
    assert not rows[2]["decode_ok"]


# ---------------------------------------------------------------------------
# cdc_apply_tombstoned + cdc_stream (round 9)
# ---------------------------------------------------------------------------


def test_cdc_tombstone_blocks_late_stale_resurrection(spark):
    """The confluence case: a delete applied in batch N must not be undone
    by a LOWER-seq upsert arriving in batch N+1."""
    from pyspark.sql import functions as F

    from etl_file_loader_spark.operators import publish

    state = spark.createDataFrame(
        [(1, "a", 100, 0), (2, "b", 100, 0)],
        "k long, v string, seq long, _deleted int",
    )
    b1 = spark.createDataFrame(
        [(1, "x", 210, "D")], "k long, v string, seq long, op string"
    )
    s1 = publish.cdc_apply_tombstoned(state, b1, ["k"], ["v"], "seq")
    rows = {r["k"]: r for r in s1.collect()}
    assert rows[1]["_deleted"] == 1 and rows[1]["seq"] == 210  # tombstone
    assert rows[2]["_deleted"] == 0
    # late stale upsert for the deleted key: must stay deleted
    b2 = spark.createDataFrame(
        [(1, "resurrect", 50, "U")], "k long, v string, seq long, op string"
    )
    s2 = publish.cdc_apply_tombstoned(s1, b2, ["k"], ["v"], "seq")
    rows = {r["k"]: r for r in s2.collect()}
    assert rows[1]["_deleted"] == 1 and rows[1]["seq"] == 210
    # a genuinely newer upsert DOES revive it
    b3 = spark.createDataFrame(
        [(1, "back", 300, "U")], "k long, v string, seq long, op string"
    )
    rows = {
        r["k"]: r
        for r in publish.cdc_apply_tombstoned(s2, b3, ["k"], ["v"], "seq").collect()
    }
    assert rows[1]["_deleted"] == 0 and rows[1]["v"] == "back"


def test_cdc_tombstoned_incremental_equals_batch(spark):
    """Splitting a feed (distinct seqs) into micro-batches in ANY order
    lands on the batch cdc_apply answer after the tombstone filter."""
    import itertools

    from pyspark.sql import functions as F

    from etl_file_loader_spark.operators import publish

    target = spark.createDataFrame(
        [(k, f"v{k}", 100) for k in range(1, 6)], "k long, v string, seq long"
    )
    feed = [
        (1, "u150", 150, "U"), (1, "u200", 200, "U"),
        (2, "d", 210, "D"), (2, "stale", 50, "U"),
        (3, "stale", 50, "U"),
        (9, "new", 200, "I"), (4, "d", 220, "D"),
    ]
    schema = "k long, v string, seq long, op string"
    want = sorted(
        tuple(r)
        for r in publish.cdc_apply(
            target, spark.createDataFrame(feed, schema), ["k"], ["v"], "seq"
        ).collect()
    )
    chunks = [feed[:2], feed[2:5], feed[5:]]
    for order in itertools.permutations(range(3)):
        state = target.withColumn("_deleted", F.lit(0))
        for ci in order:
            state = publish.cdc_apply_tombstoned(
                state, spark.createDataFrame(chunks[ci], schema), ["k"], ["v"], "seq"
            ).localCheckpoint(eager=True)
        got = sorted(
            tuple(r)
            for r in state.filter("_deleted = 0").drop("_deleted").collect()
        )
        assert got == want, order


def test_cdc_stream_recovers_from_partial_snapshot(spark):
    """Crash recovery: a state_v{n} dir WITHOUT the committer's _SUCCESS
    marker (a micro-batch died mid-write) must be ignored as a base —
    the restarted query resumes from the last COMPLETE snapshot and the
    retry replaces the partial dir atomically."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_file_loader_spark.streaming.ingest import cdc_stream

    root = tempfile.mkdtemp(prefix="efls_cdc_recover_")
    spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100)], "k long, v string, seq long"
    ).withColumn("_deleted", F.lit(0)).write.parquet(f"{root}/state/state_v0")
    # plant a mid-write casualty: state_v1 with a garbage part file and no
    # _SUCCESS, plus a husk from a crashed temp write attempt
    os.makedirs(f"{root}/state/state_v1")
    with open(f"{root}/state/state_v1/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00not-parquet")
    os.makedirs(f"{root}/state/_tmp_state_v1.deadbeef")
    with open(f"{root}/state/_tmp_state_v1.deadbeef/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00husk")

    schema = "k long, v string, seq long, op string"
    spark.createDataFrame(
        [(1, "x", 300, "D"), (2, "b2", 200, "U")], schema
    ).write.parquet(f"{root}/chg/b0")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{root}/chg/b0").schema)
        .option("recursiveFileLookup", "true")
        .parquet(f"{root}/chg")
    )
    q = cdc_stream(stream, f"{root}/state", f"{root}/ck", ["k"], ["v"], "seq")
    q.awaitTermination()
    # the batch applied on top of v0 (NOT the garbage v1), and the retry
    # replaced the partial v1 with a complete, _SUCCESS-marked snapshot
    assert os.path.exists(f"{root}/state/state_v1/_SUCCESS")
    assert not os.path.exists(f"{root}/state/_tmp_state_v1.deadbeef")
    rows = {
        r["k"]: r for r in spark.read.parquet(f"{root}/state/state_v1").collect()
    }
    assert rows[1]["_deleted"] == 1 and rows[1]["seq"] == 300
    assert rows[2]["_deleted"] == 0 and rows[2]["v"] == "b2"


def test_cdc_stream_accepts_markerless_seed(spark):
    """A user-seeded state_v0 written by an external tool (no _SUCCESS
    marker) must be adopted as the base: v0 is exempt from the
    completeness gate because process() never writes it (ADVICE r10).
    Snapshots v>=1 still carry the marker — written explicitly when the
    committer doesn't."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_file_loader_spark.streaming.ingest import cdc_stream

    root = tempfile.mkdtemp(prefix="efls_cdc_seed0_")
    spark.createDataFrame(
        [(1, "a", 100)], "k long, v string, seq long"
    ).withColumn("_deleted", F.lit(0)).write.parquet(f"{root}/state/state_v0")
    os.remove(f"{root}/state/state_v0/_SUCCESS")  # external-tool seed

    schema = "k long, v string, seq long, op string"
    spark.createDataFrame([(2, "b", 200, "U")], schema).write.parquet(
        f"{root}/chg/b0"
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{root}/chg/b0").schema)
        .option("recursiveFileLookup", "true")
        .parquet(f"{root}/chg")
    )
    q = cdc_stream(stream, f"{root}/state", f"{root}/ck", ["k"], ["v"], "seq")
    q.awaitTermination()
    assert os.path.exists(f"{root}/state/state_v1/_SUCCESS")
    rows = {
        r["k"]: r for r in spark.read.parquet(f"{root}/state/state_v1").collect()
    }
    assert rows[1]["v"] == "a" and rows[2]["v"] == "b"


def test_bloom_contains_fast_null_key_is_false(spark):
    """fast=True (xxhash64) must agree with the md5 path on NULL keys:
    xxhash64 skips null inputs (seed-derived hash), so without the
    isNotNull guard a NULL key could probe TRUE — violating build_bloom's
    'null keys dropped' contract (ADVICE r10)."""
    from pyspark.sql import functions as F

    from etl_file_loader_spark.operators import sketches as sk

    df = spark.createDataFrame([(1,), (None,)], "k long")
    for fast in (False, True):
        words = sk.build_bloom(
            df.filter("k IS NOT NULL"), "k", 3, 4096, fast=fast
        )
        got = {
            r["k"]: r["hit"]
            for r in df.select(
                "k",
                F.coalesce(
                    sk.bloom_contains(F.col("k"), words, 3, 4096, fast=fast),
                    F.lit(False),
                ).alias("hit"),
            ).collect()
        }
        assert got[1] is True, f"fast={fast}"
        assert got[None] is False, f"fast={fast}: null key probed member"


def test_cdc_stream_requires_seeded_state(spark):
    import tempfile

    import pytest as _pytest

    from etl_file_loader_spark.operators import publish
    from etl_file_loader_spark.streaming.ingest import cdc_stream

    root = tempfile.mkdtemp(prefix="efls_cdc_seed_")
    schema = "k long, v string, seq long, op string"
    spark.createDataFrame([(1, "a", 1, "U")], schema).write.parquet(f"{root}/chg/b0")
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{root}/chg/b0").schema
        )
        .option("recursiveFileLookup", "true")
        .parquet(f"{root}/chg")
    )
    q = cdc_stream(stream, f"{root}/state", f"{root}/ck", ["k"], ["v"], "seq")
    with _pytest.raises(Exception, match="state_v0"):
        q.awaitTermination()


def test_quantile_stream_exactly_once(spark, tmp_path):
    """Round 12: streaming quantile maintenance. A real file-source
    stream folds two micro-batch files into the epoch-named register
    chain; the final registers equal the one-shot histogram (exactly-
    once across batches); a RESTART with the same checkpoint and no new
    files folds nothing; and the epoch guard makes a replayed fold a
    literal no-op (the non-confluent-merge hazard cdc_stream's
    confluence story cannot cover)."""
    from etl_file_loader_spark.operators import sketches
    from etl_file_loader_spark.streaming.ingest import (
        _fold_quantile_epoch,
        latest_quantile_state,
        quantile_stream,
    )

    src = tmp_path / "q_src"
    src.mkdir()
    state_dir = str(tmp_path / "q_state")
    ckpt = str(tmp_path / "q_ckpt")
    rows1 = [(1, "A", 10.50), (2, "A", 99.99), (3, "B", 0.25)]
    rows2 = [(4, "A", 12345.67), (5, "B", 0.75), (6, "B", 0.25)]
    schema = "id long, g string, v double"
    spark.createDataFrame(rows1, schema).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows2, schema).write.parquet(str(src / "b2"))

    stream_schema = spark.read.parquet(str(src / "b1")).schema
    stream = spark.readStream.schema(stream_schema).option(
        "pathGlobFilter", "*.parquet"
    ).parquet(str(src / "*"))
    q = quantile_stream(stream, state_dir, ckpt, ["g"], "v")
    q.awaitTermination(120)

    state = latest_quantile_state(spark, state_dir)
    one = sketches.quantile_histogram(
        spark.createDataFrame(rows1 + rows2, schema), ["g"], "v"
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, one.collect()))

    # restart, no new files: the checkpoint yields no epochs, state unchanged
    q2 = quantile_stream(stream, state_dir, ckpt, ["g"], "v")
    q2.awaitTermination(120)
    assert sorted(map(tuple, latest_quantile_state(spark, state_dir).collect())) == \
        sorted(map(tuple, one.collect()))

    # replayed epoch: folding the SAME epoch_id twice is a no-op, so the
    # non-idempotent sum cannot double-count
    batch = spark.createDataFrame([(7, "A", 50.0)], schema)
    next_epoch = 10_000
    assert _fold_quantile_epoch(spark, state_dir, batch, next_epoch, ["g"], "v", 3, 100)
    after_once = sorted(map(tuple, latest_quantile_state(spark, state_dir).collect()))
    assert not _fold_quantile_epoch(spark, state_dir, batch, next_epoch, ["g"], "v", 3, 100)
    assert sorted(map(tuple, latest_quantile_state(spark, state_dir).collect())) == after_once

    # the estimate over the streamed state matches the operator surface
    est = {(r.g, r.q_milli): r.est for r in sketches.quantile_estimate(
        latest_quantile_state(spark, state_dir), ["g"], [500]
    ).collect()}
    assert set(est) == {("A", 500), ("B", 500)}


def test_quantile_stream_identity_guard(spark, tmp_path):
    """ADVICE r12: epoch numbering belongs to the checkpoint. A restart
    that keeps state_dir but resets/relocates the checkpoint would
    restart epoch ids at 0, collide with committed state_e{n}, and
    silently drop every new batch as a "replay" — the guard makes that
    a loud error instead. Adopting a marker-less committed chain is
    likewise explicit, never implicit."""
    import pytest as _pytest

    from etl_file_loader_spark.fs import FS
    from etl_file_loader_spark.streaming.ingest import (
        _quantile_identity_guard,
        quantile_stream,
    )

    src = tmp_path / "qg_src"
    src.mkdir()
    state_dir = str(tmp_path / "qg_state")
    ckpt = str(tmp_path / "qg_ckpt")
    schema = "id long, g string, v double"
    spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)], schema).write.parquet(
        str(src / "b1")
    )
    stream_schema = spark.read.parquet(str(src / "b1")).schema
    stream = spark.readStream.schema(stream_schema).option(
        "pathGlobFilter", "*.parquet"
    ).parquet(str(src / "*"))
    q = quantile_stream(stream, state_dir, ckpt, ["g"], "v")
    q.awaitTermination(120)
    fs = FS(spark)
    assert fs.read_text(f"{state_dir}/_stream_identity").strip() == ckpt

    # same state_dir, DIFFERENT checkpoint: raise, don't drop batches
    with _pytest.raises(ValueError, match="owned by"):
        quantile_stream(stream, state_dir, str(tmp_path / "other_ckpt"), ["g"], "v")

    # committed chain without a marker: refuse to guess its numbering
    fs.delete(f"{state_dir}/_stream_identity")
    with _pytest.raises(ValueError, match="no _stream_identity"):
        _quantile_identity_guard(spark, state_dir, ckpt)

    # explicit adoption: write the marker back -> the original pairing runs
    fs.write_text(f"{state_dir}/_stream_identity", ckpt)
    q2 = quantile_stream(stream, state_dir, ckpt, ["g"], "v")
    q2.awaitTermination(120)
