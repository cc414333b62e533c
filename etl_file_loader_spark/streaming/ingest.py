"""Continuous ingest: Structured Streaming file source -> validate -> publish.

The reference's closest analog is its batch "scan directory -> process each
file -> archive/delete" loop (reference processor.py:53-55, runner.py:142-149,
269-271). Its natural Spark re-expression is the streaming file source with
``cleanSource=archive`` + per-batch validate/split/publish in ``foreachBatch``
— SURVEY §2.8 calls this mapping out explicitly.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds batch
size); validation stays the same single codegen'd projection as batch; the
MERGE in foreachBatch shuffles on grain exactly like the batch path. State
(which files were seen) lives in the checkpoint, giving exactly-once per file
— the streaming equivalent of the reference's duplicate-file check (J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.operators import dlq as dlq_ops
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.operators import validate as validate_ops
from etl_file_loader_spark.operators.hashing import with_row_hash
from etl_file_loader_spark.plans.batch import FILE_COL, latest_file_wins, with_file_lineage
from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, publish
from etl_file_loader_spark.plans.warehouse import Warehouse


def raw_stream_schema(config: SourceConfig) -> T.StructType:
    """All-string schema over the file aliases (cast-validate downstream)."""
    return T.StructType(
        [T.StructField(f.alias or f.name, T.StringType()) for f in config.fields]
    )


class StreamingIngest:
    """File-source streaming pipeline for one CSV source config."""

    def __init__(
        self,
        spark: SparkSession,
        config: SourceConfig,
        warehouse: Warehouse,
        source_dir: str,
        checkpoint_dir: str,
        archive_dir: str | None = None,
        max_files_per_trigger: int = 100,
    ):
        self.spark = spark
        self.config = config
        self.warehouse = warehouse
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.archive_dir = archive_dir
        self.max_files_per_trigger = max_files_per_trigger
        self._epoch = 0

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Validate and publish one micro-batch; ``batch_df`` carries each
        row's file as ``FILE_COL`` (attached on the scan by ``start``). A
        micro-batch may hold several files, so a grain they share keeps
        the latest file's row, as in ``batch_ingest``."""
        cfg = self.config
        renamed = validate_ops.rename_and_prune(batch_df, cfg, passthrough=(FILE_COL,))
        validated = validate_ops.validate(renamed, cfg, passthrough=(FILE_COL,)).cache()
        try:
            valid, invalid = validate_ops.split(validated)
            log_id = int(epoch_id) + 1
            if not invalid.isEmpty():
                self.warehouse.append(
                    DLQ_TABLE,
                    dlq_ops.build_dlq(invalid, cfg, F.col(FILE_COL), log_id),
                )
            stage = with_row_hash(latest_file_wins(valid, cfg.grain), cfg).withColumn(
                publish_ops.LOG_ID_COL, F.lit(log_id).cast("long")
            )
            publish(self.warehouse, cfg, stage)
        finally:
            validated.unpersist()

    def start(self) -> StreamingQuery:
        reader = (
            self.spark.readStream.schema(raw_stream_schema(self.config))
            .option("header", "true")
            .option("sep", self.config.delimiter)
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        )
        if self.archive_dir:
            reader = reader.option("cleanSource", "archive").option(
                "sourceArchiveDir", self.archive_dir
            )
        raw = with_file_lineage(reader.csv(self.source_dir))
        return (
            raw.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires the
    key's state once the watermark passes its event time — so state size
    tracks the duplicate-arrival horizon, not the full stream history
    (plain dropDuplicates on a stream grows state forever). The batch
    analogue (same call on a batch frame) degenerates to a plain
    dropDuplicates over the keys.
    """
    wm = events.withWatermark(ts_col, watermark)
    if events.isStreaming:
        return wm.dropDuplicatesWithinWatermark(key_cols)
    return events.dropDuplicates(key_cols)


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join.

    The static side is broadcast to every micro-batch task (Spark re-plans
    the static side per batch, so a refreshed dimension table is picked up
    on the next trigger without restarting the query). No state store, no
    watermark needed — the canonical pattern for attaching dimension
    attributes to a stream at 100 TB/day rates.
    """
    return events.join(F.broadcast(dim), on, how)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregate (works on a stream or batch).

    The canonical late-data-tolerant streaming aggregation: event-time window
    x event_type counts + value sums. With a stream input, append mode emits
    a window only once the watermark passes its end.
    """
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def incremental_agg_stream(
    events: DataFrame,
    warehouse,
    table: str,
    checkpoint_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """Streaming materialized view: watermarked windowed counts continuously
    upserted into a warehouse table.

    Update-mode emits a window row whenever it changes; ``foreachBatch``
    replaces the matching (window, event_type) rows in the target (anti-join
    + union — the micro-batch MERGE). Late events within the watermark
    re-emit their window, so the table converges to the batch answer;
    checkpointing makes each window's final state exactly-once.
    """
    agg = windowed_event_counts(events, window=window, watermark=watermark)
    key = ["window_start", "window_end", "event_type"]

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with warehouse.mutate(table):
            if warehouse.exists(table):
                kept = warehouse.read_table(table).join(
                    batch_df.select(key), key, "left_anti"
                )
                warehouse.overwrite(table, kept.unionByName(batch_df))
            else:
                warehouse.overwrite(table, batch_df)

    return (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def near_dedup_stream(
    docs: DataFrame,
    warehouse,
    out_table: str,
    index_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 5,
    bands: int = 4,
    rows_per_band: int = 4,
    transform=None,
):
    """Continuous corpus construction with streaming NEAR-dedup.

    ``transform`` (optional ``DataFrame -> DataFrame``) runs on each
    micro-batch BEFORE dedup — the hook for stateless curation stages
    (quality filter, PII scrub); see ``curate_stream``.

    Each micro-batch: (1) within-batch near-dup groups (banded MinHash
    candidates -> components) collapse to their min-id representative;
    (2) representatives are flagged against the PERSISTED band index
    (delta-vs-corpus — old-vs-old is never rescanned); (3) survivors
    append to the corpus table and their band rows merge into the index
    (union + re-min, so the index stays one row per distinct band bucket).

    State lives in the warehouse, not the streaming state store: the index
    is restartable, compactable, and readable by any batch job mid-stream
    — and its size tracks distinct content, not stream history. This is
    the streaming face of ``dedup.incremental_near_dedup``; the state-store
    alternative (``dropDuplicatesWithinWatermark``) only covers exact keys
    within a time horizon.
    """
    from etl_file_loader_spark.operators import dedup as dedup_ops

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
            if batch_df.isEmpty():
                return
        sigs = dedup_ops.minhash_signatures(
            batch_df, id_col, text_col, num_hashes=num_hashes, n=n
        )
        band_rows = dedup_ops._band_rows(sigs, id_col, bands, rows_per_band)
        pairs = dedup_ops._bucket_member_pairs(
            band_rows, id_col, ["band_idx", "band_hash"]
        )
        losers = (
            dedup_ops.connected_components(pairs)
            .filter(F.col("cluster_id") != F.col("doc_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        reps = batch_df.join(losers, id_col, "left_anti")
        rep_bands = band_rows.join(reps.select(id_col), id_col, "left_semi")
        with warehouse.mutate(index_table):
            if warehouse.exists(index_table):
                idx = warehouse.read_table(index_table)
                dup_ids = (
                    rep_bands.join(idx, ["band_idx", "band_hash"], "left_semi")
                    .select(id_col)
                    .distinct()
                )
                survivors = reps.join(dup_ids, id_col, "left_anti")
                surv_bands = rep_bands.join(
                    survivors.select(id_col), id_col, "left_semi"
                )
                merged = (
                    idx.unionByName(
                        surv_bands.select(
                            "band_idx", "band_hash", F.col(id_col).alias("cid")
                        )
                    )
                    .groupBy("band_idx", "band_hash")
                    .agg(F.min("cid").alias("cid"))
                )
                warehouse.overwrite(index_table, merged)
            else:
                survivors = reps
                warehouse.overwrite(
                    index_table,
                    rep_bands.groupBy("band_idx", "band_hash").agg(
                        F.min(F.col(id_col)).alias("cid")
                    ),
                )
        if warehouse.exists(out_table):
            warehouse.append(out_table, survivors)
        else:
            warehouse.overwrite(out_table, survivors)

    return (
        docs.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curate_stream(
    docs: DataFrame,
    warehouse,
    out_table: str,
    index_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.5,
    scrub_pii: bool = True,
    **dedup_kwargs,
):
    """The streaming face of the curation pipeline: each micro-batch runs
    the STATELESS curation stages (quality floor, PII redaction) and then
    the index-backed streaming near-dedup — continuous corpus construction
    where only clean, novel documents ever reach the corpus table.

    The stateful stage is exactly ``near_dedup_stream``'s warehouse-persisted
    band index (restartable, size ∝ distinct content); the stateless stages
    are per-batch column expressions with no state at all. Classifier-based
    filtering slots in the same way (score is a pure projection) — pass a
    custom ``transform`` to ``near_dedup_stream`` directly for bespoke
    stacks.
    """
    from etl_file_loader_spark.operators import text as text_ops

    def stateless(batch_df: DataFrame) -> DataFrame:
        out = batch_df
        if min_quality is not None:
            out = out.filter(text_ops.quality_score(F.col(text_col)) >= min_quality)
        if scrub_pii:
            out = out.withColumn(text_col, text_ops.scrub_pii(F.col(text_col)))
        return out

    return near_dedup_stream(
        docs,
        warehouse,
        out_table,
        index_table,
        checkpoint_dir,
        id_col=id_col,
        text_col=text_col,
        transform=stateless,
        **dedup_kwargs,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    max_delay: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join.

    Matches right-stream rows to left-stream rows with the same key where
    right.ts in [left.ts, left.ts + max_delay] — the impression->click
    attribution shape. Both sides are watermarked and the join condition
    bounds event-time distance, so Spark can size and EXPIRE the join state
    (an unbounded-condition stream-stream join would buffer forever).
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, cond, "inner")


def cdc_stream(
    changes: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    tracked: list[str],
    seq_col: str,
    op_col: str = "op",
) -> StreamingQuery:
    """Continuous CDC apply: a streaming change feed MERGEs into a keyed
    state snapshot micro-batch by micro-batch via
    ``publish.cdc_apply_tombstoned`` — the streaming face of the third
    merge flavor (Delta Live Tables' APPLY CHANGES INTO, minus Delta).

    State = versioned parquet snapshots under ``state_dir``
    (``state_v{n}``: read latest, write next — never overwrite the input
    of a running plan). Seed ``state_v0`` with the initial snapshot plus
    ``_deleted = 0`` before starting; the seed needs no commit marker
    (external tools often write none, and :func:`process` never writes
    v0), while snapshots v>=1 are adopted only once committed. The
    visible table after any batch is
    ``state.filter("_deleted = 0").drop("_deleted")``; tombstones make
    batch-by-batch application CONFLUENT under out-of-order batches (a
    late stale change loses to an earlier-arrived higher-seq delete
    exactly as it would in one big batch) — pinned by the
    ``streaming_cdc_apply`` suite row, which replays the SAME DuckDB
    oracle as batch ``cdc_apply``.

    Crash safety: each snapshot is published by
    :func:`etl_file_loader_spark.snapshots.commit` (staged write, marker,
    one rename), so a micro-batch that dies mid-write leaves at worst a
    staging husk (removed by a later commit), never a partial
    ``state_v{n}`` that a restart could adopt as its base. A restarted
    query resumes from the last PUBLISHED snapshot; if the crash fell
    between the rename and the checkpoint commit, the replayed batch
    re-applies the same changes on top of the already-published
    version — confluent
    ``cdc_apply_tombstoned`` makes that a content no-op (one redundant
    but identical version). At cluster scale the snapshot-chain becomes
    a Delta/Iceberg MERGE per batch — plan shape per batch is identical
    (one batch-sized window + one full-outer join against the state).
    """
    from etl_file_loader_spark import snapshots
    from etl_file_loader_spark.fs import FS
    from etl_file_loader_spark.operators import publish as publish_ops

    def _latest_version(fs: FS) -> int:
        vs = snapshots.committed(fs, state_dir, "state_v")
        # the user's seed may come from a tool that writes no marker;
        # process() never writes v0, so a marker-less v0 is always the seed
        if not vs and fs.exists(f"{state_dir}/state_v0"):
            vs = [0]
        if not vs:
            raise FileNotFoundError(
                f"cdc_stream: seed {state_dir}/state_v0 with the initial "
                "snapshot (+ _deleted = 0) before starting"
            )
        return max(vs)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fs = FS(spark)
        v = _latest_version(fs)
        state = spark.read.parquet(f"{state_dir}/state_v{v}")
        new_state = publish_ops.cdc_apply_tombstoned(
            state, batch_df, keys, tracked, seq_col, op_col
        )
        snapshots.commit(fs, state_dir, "state_v", v + 1, new_state.write.parquet)

    return (
        changes.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _quantile_identity_guard(spark, state_dir: str, checkpoint_dir: str) -> None:
    """Refuse to run a quantile stream whose epoch numbering does not
    belong to ``state_dir``'s committed chain (ADVICE r12).

    The exactly-once guard keys snapshots on foreachBatch ``epoch_id``,
    whose numbering is owned by the CHECKPOINT: reset or relocate the
    checkpoint dir while keeping state_dir (a common "restart the
    stream" move) and epoch ids restart at 0, collide with committed
    ``state_e0/e1/...``, and every new batch silently folds nothing
    while ``latest_quantile_state`` serves stale registers. So the
    stream records its checkpoint identity in a marker under state_dir
    on first start and RAISES on mismatch thereafter — data loss becomes
    a loud error with the two honest exits spelled out (reuse the
    original checkpoint, or start a fresh state_dir). Comparison is the
    literal string: two spellings of one location (file:/x vs /x) are
    treated as different owners, the safe direction."""
    from etl_file_loader_spark import snapshots
    from etl_file_loader_spark.fs import FS

    fs = FS(spark)
    marker = f"{state_dir}/_stream_identity"
    if fs.exists(marker):
        recorded = fs.read_text(marker).strip()
        if recorded != checkpoint_dir:
            raise ValueError(
                f"quantile_stream state at {state_dir!r} is owned by "
                f"checkpoint {recorded!r}, but this stream runs on "
                f"{checkpoint_dir!r}. Epoch ids from a different "
                "checkpoint restart at 0 and collide with committed "
                "state_e{n} snapshots — new batches would be silently "
                "dropped as replays. Either restart with the original "
                "checkpoint dir, or point the stream at a fresh "
                "state_dir (and re-seed it from the old chain's latest "
                "snapshot if its counts should carry over)."
            )
        return
    if snapshots.committed(fs, state_dir, "state_e"):
        raise ValueError(
            f"quantile_stream state at {state_dir!r} has committed "
            "state_e{n} snapshots but no _stream_identity marker (a "
            "pre-marker chain, or one built by hand). Cannot prove this "
            "stream's epoch numbering matches it; write the marker "
            "yourself (the checkpoint dir the chain was built with) to "
            "adopt the state explicitly, or start a fresh state_dir."
        )
    fs.mkdirs(state_dir)
    fs.write_text(marker, checkpoint_dir)


def _fold_quantile_epoch(
    spark,
    state_dir: str,
    batch_df: DataFrame,
    epoch_id: int,
    keys: list[str],
    col: str,
    sig_digits: int,
    unit_scale: int,
) -> bool:
    """Fold ONE micro-batch's histogram into the epoch-named register
    chain; returns False if this epoch already folded (a replayed batch —
    the call is a no-op). Factored out of :func:`quantile_stream` so the
    idempotence guard is directly testable."""
    from etl_file_loader_spark import snapshots
    from etl_file_loader_spark.fs import FS
    from etl_file_loader_spark.operators import sketches

    fs = FS(spark)
    committed = snapshots.committed(fs, state_dir, "state_e")
    if epoch_id in committed:
        # this epoch committed its fold before a crash/restart replayed
        # it — folding again would double-count (sum-merge is not
        # confluent), so the guard IS the exactly-once
        return False
    h = sketches.quantile_histogram(batch_df, keys, col, sig_digits, unit_scale)
    done = [e for e in committed if e < epoch_id]
    if done:
        base = spark.read.parquet(f"{state_dir}/state_e{done[-1]}")
        merged = sketches.quantile_hist_merge([base, h], keys)
    else:
        merged = h
    snapshots.commit(fs, state_dir, "state_e", epoch_id, merged.write.parquet)
    return True


def quantile_stream(
    values: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    col: str,
    sig_digits: int = 3,
    unit_scale: int = 100,
) -> StreamingQuery:
    """Continuous quantile maintenance: each micro-batch's decimal
    log-histogram sum-merges into an EPOCH-NAMED register snapshot chain
    (``state_e{n}`` under ``state_dir``; read the latest with
    :func:`latest_quantile_state`).

    This is the executable answer to QuantileIndex's exactly-once
    caveat: sum-merge is NOT confluent (cdc_stream's replay story —
    "re-applying is a content no-op" — does not hold for counts), so
    replay safety comes from the idempotent-sink recipe instead: foreach
    Batch's ``epoch_id`` is stable across retries of the same batch, the
    snapshot is PUBLISHED under that epoch's name via
    :func:`etl_file_loader_spark.snapshots.commit`, and a replayed
    epoch that finds its own committed snapshot folds nothing. Engine
    checkpointing guarantees each batch gets exactly one epoch_id;
    the name guard turns at-least-once side effects into exactly-once
    state. Per-batch plan: one histogram agg (map-side partials,
    register-bounded shuffle) + one register-sized sum-merge — nothing
    grows with stream history.

    The epoch-name guard is only as good as the epoch numbering, which
    belongs to the CHECKPOINT — so the state chain records its
    checkpoint identity and a restart against a different checkpoint
    raises instead of silently dropping batches whose restarted epoch
    ids collide with committed snapshots (``_quantile_identity_guard``).
    """
    _quantile_identity_guard(values.sparkSession, state_dir, checkpoint_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _fold_quantile_epoch(
            batch_df.sparkSession, state_dir, batch_df, epoch_id,
            keys, col, sig_digits, unit_scale,
        )

    return (
        values.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_quantile_state(spark, state_dir: str) -> DataFrame:
    """The most recent COMPLETE register snapshot of a
    :func:`quantile_stream` chain (feed to ``sketches.quantile_estimate``
    or load into a ``QuantileIndex`` via its parquet state)."""
    from etl_file_loader_spark import snapshots
    from etl_file_loader_spark.fs import FS

    done = snapshots.committed(FS(spark), state_dir, "state_e")
    if not done:
        raise FileNotFoundError(f"no complete quantile state under {state_dir}")
    return spark.read.parquet(f"{state_dir}/state_e{done[-1]}")
