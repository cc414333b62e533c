"""The benchmark's workloads.

Each workload drives the program as one closed-loop caller: the next
operation starts when the previous one returns. A workload's ``run`` sets up
(session, seed load, warm-up operations), times whole rounds of operations
for at least the given number of seconds, checks every output against the
generator's expectations, and returns its records for ``run.py`` to turn into
metrics. Metrics cover the first round only, so every run measures the same
work however many rounds fit in the time.
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark import FieldSpec, SourceConfig, get_spark
from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline
from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, Processor
from etl_file_loader_spark.plans.runlog import LOG_TABLE
from etl_file_loader_spark.plans.warehouse import Warehouse
from etl_file_loader_spark.registry import SourceRegistry
from perfbench import checks, gen, log, tracing


@dataclass
class Op:
    """One timed operation."""

    seconds: float
    items: int
    input_bytes: int
    written_bytes: int = 0
    failed: bool = False
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    start_s: float
    warmup_s: float
    ops: list[Op]  # every operation attempted
    timed: list[Op]  # the first round: what the metrics cover
    errors: list[str]
    stored_bytes: int  # live output bytes after the first round
    loaded_bytes: int  # input bytes loaded up to the end of the first round
    jvm_peak_rss_mib: float


class Workload:
    """Shared set-up and the closed timing loop."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = tracing.Tracer()
        self.errors: list[str] = []
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs)

    def start_spark(self):
        cpus = len(os.sched_getaffinity(0))
        with self.tracer.span("session.get_spark") as sp:
            spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.start_s = sp["end"] - sp["start"]
        self.stages = tracing.SparkStageMetrics(spark) if self.trace else None
        return spark

    def timed(self, index: int, op, *args) -> tuple[float, object, dict]:
        """Run one operation; in a traced run, also collect its Spark stage
        metrics (after the clock stops). An operation that raises returns
        ``None`` and leaves its exception in ``errors``."""
        sc = self.spark.sparkContext
        group = f"perfbench-op-{index}"
        if self.trace:
            sc.setJobGroup(group, group)
            self.tracer.op_id = index
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = op(*args)
        except Exception as e:  # noqa: BLE001 - a failed operation, counted
            out = None
            self.errors.append(f"operation {index} raised {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        layers = {}
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.tracer.op_id = None
            layers = {f"spark.{k}": v for k, v in self.stages.group(group).items()}
        return dt, out, layers

    def loop(self, step, after_first_round):
        """Call ``step(i)`` in whole rounds of ``ROUND`` operations until
        ``seconds`` have passed; each call runs one operation and returns
        its :class:`Op`. ``after_first_round()`` is called once, when the
        first round ends; returns every op and what that call returned."""
        ops: list[Op] = []
        t_end = time.perf_counter() + self.seconds
        while not ops or time.perf_counter() < t_end:
            for _ in range(self.ROUND):
                ops.append(step(len(ops)))
            if len(ops) == self.ROUND:
                first = after_first_round()
        return ops, first

    def checked(self, check) -> None:
        """Run the output checks; a check that raises is a failed check."""
        try:
            self.errors += check()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            self.errors.append(f"output check raised {type(e).__name__}: {e}")


# ---------------------------------------------------------------------------
# ingest_upsert
# ---------------------------------------------------------------------------


def _phone_cleaner(col):
    return F.regexp_replace(col, "[^0-9]", "")


def customers_source() -> SourceConfig:
    """The reference's customers source: phone cleaning, email check, max
    lengths; up to 5% invalid rows per file go to the DLQ."""
    L = gen.MAX_LEN
    return SourceConfig(
        name="customers",
        file_pattern="customers-*.csv",
        file_format="csv",
        fields=[
            FieldSpec("customer_id", alias="Customer Id", nullable=False, max_length=L["customer_id"]),
            FieldSpec("first_name", alias="First Name", nullable=False, max_length=L["first_name"]),
            FieldSpec("last_name", alias="Last Name", max_length=L["last_name"]),
            FieldSpec("company", alias="Company", max_length=L["company"]),
            FieldSpec("city", alias="City", max_length=L["city"]),
            FieldSpec("country", alias="Country", max_length=L["country"]),
            FieldSpec("phone_1", alias="Phone 1", max_length=L["phone_1"], cleaner=_phone_cleaner),
            FieldSpec("phone_2", alias="Phone 2", max_length=L["phone_2"], cleaner=_phone_cleaner),
            FieldSpec("email", alias="Email", nullable=False, email=True, max_length=L["email"]),
            FieldSpec("subscription_date", T.DateType(), alias="Subscription Date"),
            FieldSpec("website", alias="Website", max_length=L["website"]),
        ],
        grain=["customer_id"],
        validation_error_threshold=0.05,
    )


def _stage_seconds(log_rows: list[dict]) -> dict[str, dict[str, float]]:
    """filename -> stage -> seconds, from run-log rows."""
    out: dict[str, dict[str, float]] = {}
    for r in log_rows:
        d: datetime.timedelta = r["ended_at"] - r["started_at"]
        out.setdefault(r["source_filename"], {})[r["stage"]] = d.total_seconds()
    return out


class IngestUpsert(Workload):
    SEED_ROWS = 4000
    FILE_ROWS = 2000
    WARMUP_FILES = 2
    ROUND = 3

    def run(self) -> Outcome:
        stream = gen.UpsertStream(self.rng, self.inputs, self.FILE_ROWS)
        seed_file = stream.next_file(self.SEED_ROWS)
        warm = [stream.next_file() for _ in range(self.WARMUP_FILES)]

        log("inputs written")
        t_setup = time.perf_counter()
        spark = self.start_spark()
        root = os.path.join(self.work, "warehouse")
        if self.trace:
            wh = tracing.TracedWarehouse(spark, root, tracer=self.tracer)
        else:
            wh = Warehouse(spark, root)
        processor = Processor(spark, wh, SourceRegistry([customers_source()]))
        files, results = [], []

        def load(f):
            r = processor.process_file(f.path)
            files.append(f)
            counts = r.counts
            results.append((r.filename, r.success, counts and (counts.inserts, counts.updates, counts.unchanged)))
            return r

        t_warm = time.perf_counter()
        with self.tracer.span("setup.seed_and_warmup"):
            for f in [seed_file, *warm]:
                load(f)
        setup_s = time.perf_counter() - t_setup
        log("set-up done")
        warmup_s = time.perf_counter() - t_warm

        timed_files: list[gen.CustomerFile] = []

        def step(i: int) -> Op:
            f = stream.next_file()
            timed_files.append(f)
            before = tracing.snapshot(root)
            if self.trace:
                wh.reset_counters()
                dlq_before = checks.count_rows(root, DLQ_TABLE)
            dt, r, layers = self.timed(i, load, f)
            written = sum(s for _, s in tracing.created(before, tracing.snapshot(root)))
            if self.trace and r is not None:
                c = wh.reset_counters()
                dlq_after = checks.count_rows(root, DLQ_TABLE)
                removed = dlq_before + len(f.invalid) - dlq_after
                useful = (r.counts.inserts + r.counts.updates) if r.counts else 0
                layers.update({f"plans.warehouse.{k}": v for k, v in c.items()
                               if k != "merge_rows_rewritten"})
                layers["plans.warehouse.merge_useful_row_ratio"] = (
                    useful / c["merge_rows_rewritten"] if c["merge_rows_rewritten"] else 0.0)
                layers["operators.dlq.cleanup_useful_row_ratio"] = (
                    removed / dlq_after if dlq_after else 0.0)
            return Op(dt, f.n_rows, f.n_bytes, written, r is None or not r.success, layers)

        def first_round():
            loaded = [seed_file, *warm, *timed_files]
            return tracing.live_bytes(root), sum(f.n_bytes for f in loaded)

        ops, (stored_bytes, loaded_bytes) = self.loop(step, first_round)
        log(f"timed {len(ops)} operations")

        def check():
            errors = checks.check_counts(files, results)
            errors += checks.check_table(stream.expected_table(),
                                         checks.read_table(root, "customers"))
            errors += checks.check_dlq(files, checks.read_table(root, DLQ_TABLE))
            errors += checks.check_run_log(files, checks.read_table(root, LOG_TABLE))
            return errors

        self.checked(check)

        if self.trace:
            stage_s = _stage_seconds(checks.read_table(root, LOG_TABLE))
            names = {
                "check_if_processed": "plans.pipeline.check_if_processed_s",
                "read_data": "sources.read_data_s",
                "validate_data": "operators.validate.validate_data_s",
                "write_data": "operators.dlq.write_data_s",
                "audit_data": "operators.audit.audit_data_s",
                "publish_data": "operators.publish.publish_data_s",
                "cleanup_dlq_records": "operators.dlq.cleanup_dlq_records_s",
            }
            for op, f in zip(ops, timed_files):
                st = stage_s.get(f.name, {})
                op.layers.update({names[k]: v for k, v in st.items()})
                op.layers["plans.pipeline.unlogged_s"] = op.seconds - sum(st.values())

        log("outputs checked")
        return Outcome(
            setup_s=setup_s, start_s=self.start_s, warmup_s=warmup_s,
            ops=ops, timed=ops[:self.ROUND], errors=self.errors,
            stored_bytes=stored_bytes, loaded_bytes=loaded_bytes,
            jvm_peak_rss_mib=tracing.jvm_peak_rss_mib(spark),
        )


# ---------------------------------------------------------------------------
# curate_corpus
# ---------------------------------------------------------------------------


class CurateCorpus(Workload):
    # the committed sample's first WARMUP_BASE_DOCS documents make the
    # warm-up corpus, the rest the timed corpus
    WARMUP_BASE_DOCS = 100
    ROUND = 1
    CONFIG = CurationConfig(
        min_quality=0.5,
        scrub_pii=True,
        near_dedup=True,
        split_fractions={"train": 0.9, "heldout": 0.1},
        keep_splits=("train",),
        shard_budget_tokens=20_000,
        partition_cols=["lang"],
    )
    # on_stage names -> per-layer metric names
    STAGES = {
        "input": "plans.curation.input_s",
        "quality_filter": "operators.text.quality_filter_s",
        "near_dedup": "operators.dedup.near_dedup_s",
        "split_kept": "operators.sampling.split_s",
        "packed": "operators.sampling.pack_s",
    }

    def run(self) -> Outcome:
        sample = gen.load_sample()
        warm = gen.write_corpus(self.rng, os.path.join(self.inputs, "warm.parquet"),
                                sample[:self.WARMUP_BASE_DOCS])
        corpus = gen.write_corpus(self.rng, os.path.join(self.inputs, "corpus.parquet"),
                                  sample[self.WARMUP_BASE_DOCS:])
        config = self.CONFIG
        out_root = os.path.join(self.work, "shards")

        log("inputs written")
        t_setup = time.perf_counter()
        spark = self.start_spark()
        t_warm = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            CurationPipeline(config).run_and_write(
                spark.read.parquet(warm.path), os.path.join(self.work, "warm"))
        setup_s = time.perf_counter() - t_setup
        log("set-up done")
        warmup_s = time.perf_counter() - t_warm

        results = []

        def one_pass(path: str, events: list):
            hook = None
            if self.trace:
                def hook(name, count, secs):
                    now = time.perf_counter()
                    self.tracer.record(f"curation.{name}", now - secs, now)
                    events.append((name, secs, now))
            res = CurationPipeline(config, on_stage=hook).run_and_write(
                spark.read.parquet(corpus.path), path)
            return res, time.perf_counter()

        def step(i: int) -> Op:
            path = os.path.join(out_root, f"pass-{i}")
            events: list = []
            dt, out, layers = self.timed(i, one_pass, path, events)
            if out is None:
                return Op(dt, corpus.n_docs, corpus.n_bytes, 0, True, layers)
            res, t_done = out
            results.append((path, dict(res.stage_counts)))
            written = sum(s for _, s in tracing.snapshot(path).values())
            for name, secs, _ in events:
                layers[self.STAGES[name]] = secs
            if events:
                layers["operators.sampling.write_shards_s"] = t_done - events[-1][2]
            return Op(dt, corpus.n_docs, corpus.n_bytes, written, False, layers)

        def first_round():
            return tracing.live_bytes(out_root), corpus.n_bytes * self.ROUND

        ops, (stored_bytes, loaded_bytes) = self.loop(step, first_round)
        log(f"timed {len(ops)} operations")

        def check():
            # what near-dedup must receive and keep, by the DuckDB twins
            # on the generated corpus
            stage_input = checks.curation_stage_input(corpus.docs, config.min_quality)
            survivors = checks.near_dedup_twin(stage_input)
            errors = []
            for path, counts in results:
                errors += checks.check_curation(
                    stage_input, survivors, corpus.junk, counts, checks.read_shards(path),
                    config.split_fractions, config.keep_splits, config.shard_budget_tokens,
                )
            return errors

        self.checked(check)
        log("outputs checked")
        return Outcome(
            setup_s=setup_s, start_s=self.start_s, warmup_s=warmup_s,
            ops=ops, timed=ops[:self.ROUND], errors=self.errors,
            stored_bytes=stored_bytes, loaded_bytes=loaded_bytes,
            jvm_peak_rss_mib=tracing.jvm_peak_rss_mib(spark),
        )


WORKLOADS = {"ingest_upsert": IngestUpsert, "curate_corpus": CurateCorpus}


def median_layers(ops: list[Op]) -> dict[str, float]:
    keys = {k for op in ops for k in op.layers}
    return {k: statistics.median(op.layers.get(k, 0.0) for op in ops) for k in keys}
