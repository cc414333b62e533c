"""Spans, file-tree accounting and Spark stage metrics, measured from outside
the program.

Spans are recorded only around calls the benchmark makes: into the program's
public entry points and into :class:`TracedWarehouse`, the benchmark's own
``Warehouse`` subclass. They stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq

from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse


class Tracer:
    """In-memory span recorder: name, start, end, parent and operation id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> None:
        """A finished span under the current one, timed by the caller."""
        self.spans.append({
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": start,
            "end": end,
        })

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, stream) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        stream.write("perfbench-spans " + json.dumps(rows) + "\n")
        for name, sec in sorted(self.self_times().items(), key=lambda kv: -kv[1]):
            stream.write(f"perfbench-self {sec:10.3f} s  {name}\n")


# ---------------------------------------------------------------------------
# file trees
# ---------------------------------------------------------------------------


def snapshot(*roots: str) -> dict[tuple[int, int, int], tuple[str, int]]:
    """Every regular file under ``roots``: (dev, inode, mtime) -> (path, size).

    A hard link shares its source's inode and mtime, so a carried-over file
    maps to the key it already had; a new file gets a new key even if the
    filesystem reuses a freed inode number, because its mtime differs.
    """
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.lstat(p)
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino, st.st_mtime_ns)] = (p, st.st_size)
    return out


def created(before: dict, after: dict) -> list[tuple[str, int]]:
    """Files present in ``after`` that ``before`` did not hold."""
    return [v for k, v in after.items() if k not in before]


def live_bytes(*roots: str) -> int:
    """Bytes of the files under ``roots``, each inode counted once."""
    seen = {}
    for (dev, ino, _), (_, size) in snapshot(*roots).items():
        seen[(dev, ino)] = size
    return sum(seen.values())


# ---------------------------------------------------------------------------
# warehouse
# ---------------------------------------------------------------------------

WAREHOUSE_COUNTERS = (
    "merge_overwrite_s", "merge_overwrite_bytes", "buckets_rewritten",
    "buckets_carried", "merge_rows_rewritten", "append_s", "append_bytes",
    "overwrite_s", "overwrite_bytes", "files_written", "read_calls",
)


class TracedWarehouse(Warehouse):
    """A ``Warehouse`` that times each public write and read and diffs the
    table's file tree around every write. ``counters`` accumulate until the
    caller resets them (once per operation)."""

    def __init__(self, *args, tracer: Tracer, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.counters = dict.fromkeys(WAREHOUSE_COUNTERS, 0)

    def reset_counters(self) -> dict:
        out, self.counters = self.counters, dict.fromkeys(WAREHOUSE_COUNTERS, 0)
        return out

    def _bucket_dirs(self, table: str) -> set[str]:
        versions = self._versions(table)
        if not versions:
            return set()
        cur = self._p(table, f"_v{versions[-1]}")
        return {n for n in os.listdir(cur) if n.startswith(f"{BUCKET_COL}=")}

    @contextmanager
    def _write(self, kind: str, table: str):
        """Time one write and count what it created; yields the list that
        receives the new files' (path, size)."""
        before = snapshot(self._p(table))
        new: list[tuple[str, int]] = []
        with self.tracer.span(f"warehouse.{kind}", table=table) as sp:
            yield new
        new += created(before, snapshot(self._p(table)))
        c = self.counters
        c[f"{kind}_s"] += sp["end"] - sp["start"]
        c[f"{kind}_bytes"] += sum(size for _, size in new)
        c["files_written"] += sum(1 for p, _ in new if p.endswith(".parquet"))

    def merge_overwrite(self, table, df, touched_buckets, partition_by=None):
        prev = self._bucket_dirs(table)
        with self._write("merge_overwrite", table) as new:
            super().merge_overwrite(table, df, touched_buckets, partition_by)
        c = self.counters
        if touched_buckets is None:
            c["buckets_rewritten"] += len(self._bucket_dirs(table))
        else:
            touched = {f"{BUCKET_COL}={b}" for b in touched_buckets}
            c["buckets_rewritten"] += len(touched)
            c["buckets_carried"] += len(prev - touched)
        c["merge_rows_rewritten"] += sum(
            pq.ParquetFile(p).metadata.num_rows for p, _ in new if p.endswith(".parquet")
        )

    def append(self, table, df):
        with self._write("append", table):
            super().append(table, df)

    def overwrite(self, table, df, partition_by=None):
        with self._write("overwrite", table):
            super().overwrite(table, df, partition_by)

    def read_table(self, table, schema=None, version=None):
        self.counters["read_calls"] += 1
        with self.tracer.span("warehouse.read_table", table=table):
            return super().read_table(table, schema, version)

    def read_table_buckets(self, table, bucket_values, schema=None):
        self.counters["read_calls"] += 1
        with self.tracer.span("warehouse.read_table_buckets", table=table):
            return super().read_table_buckets(table, bucket_values, schema)


# ---------------------------------------------------------------------------
# Spark stage metrics, read back from the monitoring REST API
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "executor_wait_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkStageMetrics:
    """Sums the stage metrics of every job in one job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        # the UI is this process's own JVM: never route it through a proxy
        self._open = urllib.request.build_opener(urllib.request.ProxyHandler({})).open

    def _get(self, path: str):
        with self._open(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def group(self, group: str) -> dict:
        # the status store is fed asynchronously: wait until the group's job
        # list is stable and none of its jobs is still running
        prev = None
        deadline = time.monotonic() + 10
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            done = all(j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs)
            if (done and key == prev) or time.monotonic() > deadline:
                break
            prev = key
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        out["jobs"] = len(jobs)
        for st in self._get("/stages?status=complete"):
            if st["stageId"] not in stage_ids:
                continue
            out["tasks"] += st["numCompleteTasks"]
            out["executor_run_s"] += st["executorRunTime"] / 1e3
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["input_bytes"] += st["inputBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        out["executor_wait_s"] = out["executor_run_s"] - out["executor_cpu_s"]
        return out


def jvm_peak_rss_mib(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")
