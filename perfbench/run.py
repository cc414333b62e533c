"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. The run builds its inputs from the
seed, starts one Spark session, sets up, times whole rounds of closed-loop
operations for at least ``--seconds``, checks the outputs and prints one JSON
object as the last line of standard output: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``, both over the first
round of operations. Everything it writes goes to a temporary directory
under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(work: str) -> None:
    """Point every file Spark and its Python workers write into ``work`` and
    let the workers import the program from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    # the program's own sizing knobs stay at their defaults
    for knob in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    tempfile.tempdir = tmp
    # derby.log, spark-warehouse/ and other relative paths land here
    os.chdir(work)


def _stop_spark() -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(outcome, trace: bool) -> dict:
    """The metrics ``BENCHMARK.json`` lists for this kind of run, with their
    units: ``end_to_end`` untraced, ``per_layer`` traced."""
    from perfbench.workloads import median_layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}

    ops = outcome.timed
    total_s = sum(op.seconds for op in ops)
    if not trace:
        values = {
            "setup_s": outcome.setup_s,
            "op_s_p50": statistics.median(op.seconds for op in ops),
            "items_per_s": sum(op.items for op in ops) / total_s,
            "bytes_written_per_input_byte":
                sum(op.written_bytes for op in ops) / sum(op.input_bytes for op in ops),
            "stored_bytes_per_input_byte": outcome.stored_bytes / outcome.loaded_bytes,
        }
    else:
        values = dict.fromkeys(units, 0.0)
        values.update(median_layers(ops))
        values["session.start_s"] = outcome.start_s
        values["session.warmup_s"] = outcome.warmup_s
        values["session.jvm_peak_rss_mb"] = outcome.jvm_peak_rss_mib
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "etl_file_loader_spark", "__init__.py")):
        print(f"no etl_file_loader_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import log, selftest

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _environment(work)
        selftest.run(os.path.join(work, "selftest"))
        log("self-test passed")
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
        try:
            outcome = wl.run()
        finally:
            _stop_spark()
            log("session stopped")
        print("op seconds: " + " ".join(f"{op.seconds:.3f}" for op in outcome.ops),
              file=sys.stderr)
        for e in outcome.errors:
            print(f"check failed: {e}", file=sys.stderr)
        result = {
            "correct": not outcome.errors,
            "attempted": len(outcome.ops),
            "failed": sum(op.failed for op in outcome.ops),
            "metrics": _metrics(outcome, bool(args.trace)),
        }
        if args.trace:
            print(f"traced op_s_p50 {statistics.median(op.seconds for op in outcome.timed):.4f}",
                  file=sys.stderr)
            wl.tracer.dump(sys.stderr)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
