"""Benchmark runner: one workload, one seed, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

A run pins the Spark environment, sets the workload up from a cold
start (``setup_s``: JVM and session start, input generation, engine
state bootstrap and the warm-up pass), drives the engine in a closed
loop with one client for a fixed number of whole rounds derived from
``--seconds``, checks every output against an independent oracle, and
prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and Spark counters, reports the per-layer metrics and writes the
spans to ``.bench_work/traces/``. Every file a run writes stays under
``.bench_work/`` in the repository root; its inputs are removed at exit.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STARTED = time.perf_counter()

# name -> unit; BENCHMARK.json lists the same metrics with their bounds
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "ops/min",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.core_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "spark.shuffle_mb_per_op": "MB",
    "spark.input_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.failed_tasks": "count",
    "functions.build_s": "s",
    "streaming.batch_s": "s",
    "streaming.trigger_gap_s": "s",
    "streaming.rows_per_s": "rows/s",
    "stores.apply_keyed_s": "s",
    "stores.read_keys_s": "s",
    "stores.vacuum_s": "s",
    "stores.buckets_rewritten_per_commit": "count",
    "stores.files_per_commit": "count",
    "stores.bytes_written_per_input_byte": "ratio",
    "stores.bytes_stored_per_input_byte": "ratio",
    "postings.topk_s": "s",
    "postings.append_s": "s",
    "postings.index_mb": "MB",
    "ann.topk_s": "s",
    "ann.append_s": "s",
    "ann.recall_at_k": "ratio",
    "trace.overhead_frac": "ratio",
}
# per-layer metric -> the span whose mean wall it reports
SPAN_METRICS = {
    "plans.build_s": "plans.build",
    "plans.exec_s": "plans.exec",
    "functions.build_s": "functions.build",
    "streaming.batch_s": "streaming.batch",
    "stores.apply_keyed_s": "stores.apply_keyed",
    "stores.read_keys_s": "stores.read_keys",
    "stores.vacuum_s": "stores.vacuum",
    "postings.topk_s": "postings.topk",
    "postings.append_s": "postings.append",
    "ann.topk_s": "ann.topk",
    "ann.append_s": "ann.append",
}


def machine() -> dict[str, int]:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)), "mem_mb": mem_kb // 1024}


def pin_environment(work: str) -> dict[str, str]:
    """Spark settings pinned per run, before the engine is imported
    (``session.py`` reads ``SPARK_GRAFT_CPUS`` at import). The driver
    heap is an eighth of the machine's memory, 1-4 GB: the inputs are a
    few MB, and the engine's 24g default exceeds small machines."""
    m = machine()
    env = {
        "SPARK_GRAFT_CPUS": str(m["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(max(m['mem_mb'] // 8, 1024), 4096)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM of the run (spark-submit's launcher too): temp files
        # under the work dir, and no hsperfdata files in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def start_session(work: str):
    from iheardai_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """Peak resident memory of this process, the driver JVM and the
    JVM's Python workers."""
    proc = jvm_process()
    pids = ["self"] + ([proc.pid, *_descendants(proc.pid)] if proc else [])
    return sum(_hwm_mb(p) for p in pids)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its workers have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    proc = jvm_process()
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def measure(wl, seconds: float, tracer):
    """Closed loop, one client, whole rounds. The round count is fixed
    from ``seconds`` and the workload's nominal round time, so every
    run of a workload, and both sides of a comparison, measure the same
    op sequence; a time-bounded loop would measure 2 rounds on one seed
    and 3 on the next. Returns (kind, latency, completed) per op and
    the wall seconds of the window."""
    tracer.phase = "measure"
    records = []
    start = time.perf_counter()
    for r in range(max(1, round(seconds / wl.round_s))):
        for kind, op in wl.round(r):
            with tracer.op(kind, len(records)):
                t0 = time.perf_counter()
                try:
                    op()
                    ok = True
                except Exception:  # an op that raises is a failed op; the loop goes on
                    traceback.print_exc()
                    ok = False
                records.append((kind, time.perf_counter() - t0, ok))
    return records, time.perf_counter() - start


def count_failed(records, bad_kinds) -> int:
    return sum(1 for kind, _lat, ok in records if not ok or kind in bad_kinds)


def end_to_end(records, wall: float, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = [lat for _kind, lat, _ok in records]
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "ops_per_min": 60.0 * len(records) / wall,
        "peak_rss_mb": rss_mb,
    }


def per_layer(wl, tracer, records, timings: dict, overhead: float) -> dict[str, float]:
    """Per-layer figures of the traced window; layers the workload does
    not call read 0."""
    ops = [o for o in tracer.ops if o["phase"] == "measure"]
    n = max(len(ops), 1)
    wall = sum(o["wall_s"] for o in ops)
    deltas = [d for _name, d in tracer.store_deltas]
    commits = sum(d.commits for d in deltas)
    ingest = [s for s in tracer.spans if s["phase"] == "measure" and s["name"] == "op.ingest"]
    batches = [s for s in tracer.spans if s["phase"] == "measure" and s["name"] == "streaming.batch"]
    out = {name: 0.0 for name in PER_LAYER}
    out.update({m: tracer.mean_duration(span) for m, span in SPAN_METRICS.items()})
    out.update(
        {
            "session.start_s": timings["session_start_s"],
            "session.warmup_s": timings["warmup_s"],
            "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
            "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
            "spark.core_busy_frac": sum(o["run_s"] for o in ops) / (wall * tracer.cores) if wall else 0.0,
            "spark.driver_gap_s": sum(o["wall_s"] - o["job_busy_s"] for o in ops) / n,
            "spark.shuffle_mb_per_op": sum(o["shuffle_bytes"] for o in ops) / n / 1e6,
            "spark.input_mb_per_op": sum(o["input_bytes"] for o in ops) / n / 1e6,
            "spark.spill_mb_per_op": sum(o["spill_bytes"] for o in ops) / n / 1e6,
            "spark.failed_tasks": float(sum(o["failed_tasks"] for o in ops)),
            "streaming.trigger_gap_s": (
                (sum(s["end"] - s["start"] for s in ingest) - sum(s["end"] - s["start"] for s in batches))
                / len(ingest)
                if ingest
                else 0.0
            ),
            "stores.buckets_rewritten_per_commit": sum(d.buckets for d in deltas) / commits if commits else 0.0,
            "stores.files_per_commit": sum(d.files for d in deltas) / commits if commits else 0.0,
            "stores.bytes_written_per_input_byte": (
                sum(d.bytes for d in deltas) / tracer.input_bytes if tracer.input_bytes else 0.0
            ),
            "trace.overhead_frac": overhead,
        }
    )
    out.update(wl.layer_metrics(records))
    return out


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - STARTED:.1f}s] {msg}", file=sys.stderr, flush=True)


def checked(wl, records) -> dict[str, list[str]]:
    """The workload's output checks; a checker that raises fails every
    op kind of the run rather than ending it without a result."""
    try:
        return wl.failed_kinds()
    except Exception:
        problem = traceback.format_exc()
        return {kind: [problem] for kind, _lat, _ok in records}


def run(args, work: str, env: dict) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    make = WORKLOADS[args.workload]
    log("starting")
    tracer = Tracer(enabled=bool(args.trace), cores=int(env["SPARK_GRAFT_CPUS"]))
    spark = None
    timings = {}
    try:
        t0 = time.perf_counter()
        spark = tracer.spark = start_session(work)
        timings["session_start_s"] = time.perf_counter() - t0
        wl = make(spark, tracer, args.seed, work)
        wl.bootstrap()
        t1 = time.perf_counter()
        bootstrap_s = t1 - t0 - timings["session_start_s"]
        tracer.phase = "warmup"
        wl.warmup()
        timings["warmup_s"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        log(f"session {timings['session_start_s']:.3f}s, bootstrap {bootstrap_s:.3f}s, "
            f"warm-up {timings['warmup_s']:.3f}s")

        records, wall = measure(wl, args.seconds, tracer)
        # before the checks: their DuckDB queries and frames are the
        # benchmark's memory, not the engine's
        rss_mb = peak_rss_mb()
        log(f"{len(records)} ops in {wall:.2f}s: {[(k, round(lat, 3)) for k, lat, _ok in records]}")
        log("checking outputs")
        bad = checked(wl, records)
        for kind, problems in bad.items():
            log(f"check failed for {kind}: {problems}")
        if args.trace:
            metrics = per_layer(wl, tracer, records, timings, tracer.own_s / wall)
            trace_path = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path)
            log(f"trace written to {trace_path}")
        else:
            metrics = end_to_end(records, wall, setup_s, rss_mb)
    finally:
        if spark is not None:
            log("stopping Spark")
            stop_session(spark)
            log("stopped")
    failed = count_failed(records, bad)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": failed == 0 and not bad,
        "attempted": len(records),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import importlib.util

    for module in ("iheardai_data_pipeline_spark", "oracle_harness"):
        if importlib.util.find_spec(module) is None:
            print(f"perfbench: {module} is not importable from {ROOT}; run from a checkout of the engine",
                  file=sys.stderr)
            return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    print(f"perfbench: environment {json.dumps({**env, **machine()})}", file=sys.stderr)
    try:
        result = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
