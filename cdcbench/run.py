#!/usr/bin/env python3
"""CDC warehouse benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload nosql_upsert --seed 1 --seconds 15 --trace 0

Runs from the repository root on ``local[<cpus>]`` with the engine's own
session factory. Inputs are generated from ``--seed`` before timing
starts; every table, checkpoint and scratch file lives under a per-run
directory in ``cdcbench/_run/`` that is removed at exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (the loop then runs ``--seconds``
untraced and ``--seconds`` traced, and the per-span record is kept in
``cdcbench/out/``). The line before it names every workload-specific
figure (commit, read, append and freshness latencies with their tails)
for a human reader.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# input sizes per workload; the CDC pools hold more batches than a run
# can use at the capped rates (a SQL cycle of 60 appends takes about 30 s
# on a 4-core host, the cap allows one per 20 s), so every run is bounded
# by time, not by input. The SQL warm-up cycle is short (10 appends):
# enough to pay the session's first-drain costs at less set-up time.
SIZES = {
    "nosql_upsert": {"keys": 50_000, "batch_rows": 2_000, "reads_per_batch": 2,
                     "ticks_per_s": 2.5, "warmup": 16},
    "sql_append_replica": {"base_rows": 20_000, "batch_rows": 2_500,
                           "sync_every": 60, "cycles_per_s": 0.05, "warmup": 1,
                           "warmup_appends": 10},
}
# end-to-end latencies: metric -> per workload, the samples it is the
# median of. A commit is one apply_changes call, batch hand-off to
# return; "visible" runs from the start of a change batch until a reader
# downstream has it (nosql: the point read after the commit; sql: the
# replica drained, its view refreshed and reconciled).
LATENCIES = {
    "commit_p50_s": {"nosql_upsert": "upsert_commit", "sql_append_replica": "append_commit"},
    "visible_p50_s": {"nosql_upsert": "upsert_visible", "sql_append_replica": "freshness"},
}
WORKLOAD_NAMES = ("nosql_upsert", "sql_append_replica")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); None while that percentile would be
    below the median (fewer than 21 samples)."""
    if len(xs) < 21:
        return None
    s = sorted(xs)
    i = len(s) - 11
    return s[i], round(100 * (i + 1) / len(s), 1), len(s)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def isolate(root: str) -> None:
    """Point every scratch location of this process tree under ``root``."""
    tmp = f"{root}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{root}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def start_session(root: str, event_log: str | None):
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": f"{root}/spark-warehouse",
        "spark.local.dir": f"{root}/spark-local",
        # a fixed heap and young generation: G1's pause-driven heap and
        # young sizing makes the heap's touched size, and so peak RSS,
        # vary run to run with the host's speed
        "spark.driver.extraJavaOptions":
            f"-Xms3g -Xmn384m -Dderby.system.home={root}/derby",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("cdcbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def layer_metrics(tracer, samples_traced, detail: dict) -> dict[str, float]:
    """Per-layer figures of a traced run, by ``BENCHMARK.json`` name."""
    from bench_workloads import FSIO_OPS

    spans = tracer.summary()
    out: dict[str, float] = {}

    def span(name):
        return spans.get(name, {})

    for name in ("apply.apply_changes", "cdf.stream_sync_changes",
                 "incremental.sync_aggregate_minmax", "maintenance.run_maintenance"):
        s = span(name)
        out[f"{name}.calls"] = tracer.calls.get(name, 0)
        for k in ("s", "self_s", "jobs", "executor_run_s", "shuffle_read_bytes",
                  "shuffle_write_bytes"):
            out[f"{name}.{k}"] = s.get(k, 0)
    for name in ("apply.read_warehouse", "reconcile.reconcile_counts",
                 "reconcile.reconcile_checksums"):
        out[f"{name}.calls"] = tracer.calls.get(f"{name}.calls", 0)
        out[f"{name}.s"] = span(name).get("s", 0.0)
        out[f"{name}.jobs"] = span(name).get("jobs", 0)
    for name in ("fileset.append_batch", "fileset.prune_log"):
        out[f"{name}.calls"] = tracer.calls.get(name, 0)
        out[f"{name}.s"] = span(name).get("s", 0.0)
    # fsio time counts each outermost fsio call once
    fs_ids = {s["id"] for s in tracer.spans if s["name"].startswith("fsio.")}
    out["fsio.s"] = sum(s["end"] - s["start"] for s in tracer.spans
                        if s["id"] in fs_ids and s["parent"] not in fs_ids)
    out["fsio.calls"] = sum(tracer.calls.get(f"fsio.{op}", 0) for op in FSIO_OPS)
    for op in FSIO_OPS:
        out[f"fsio.{op}.calls"] = tracer.calls.get(f"fsio.{op}", 0)
    for name in ("csv_source.read_csv_bronze", "dynamodb_json.decode_dynamodb_json",
                 "change_feed.guard_event_names"):
        out[f"{name}.calls"] = tracer.calls.get(name, 0)
    for k in ("log_batches_pruned", "versions_retained", "uncommitted_removed"):
        out[f"maintenance.{k}"] = samples_traced.counts.get(k, 0)
    for k in ("session_s", "load_s", "warmup_s"):
        out[f"setup.{k}"] = detail[f"setup.{k}"]
    out["trace.untraced_p50_s"] = detail["untraced_p50_s"]
    out["trace.traced_p50_s"] = detail["traced_p50_s"]
    if detail["traced_p50_s"] and detail["untraced_p50_s"]:
        out["trace.overhead_pct"] = 100 * (
            detail["traced_p50_s"] / detail["untraced_p50_s"] - 1)
    return out


def stop_jvm() -> None:
    """Stop the session's JVM and wait for it to exit (its Python workers
    exit with it); the next session in this process starts a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def guarded(samples, fn, *args) -> None:
    """Run a loop or gate; an engine error counts as one failed
    operation and ends it (later state would not be comparable)."""
    try:
        fn(*args)
    except Exception:  # noqa: BLE001 - reported in the result, not hidden
        samples.attempted += 1
        samples.failed += 1
        samples.failures.append(traceback.format_exc())


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None) -> dict:
    """One benchmark run; returns the result object plus the tracer."""
    sys.path.insert(0, REPO)
    import bench_workloads as bw
    from bench_trace import NullTracer, Tracer

    sizes = dict(sizes or SIZES[workload])
    loops = 2 if trace else 1
    if trace and "sync_every" in sizes:
        # a traced run makes two loops of whole cycles; half-length
        # cycles keep it within the time one run may take
        sizes["sync_every"] //= 2
    # the input pools: warm-up, then up to a rate cap per loop second
    if workload == "nosql_upsert":
        sizes["batches"] = sizes["warmup"] + int(sizes["ticks_per_s"] * seconds * loops) + 4
    else:
        cycles = int(sizes["cycles_per_s"] * seconds * loops) + 1
        sizes["batches"] = (sizes["warmup"] * sizes["warmup_appends"]
                            + sizes["sync_every"] * cycles)
    root = os.path.join(HERE, "_run", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    spark = None
    try:
        isolate(root)
        # a child process, so that its memory stays out of peak_rss_mb
        subprocess.run([sys.executable, os.path.join(HERE, "bench_gen.py"), root,
                        workload, str(seed), json.dumps(sizes)], check=True)
        wl = bw.WORKLOADS[workload](root, sizes)
        event_log = f"{root}/events" if trace else None
        if event_log:
            os.makedirs(event_log)
        null = NullTracer()

        # one cold set-up: a fresh JVM, class loading, the base load and
        # the warm-up commits/drains that pay JIT and worker start
        t0 = time.perf_counter()
        spark = start_session(root, event_log)
        t1 = time.perf_counter()
        wl.prepare(spark, f"{root}/work")
        t2 = time.perf_counter()
        wl.warmup(spark, null, sizes["warmup"])
        setup = {"setup.session_s": t1 - t0, "setup.load_s": t2 - t1,
                 "setup.warmup_s": time.perf_counter() - t2}

        samples = bw.Samples()
        t0 = time.perf_counter()
        guarded(samples, wl.loop, spark, null, samples, t0 + seconds)
        loop_s = time.perf_counter() - t0

        tracer = null
        traced = None
        if trace:
            tracer = Tracer(run_id=f"{workload}-{seed}")
            tracer.bind(spark)
            for entry in bw.WRAPPED:
                tracer.wrap(*entry)
            traced = bw.Samples()
            try:
                guarded(traced, wl.loop, spark, tracer, traced,
                        time.perf_counter() + seconds)
            finally:
                tracer.unwrap_all()
        if not samples.failed:
            guarded(samples, wl.verify, spark, null, samples)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        spark.stop()
        spark = None

        latencies = {m: by_wl[workload] for m, by_wl in LATENCIES.items()
                     if workload in by_wl}
        primary = next(iter(latencies.values()))
        detail = {
            "workload": workload, "seed": seed,
            **setup,
            "loop_s": loop_s, "rows": samples.counts.get("rows", 0),
        }
        for name, xs in sorted(samples.lat.items()):
            detail[f"{name}_p50_s"] = median(xs)
            t = tail(xs)
            detail[f"{name}_tail_s"] = t and {"value": t[0], "pct": t[1], "samples": t[2]}
            detail[f"{name}_samples"] = [round(x, 4) for x in xs]
        end_to_end = {
            "setup_s": (sum(setup.values()), "s"),
            **{m: (median(samples.lat.get(name, [])), "s") for m, name in latencies.items()},
            "rows_per_s": (samples.counts.get("rows", 0) / loop_s, "rows/s"),
            "peak_rss_mb": (rss, "MB"),
        }
        metrics = end_to_end
        attempted, failed = samples.attempted, samples.failed
        failures = samples.failures
        if trace:
            detail["untraced_p50_s"] = median(samples.lat.get(primary, []))
            detail["traced_p50_s"] = median(traced.lat.get(primary, []))
            attempted += traced.attempted
            failed += traced.failed
            failures = failures + traced.failures
            tracer.attach_event_logs(event_log)
            layers = layer_metrics(tracer, traced, detail)
            os.makedirs(f"{HERE}/out", exist_ok=True)
            tracer.write(f"{HERE}/out/trace-{workload}-{seed}.json",
                         {"layers": layers, "summary": tracer.summary(), "detail": detail})
            metrics = {k: (v, unit_of(k)) for k, v in layers.items()}
        return {
            "detail": detail, "failures": failures, "tracer": tracer,
            "end_to_end": end_to_end,
            "result": {
                "correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(root, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for f in out["failures"]:
        print(f"# FAILED: {f}", file=sys.stderr)
    print("# " + json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
