"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The run generates its
inputs from the seed under ``.perfbench_work/`` in the current
directory, sets up the engine three times (set-up time is the median of
their CPU seconds), runs the workload's unmeasured settling ops,
measures ops for at least ``--seconds``, checks every op's output and
the run's final state, and prints one JSON line as the last line of
standard output. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run. Progress and the
recorded run environment go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric catalog: wall seconds per call (median over calls)
CALLS = [
    ("session", "get_spark"), ("session", "load_tables"),
    ("jobs", "run_ingestion"), ("sources", "sniff_separator"),
    ("sources", "detect_encoding"), ("sinks.lakehouse", "merge_upsert"),
    ("sinks.lakehouse", "compact_partitions"), ("sinks.jdbc_upsert", "upsert"),
    ("quality", "run_expectations"), ("streaming", "incremental_ingest"),
]
OPERATOR_LAYERS = [f"operators.{m}" for m in (
    "joins", "windows", "analytics", "timeseries", "diff", "dedup", "terms",
    "similarity", "curation", "graph", "classify", "cache")] + ["entry"]
# layers whose Spark work is attributed per layer
SPARK_LAYERS = ["session", "jobs", "sources", "sinks.lakehouse",
                "sinks.jdbc_upsert", "quality", "streaming"] + [
    layer for layer in OPERATOR_LAYERS if layer != "operators.cache"]
SPARK_TOTALS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "input_bytes", "output_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "failed_tasks",
                "task_skew"]
EXTRA = {
    "sinks.lakehouse.merge_upsert.bytes_rewritten_per_update_byte": "ratio",
    "sinks.lakehouse.files_per_partition_before": "count",
    "sinks.lakehouse.files_per_partition_after": "count",
    "sinks.lakehouse.partitions_rewritten": "count",
    "sinks.lakehouse.bytes_stored_per_input_byte": "ratio",
    "streaming.batch_ms": "ms",
    "streaming.input_rows_per_s": "1/s",
    "operators.cache.frames_released": "count",
    "operators.cache.leaked_frames": "count",
    "spark.storage_bytes_peak": "bytes",
    "quality.checks_passed_share": "ratio",
}
SETUPS = 3


def _unit(metric: str) -> str:
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_s"):
        return "s"
    return "count"


def per_layer_catalog() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = {f"{layer}.{fn}.s": "s" for layer, fn in CALLS}
    out |= {f"{layer}.s": "s" for layer in OPERATOR_LAYERS}
    for layer in SPARK_LAYERS:
        out |= {f"{layer}.jobs_per_call": "count",
                f"{layer}.executor_run_s": "s",
                f"{layer}.shuffle_bytes": "bytes",
                f"{layer}.executor_busy_share": "ratio"}
    out |= {f"spark.{m}": ("ratio" if m == "task_skew" else _unit(m))
            for m in SPARK_TOTALS}
    out |= EXTRA
    out |= {"op.self_share": "ratio", "trace_overhead_share": "ratio",
            "op.wall_s": "s", "op.cpu_share": "ratio"}
    return out


def pin_environment(work: str) -> dict:
    """Fix the engine's environment for the run and return its record."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = int(next(line.split()[1] for line in open("/proc/meminfo")
                      if line.startswith("MemTotal")))
    # a fixed heap, well below physical memory (the engine default asks
    # for 16g)
    heap_mb = min(2048, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the whole heap is committed and touched at start, so the JVM's
    # resident size does not depend on when the collector grows the heap
    java_opts = (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={os.path.join(work, 'derby')}")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # bounded glibc malloc arenas: the JVM's native footprint would
        # otherwise depend on how many threads happened to allocate
        "MALLOC_ARENA_MAX": "2",
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions={java_opts}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "pyspark-shell"),
    })
    return {"cores": cores, "mem_total_mb": mem_kb // 1024,
            "driver_heap_mb": heap_mb, "spark_local_dirs": local,
            "work_dir": work}


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        with open(f"/proc/{gw.proc.pid}/status") as f:
            jvm_kb = int(next(line.split()[1] for line in f
                              if line.startswith("VmHWM")))
    log(f"peak rss kB: python {py_kb}, jvm {jvm_kb}")
    return (py_kb + jvm_kb) / 1024.0


def stop_engine(spark) -> None:
    """Stop the SparkContext and the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # before the engine is imported: its session defaults read the
    # environment at import time
    env = pin_environment(work)
    env["loadavg_before"] = os.getloadavg()
    sys.path[:0] = [ROOT]
    try:
        import pipelines_rj_sms_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
        from tools import verify_oracle  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        log(f"the engine is not importable from {ROOT}: {exc}")
        return 2

    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    tracer = Tracer(enabled=bool(args.trace))
    run = workloads.Run(work, args.seed, tracer, env["cores"])
    wl = workloads.WORKLOADS[args.workload](run)
    if os.path.exists(os.path.join(HERE, "pins.json")) and hasattr(wl, "pins"):
        with open(os.path.join(HERE, "pins.json")) as f:
            wl.pins = json.load(f).get(str(args.seed), {})
    try:
        t = time.perf_counter()
        wl.prepare()
        log(f"inputs generated in {time.perf_counter() - t:.2f}s")
        setups = []  # (wall s, CPU s) of each set-up, output checks left out
        for i in range(SETUPS):
            if run.spark is not None:
                stop_spark_session(run.spark)
                tracer.bind(None)
            t, c = time.perf_counter(), workloads.cpu_s()
            checked = run.check_s, run.check_cpu_s
            wl.start_session(i)
            setups.append(
                (time.perf_counter() - t - (run.check_s - checked[0]),
                 workloads.cpu_s() - c - (run.check_cpu_s - checked[1])))
        log("set-up wall/CPU s: "
            + ", ".join(f"{w:.3f}/{c:.2f}" for w, c in setups))
        env["spark.driver.memory"] = run.spark.conf.get("spark.driver.memory")
        t = time.perf_counter()
        wl.settle()
        log(f"settled in {time.perf_counter() - t:.2f}s")
        t = time.perf_counter()
        if args.trace:
            ops, overhead = wl.measure_traced()
        else:
            ops = wl.measure(args.seconds)
        log(f"measured {len(ops)} ops in {time.perf_counter() - t:.2f}s")
        wl.verify()
        if args.trace:
            totals = tracer.finish(run.spark, os.path.join(base, "spans.json"))
        rss = peak_rss_mb()
    finally:
        wl.teardown()
        stop_engine(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_after"] = os.getloadavg()
    log(f"output checks took {run.check_s:.2f}s")
    log("environment " + json.dumps(env))
    log("op wall/CPU s: " + " ".join(f"{n}={w:.3f}/{c:.2f}"
                                     for n, w, c in run.timings))
    for f in run.failures[:20]:
        log(f"FAILED {f}")

    if args.trace:
        metrics = per_layer(run, tracer, totals, overhead, ops)
    else:
        cpu = sum(c for _, c in ops)
        metrics = {
            "setup_s": (statistics.median(c for _, c in setups), "s"),
            "cpu_s_per_op": (cpu / len(ops) if ops else 0.0, "s"),
            "rows_per_cpu_s": (wl.input_rows(len(ops)) / cpu if cpu else 0.0,
                               "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": min(run.failed, run.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def stop_spark_session(spark) -> None:
    """End one set-up's session; the JVM stays up for the next one."""
    from pipelines_rj_sms_spark.operators import cache

    cache.release_all()
    spark.stop()


def per_layer(run, tracer, totals: dict, overhead: float,
              measured: list[tuple[float, float]]) -> dict:
    spans = tracer.spans
    cat = per_layer_catalog()
    out = {name: (0.0, unit) for name, unit in cat.items()}
    walls: dict[str, list[float]] = {}
    for s in spans:
        walls.setdefault(f"{s['layer']}.{s['name']}.s", []).append(s["wall_s"])
        if s["layer"] in OPERATOR_LAYERS:
            walls.setdefault(f"{s['layer']}.s", []).append(s["wall_s"])
    for name, ws in walls.items():
        if name in out:
            out[name] = (statistics.median(ws), "s")
    cores = run.cores
    live = [s for s in spans if s["context"] == tracer.context]
    for layer in SPARK_LAYERS:
        ls = [s for s in live if s["layer"] == layer]
        if not ls:
            continue
        wall = sum(s["wall_s"] for s in ls)
        run_s = sum(s["spark"]["executor_run_s"] for s in ls)
        out[f"{layer}.jobs_per_call"] = (
            sum(s["spark"]["jobs"] for s in ls) / len(ls), "count")
        out[f"{layer}.executor_run_s"] = (run_s, "s")
        out[f"{layer}.shuffle_bytes"] = (
            sum(s["spark"]["shuffle_read_bytes"]
                + s["spark"]["shuffle_write_bytes"] for s in ls), "bytes")
        out[f"{layer}.executor_busy_share"] = (
            run_s / (cores * wall) if wall else 0.0, "ratio")
    for m in SPARK_TOTALS:
        out[f"spark.{m}"] = (totals[m], cat[f"spark.{m}"])
    for name, v in run.extra.items():
        out[name] = (float(v), cat[name])
    ops = [s for s in spans if s["layer"] == "op"]
    op_wall = sum(s["wall_s"] for s in ops)
    out["op.self_share"] = (
        sum(s["self_s"] for s in ops) / op_wall if op_wall else 0.0, "ratio")
    out["trace_overhead_share"] = (overhead, "ratio")
    if measured:
        out["op.wall_s"] = (statistics.median(w for w, _ in measured), "s")
        out["op.cpu_share"] = (sum(c for _, c in measured)
                               / (cores * sum(w for w, _ in measured)), "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
