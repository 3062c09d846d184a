"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload bulk_serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository: the engine is imported from
``./etl_geo_dem_spark`` and everything the run writes goes under
``./.perfbench/``. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics from a
traced run (``--trace 1``). A readable summary, with sample counts and the
highest percentile that has ten samples beyond it, goes to standard error.
Spans of a traced run are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "visible_lag_p50_s": "s",
    "lookup_p50_ms": "ms",
    "scan_p50_s": "s",
    "stored_bytes_per_event": "B",
    "live_heap_mb": "MB",
}


def percentile_summary(xs: list[float]) -> str:
    """Median plus the highest of p90/p75 that has >= 10 samples beyond it."""
    import numpy as np

    n = len(xs)
    out = f"n={n} p50={np.median(xs):.4g}" if n else "n=0"
    for p in (90, 75):
        if n * (100 - p) / 100 >= 10:
            out += f" p{p}={np.percentile(xs, p):.4g}"
            break
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_geo_dem_spark", "__init__.py")):
        print("perfbench: run from the repository root (no ./etl_geo_dem_spark here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{run_id}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # task threads: two on a 4-core machine. The other cores are left to the
    # JVM's compiler and GC threads and to this process: with a task thread per
    # core, stages wait on whichever thread loses its core for a moment, and on
    # a shared host the runs spread far wider
    cores = max(1, min(4, len(os.sched_getaffinity(0))) - 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from etl_geo_dem_spark.session import get_spark
    from perfbench.trace import SparkProbe, Tracer

    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        driver_memory="2g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark_start_s = time.perf_counter() - t_start
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    wl = None
    try:
        probe = SparkProbe(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, args.seconds)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        tracer.install()
        probe.start()
        wl.run()
        measured_s = time.perf_counter() - t_start - setup_s
        spark_totals = probe.totals()
        peak_rss = probe.peak_rss_mb()
        live_heap = probe.live_heap_mb()
        with tracer.suppressed():
            wl.verify()
        verify_s = time.perf_counter() - t_start - setup_s - measured_s
        wl.finish_layers()
        stored_per_event = wl.stored_bytes_per_event()
    finally:
        tracer.uninstall()
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.write(os.path.join(state, "traces", f"{run_id}.jsonl"))

    import numpy as np

    s = wl.samples
    lag = s.get("freshness") or s.get("apply") or [float("nan")]
    e2e = {
        "setup_s": setup_s,
        "events_per_s": float(np.median(s.get("rate", [float("nan")]))),
        "visible_lag_p50_s": float(np.median(lag)),
        "lookup_p50_ms": float(np.median(s.get("lookup", [float("nan")]))) * 1e3,
        "scan_p50_s": float(np.median(s.get("scan", [float("nan")]))),
        "stored_bytes_per_event": stored_per_event,
        "live_heap_mb": live_heap,
    }
    layers = per_layer(wl, tracer, spark_totals)
    layers["jvm.peak_rss_mb"] = (peak_rss, "MB")
    # the traced run's own headline latency: against the untraced runs' value
    # of visible_lag_p50_s it gives the tracing overhead
    layers["trace.visible_lag_p50_s"] = (e2e["visible_lag_p50_s"], "s")
    print(f"perfbench: {args.workload} setup: spark session {spark_start_s:.2f} s, "
          f"inputs and warm-up {setup_s - spark_start_s:.2f} s; measured {measured_s:.2f} s; "
          f"verified in {verify_s:.2f} s", file=sys.stderr)
    for kind in sorted(s):
        print(f"perfbench: {args.workload} {kind}: {percentile_summary(s[kind])} "
              f"[{' '.join(f'{x:.3g}' for x in s[kind])}]", file=sys.stderr)
    for k, v in e2e.items():
        print(f"perfbench: {args.workload} {k} = {v:.6g} {END_TO_END[k]}", file=sys.stderr)
    if args.trace:
        for k, (v, unit) in layers.items():
            print(f"perfbench: {args.workload} [trace] {k} = {v:.6g} {unit}", file=sys.stderr)
        print(f"perfbench: {args.workload} [trace] span bookkeeping {tracer.bookkeeping_s:.4f} s "
              f"over {len(tracer.spans)} spans", file=sys.stderr)
    metrics = (
        {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        if args.trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    finite = all(np.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({
        "correct": wl.failed == 0 and finite,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its stdin closes)."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(wl, tracer, spark_totals: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, keyed as in BENCHMARK.json."""
    from perfbench.workloads import QUERY_SET

    import numpy as np

    t = tracer
    events = t.attr_sum("merge.apply_changes", "input_events")
    reads = t.under("lake.read", "bench.") + t.under("lake.point_lookup", "bench.")
    out = {
        "input.bytes_read": (spark_totals["input.bytes_read"], "B"),
        "input.events": (events, "count"),
        "lww.keep_ratio": (t.attr_sum("merge.apply_changes", "kept") / events if events else 0.0, "ratio"),
        "spark.shuffle_write_bytes": (spark_totals["spark.shuffle_write_bytes"], "B"),
        "spark.shuffle_read_bytes": (spark_totals["spark.shuffle_read_bytes"], "B"),
        "stage.map_s": (spark_totals["stage.map_s"], "s"),
        "stage.result_s": (spark_totals["stage.result_s"], "s"),
        "merge.apply_changes_s": (t.total_s("merge.apply_changes"), "s"),
        "merge.apply_changes_self_s": (t.self_s("merge.apply_changes"), "s"),
        "lake.write_data_files_s": (t.total_s("lake.write_data_files"), "s"),
        "lake.files_written": (t.attr_sum("lake.write_data_files", "files"), "count"),
        "lake.data_bytes_written": (t.attr_sum("lake.write_data_files", "bytes"), "B"),
        "lake.commit_s": (t.total_s("lake.commit"), "s"),
        "lake.snapshot_meta_calls": (float(len(t.named("lake.snapshot_meta"))), "count"),
        "lake.write_epoch_manifest_s": (t.total_s("lake.write_epoch_manifest"), "s"),
        "lake.metadata_bytes": (float(wl.stored[1]), "B"),
        "lake.compact_buckets_s": (t.total_s("lake.compact_buckets"), "s"),
        "lake.autofold_count": (float(len(t.under("lake.compact_buckets", "merge.apply_changes"))), "count"),
        "lake.compact_s": (t.total_s("lake.compact"), "s"),
        "lake.read_plan_s": (sum(s["end"] - s["start"] for s in reads), "s"),
        "lake.lookup_exec_s": (t.total_s("bench.lookup_collect"), "s"),
        "lake.files_scanned_per_lookup": (wl.layer["lake.files_scanned_per_lookup"], "count"),
        "lake.delta_files_max_per_bucket": (wl.layer["lake.delta_files_max_per_bucket"], "count"),
        "commit_backend.put_if_absent_calls": (float(len(t.named("commit_backend.put_if_absent"))), "count"),
        "commit_backend.put_atomic_calls": (float(len(t.named("commit_backend.put_atomic"))), "count"),
        "commit_backend.put_s": (t.total_s("commit_backend.put_if_absent") + t.total_s("commit_backend.put_atomic"), "s"),
    }
    for key in ("trigger", "add_batch", "wal_commit", "latest_offset"):
        out[f"stream.{key}_ms_p50"] = (wl.layer.get(f"stream.{key}_ms_p50", 0.0), "ms")
    out["stream.backlog_files_max"] = (wl.layer.get("stream.backlog_files_max", 0.0), "count")
    out["stream.generator_lag_s"] = (wl.layer.get("stream.generator_lag_s", 0.0), "s")
    suite = 0.0
    for name in QUERY_SET:
        xs = wl.samples.get(f"query.{name}", [])
        med = float(np.median(xs)) if xs else 0.0
        suite += med
        out[f"queries.{name}_s"] = (med, "s")
    out["queries.suite_s"] = (suite, "s")
    for k in ("spark.task_s", "spark.gc_s", "spark.tasks", "spark.tasks_failed", "spark.spill_bytes",
              "jvm.cpu_s", "jvm.cpu_util"):
        unit = {"spark.tasks": "count", "spark.tasks_failed": "count", "spark.spill_bytes": "B",
                "jvm.cpu_util": "ratio"}.get(k, "s")
        out[k] = (spark_totals[k], unit)
    out["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
