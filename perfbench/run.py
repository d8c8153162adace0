#!/usr/bin/env python3
"""terraspark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tile_eval --seed 1 \
        --seconds 20 --trace 0

Run from the repository root.  Generates (or reuses) the workload's seeded
input under .perfbench_work/, builds a session on local[nproc], warms it
with the workload on a slice of its input, then repeats the workload as a
closed loop with one client (the driver issues one action at a time) for
``--seconds``, checks the results against an oracle outside the timed
region and prints two JSON lines: the host/session record, then the
result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is a separate
run with Spark's event log on: a traced iteration whose every layer call
runs in its own job group with its output pinned and hash-sunk, then an
untraced one; the log is folded by job group into the per-layer
metrics.  See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Driver JVM heap, set explicitly instead of the session's 48g default and
# recorded with every result.  The largest workload pins < 1 GB.
DRIVER_MEM = "3g"

# build_session reserves a hugepage pool sized for its heap, and the pool
# outlives the process: after a default (48g) session most of the host's
# memory sits in free 2 MB pages and MemAvailable is a few hundred MB --
# less than Spark's own footprint (measured ~830 MB of anonymous memory:
# JVM ~380, four Python workers ~80 each, daemon and driver ~130), so the
# JVM is OOM-killed.  Every process of the run therefore takes its malloc
# memory from that pool when it has free pages (glibc falls back to
# ordinary pages when it has none): glibc's hugetlb tunable, CPython's
# allocator routed through malloc, Arrow's pool set to the system
# allocator.  The JVM heap is on the pool already (build_session's
# -XX:+UseLargePages).  What stays on ordinary pages is the JVM's own
# mappings (metaspace, GC bitmaps, thread stacks), ~270 MB.
MALLOC_ENV = {"GLIBC_TUNABLES": "glibc.malloc.hugetlb=2",
              "PYTHONMALLOC": "malloc",
              "ARROW_DEFAULT_MEMORY_POOL": "system"}
MIN_AVAILABLE_KB = 400 << 10     # ordinary memory a run needs beside the pool

# per-layer metrics beyond the four every Spark layer reports
SPARK_LAYER = ("wall_s", "jobs", "executor_cpu_s", "gc_s")
LAYERS = {
    "session.build_session": ("wall_s",),
    "tiling.tile_images": SPARK_LAYER + ("python_mb",),
    "dem.derive_features": SPARK_LAYER + ("python_mb", "shuffle_mb",
                                          "spill_mb"),
    "corrections.join_dem": SPARK_LAYER + ("shuffle_mb", "spill_mb",
                                           "task_max_over_p50"),
    "corrections.band_stats_df": SPARK_LAYER + ("python_mb",),
    "corrections.apply_corrections": SPARK_LAYER + ("python_mb",
                                                    "task_max_over_p50"),
    "joins.aoi_containment_join": SPARK_LAYER,
    "metrics.explode_pixels": SPARK_LAYER + ("python_mb",),
    "metrics.evaluate_metrics": SPARK_LAYER + ("shuffle_mb", "spill_mb"),
    "rank.rank_scores": ("wall_s",),
    "hydro.cell_elevation": SPARK_LAYER + ("python_mb",),
    "hydro.flow_direction": SPARK_LAYER + ("shuffle_mb", "spill_mb"),
    "hydro.ruggedness": SPARK_LAYER,
    **{f"hydro.{f}": SPARK_LAYER + ("driver_gap_s",) for f in (
        "flow_accumulation", "watershed", "flow_length", "strahler",
        "fill_sinks")},
    "datapipe.dedup.minhash_shingle_signature": SPARK_LAYER + ("python_mb",),
    "datapipe.dedup.candidate_pairs": SPARK_LAYER + (
        "shuffle_mb", "spill_mb", "task_max_over_p50"),
    "datapipe.dedup.jaccard_pairs": SPARK_LAYER + (
        "shuffle_mb", "spill_mb", "task_max_over_p50", "kept_frac"),
    "datapipe.dedup.dedup_clusters": SPARK_LAYER + ("driver_gap_s",),
}
UNITS = {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s", "gc_s": "s",
         "python_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB",
         "task_max_over_p50": "ratio", "driver_gap_s": "s",
         "kept_frac": "ratio"}
RUN_LEVEL = {"spark.failed_tasks": "count", "trace.overhead_s": "s"}
END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
              "peak_mem_mb": "MB", "ok_frac": "ratio"}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = [(f"{layer}.{m}", UNITS[m], "higher" if m == "kept_frac"
            else "lower") for layer, ms in LAYERS.items() for m in ms]
    return out + [(n, u, "lower") for n, u in RUN_LEVEL.items()]


def configure_env(trace: bool, run_id: str) -> str | None:
    """Launch-time settings, all inside the checkout; returns the event
    log directory in traced mode."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TERRASPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = ["spark.ui.showConsoleProgress=false"]
    log_dir = None
    if trace:
        log_dir = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {c}" for c in conf] + ["pyspark-shell"])
    return log_dir


def start_session(name: str):
    from terraspark.session import build_session
    # sized for the host like cores and driver memory: build_session's
    # floor of 32 shuffle partitions turns every Python stage after a
    # shuffle into 32 tasks on a 4-core host, and per-task cost then sets
    # the time whatever the data size (measured tile_eval operation 24 s
    # at 32 partitions vs 14 s at 4)
    n = os.cpu_count()
    return build_session(f"perfbench-{name}", cores=n, shuffle_partitions=n,
                         max_partition_bytes="8m")


def stop_session(spark):
    """Stop the context, then the gateway JVM it ran in, and wait for
    every child process (JVM, Python workers) to exit."""
    import host
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    host.wait_children()


def run(args) -> tuple[dict, dict]:
    import host
    from layertrace import NullTracer, Tracer, fold, read_events
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    log_dir = configure_env(bool(args.trace), run_id)
    wl = WORKLOADS[args.workload](WORK, args.seed)
    mem_before, steal_before = host.meminfo(), host.steal_s()
    gen_s, cache_hit = wl.prepare()

    t0 = time.perf_counter()
    spark = start_session(args.workload)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setJobGroup("setup", "setup")
    wl.iteration(spark, NullTracer(), sample=True)      # one-slice warm-up
    setup_s = time.perf_counter() - t0

    walls, sinks, errors = [], [], []
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "run_id": run_id,
              "input_gen_s": gen_s, "input_cache_hit": cache_hit,
              "session_s": session_s, "setup_s": setup_s,
              "session": host.session_record(spark),
              "nproc": os.cpu_count(), "malloc_env": MALLOC_ENV,
              "meminfo_before": mem_before}

    def attempt(tr):
        t = time.perf_counter()
        try:
            sinks.append(wl.iteration(spark, tr))
            walls.append(time.perf_counter() - t)
            return True
        except Exception:
            errors.append(traceback.format_exc(limit=3))
            return False

    tracer = Tracer(spark, parent=args.workload)
    if args.trace:
        # traced, then untraced: the overhead compares the two
        for tr in (tracer, NullTracer()):
            group = args.workload if tr.traced else "untraced"
            sc.setJobGroup(group, group)
            attempt(tr)
        peak_mb = None
    else:
        sc.setJobGroup(args.workload, args.workload)
        # one operation at a time for --seconds; another starts only if
        # it can end in time, so a run never overshoots by an operation
        start = time.perf_counter()
        with host.PeakMem() as pm:
            while (attempt(NullTracer()) and time.perf_counter() - start
                   + statistics.median(walls) <= args.seconds):
                pass
        peak_mb = pm.peak_mb

    attempted = len(sinks) + len(errors)
    good, detail = 0, "no successful iteration"
    if sinks:
        sc.setJobGroup("verify", "verify")
        try:
            good, detail = wl.verify(spark, sinks)
        except Exception:
            errors.append(traceback.format_exc(limit=3))
            detail = "verify raised"
    record.update(walls_s=walls, verified=good, detail=detail,
                  errors=errors, rows=wl.result_rows() if good else None)
    app_id = sc.applicationId
    stop_session(spark)
    mem_after = host.meminfo()
    record["meminfo_after"] = mem_after
    record["cpu_steal_s"] = host.steal_s() - steal_before
    record["hugepages_grew"] = (mem_after["HugePages_Total"]
                                > mem_before["HugePages_Total"])

    result = {"correct": good == attempted and attempted > 0,
              "attempted": attempted, "failed": attempted - good}
    if not walls:
        names = END_TO_END.items() if not args.trace else [
            (n, u) for n, u, _ in per_layer_spec()]
        return record, {**result, "metrics": {
            n: {"value": 0.0, "unit": u} for n, u in names}}
    if not args.trace:
        wall = statistics.median(walls)
        values = {"wall_s": wall,
                  "rows_per_s": (record["rows"] or 0) / wall,
                  "setup_s": setup_s, "peak_mem_mb": peak_mb,
                  "ok_frac": good / attempted}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
        return record, {**result, "metrics": metrics}

    log = os.path.join(log_dir, app_id)
    groups = fold(read_events(log), tracer.spans)
    os.remove(log)
    record["layers"] = groups
    record["spans"] = tracer.spans
    values = {}
    rows = {s["name"]: s["rows"] for s in tracer.spans}
    for layer, ms in LAYERS.items():
        g = groups.get(layer, {})
        for m in ms:
            if m == "kept_frac":
                cand = rows.get("datapipe.dedup.candidate_pairs")
                v = rows.get(layer, 0) / cand if cand else 0.0
            else:
                v = g.get(m, 0.0)
            values[f"{layer}.{m}"] = v
    values.update({
        "session.build_session.wall_s": session_s,
        "spark.failed_tasks": sum(g.get("failed_tasks", 0)
                                  for g in groups.values()),
        "trace.overhead_s": walls[0] - walls[1] if len(walls) == 2 else 0.0})
    metrics = {n: {"value": values[n], "unit": u}
               for n, u, _ in per_layer_spec()}
    return record, {**result, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if any(os.environ.get(k) != v for k, v in MALLOC_ENV.items()):
        # the allocator settings take effect only at process start
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
                  + sys.argv[1:], {**os.environ, **MALLOC_ENV})
    if not os.path.isfile(os.path.join(ROOT, "terraspark", "session.py")):
        print(f"perfbench: no terraspark package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import host
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    avail = host.meminfo()
    if avail["MemAvailable"] < MIN_AVAILABLE_KB:
        print(f"perfbench: only {avail['MemAvailable'] // 1024} MB "
              f"available ({avail}); the JVM's own mappings need about "
              f"{MIN_AVAILABLE_KB >> 10} MB of ordinary memory -- refusing "
              "to start", file=sys.stderr)
        return 3
    record, result = run(args)
    for e in record["errors"]:
        print(e, file=sys.stderr)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
