"""Layer spans and the Spark event-log folder.

A traced run wraps each call into an engine layer in ``Tracer.layer``:
the span gets its own Spark job group, and ``Tracer.force`` pins and
hash-sinks the layer's output so the next layer starts from
materialized input.  After the session stops, ``fold`` reads Spark's own
event log (one JSON object per line, stdlib ``json`` only) and sums job,
stage and task accounting per job group, i.e. per layer.
"""
from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid

MB = float(1 << 20)

# Spark 4.1 SQL metrics of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...), as named in the event log
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def hash_sink(df):
    """(count, xor of xxhash64 over every column): forces every output
    column without collecting it."""
    from pyspark.sql import functions as F
    cols = ", ".join(f"`{c}`" for c in df.columns)
    r = df.agg(F.count("*"), F.expr(f"bit_xor(xxhash64({cols}))")).collect()[0]
    return int(r[0]), int(r[1] or 0)


class NullTracer:
    """Untraced mode: no spans, no extra actions."""
    traced = False

    @contextlib.contextmanager
    def layer(self, name: str):
        yield

    def force(self, df):
        return df

    def pin(self, df):
        """The eager cut jobs/hydro.py makes between shared stages."""
        return df.localCheckpoint()


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; every
    call made inside ``layer(name)`` runs in Spark job group ``name``."""
    traced = True

    def __init__(self, spark, parent: str):
        self.spark = spark
        self.parent = parent
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._open: dict | None = None

    @contextlib.contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        span = {"name": name, "parent": self.parent, "run_id": self.run_id,
                "start": time.time(), "rows": None}
        self._open = span
        sc.setJobGroup(name, name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            sc.setJobGroup(self.parent, self.parent)
            self._open = None
            self.spans.append(span)

    def force(self, df):
        """Pin ``df`` and force it with a hash sink, in the open span;
        returns the pinned frame for the next layer."""
        pinned = df.localCheckpoint(eager=False)
        n, _ = hash_sink(pinned)
        if self._open is not None:
            self._open["rows"] = n
        return pinned

    pin = force


# ----------------------------------------------------------- event log
def _acc(accums, name) -> float:
    return sum(float(a.get("Value") or 0) for a in accums
               if a.get("Name") == name)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events, spans: list[dict]) -> dict:
    """Per job group: jobs, tasks, failed tasks, executor CPU, GC,
    shuffle/spill/Python-boundary bytes, dominant-stage skew and the
    driver gap of each span.  ``spans`` supply wall time and the job
    groups of interest; groups without a span are folded too."""
    job_group, job_iv, stage_group = {}, {}, {}
    stage_tasks: dict[int, list[float]] = {}
    g: dict[str, dict] = {}

    def grp(name):
        return g.setdefault(name, {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            "python_mb": 0.0, "stages": set()})

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            job_group[ev["Job ID"]] = name
            job_iv[ev["Job ID"]] = [ev["Submission Time"], None]
            grp(name)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            stage_group[info["Stage ID"]] = name
            grp(name)["stages"].add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            d = grp(stage_group.get(sid, ""))
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            d["tasks"] += 1
            if info.get("Failed"):
                d["failed_tasks"] += 1
            d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            d["shuffle_mb"] += (rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0)
                                + wr.get("Shuffle Bytes Written", 0)) / MB
            d["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            stage_tasks.setdefault(sid, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            d = grp(stage_group.get(info["Stage ID"], ""))
            acc = info.get("Accumulables") or []
            d["python_mb"] += (_acc(acc, PY_SENT) + _acc(acc, PY_RETURNED)) / MB

    for name, d in g.items():
        # skew of the group's dominant stage (largest summed task time)
        stages = [stage_tasks[s] for s in d.pop("stages") if s in stage_tasks]
        top = max(stages, key=sum, default=[])
        p50 = statistics.median(top) if top else 0.0
        d["task_max_over_p50"] = max(top) / p50 if p50 > 0 else 1.0
        d["job_intervals"] = sorted(
            iv for j, iv in job_iv.items()
            if job_group[j] == name and iv[1] is not None)
    for s in spans:        # a layer called twice sums its spans
        d = g.setdefault(s["name"], {"jobs": 0, "job_intervals": []})
        busy = _union_s(d["job_intervals"], s["start"] * 1e3, s["end"] * 1e3)
        d["wall_s"] = d.get("wall_s", 0.0) + s["end"] - s["start"]
        d["driver_gap_s"] = d.get("driver_gap_s", 0.0) + max(
            0.0, s["end"] - s["start"] - busy)
    for d in g.values():
        d.pop("job_intervals")
    return g


def _union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch ms) covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
