"""The event-log folder on a small recorded log.

tests/data/eventlog_small.jsonl is a Spark 4.1 event log of three layer
job groups from a traced hydro_dedup run, trimmed to the events and
fields layertrace.fold reads.  Run: python -m pytest perfbench/tests -q
"""
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from layertrace import PY_RETURNED, PY_SENT, fold, read_events  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def events():
    return list(read_events(LOG))


def _by_group(events):
    """Independent recount: job ids and task-end events per job group."""
    stage_group, jobs, tasks = {}, {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = e["Properties"]["spark.jobGroup.id"]
            jobs.setdefault(g, []).append(e["Job ID"])
        elif e["Event"] == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = \
                e["Properties"]["spark.jobGroup.id"]
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            tasks.setdefault(stage_group[e["Stage ID"]], []).append(e)
    return jobs, tasks


def test_counts_match_recount(events):
    jobs, tasks = _by_group(events)
    got = fold(events, [])
    assert set(got) == set(jobs)
    for g in jobs:
        assert got[g]["jobs"] == len(jobs[g])
        assert got[g]["tasks"] == len(tasks[g])
        assert got[g]["failed_tasks"] == 0
        cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks[g])
        assert got[g]["executor_cpu_s"] == pytest.approx(cpu / 1e9)


def test_recorded_values(events):
    got = fold(events, [])
    assert got["hydro.cell_elevation"]["jobs"] == 2
    assert got["hydro.watershed"]["jobs"] == 50
    assert got["datapipe.dedup.jaccard_pairs"]["tasks"] == 36
    # only the mapInPandas layer crosses the Python boundary
    assert got["hydro.cell_elevation"]["python_mb"] > 0
    assert got["hydro.watershed"]["python_mb"] == 0
    assert got["datapipe.dedup.jaccard_pairs"]["shuffle_mb"] > 1.0


def test_python_metric_names_present(events):
    names = {a["Name"] for e in events
             if e["Event"] == "SparkListenerStageCompleted"
             for a in e["Stage Info"]["Accumulables"]}
    assert {PY_SENT, PY_RETURNED} <= names


def test_driver_gap_is_span_minus_job_union(events):
    ivs, ends = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and \
                e["Properties"]["spark.jobGroup.id"] == "hydro.watershed":
            ivs[e["Job ID"]] = e["Submission Time"]
        elif e["Event"] == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
    lo, hi = min(ivs.values()), max(ends[j] for j in ivs) + 1000
    covered = set()
    for j, s in ivs.items():
        covered.update(range(s, ends[j]))
    span = {"name": "hydro.watershed", "start": lo / 1e3, "end": hi / 1e3}
    got = fold(events, [span, dict(span)])      # a layer called twice
    assert got["hydro.watershed"]["wall_s"] == pytest.approx(
        2 * (hi - lo) / 1e3)
    assert got["hydro.watershed"]["driver_gap_s"] == pytest.approx(
        2 * (hi - lo - len(covered)) / 1e3)
    assert got["hydro.watershed"]["driver_gap_s"] >= 2.0


def test_skew_of_dominant_stage():
    def task(stage, ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms,
                              "Failed": False}, "Task Metrics": {}}
    events = [{"Event": "SparkListenerStageSubmitted",
               "Stage Info": {"Stage ID": s},
               "Properties": {"spark.jobGroup.id": "g"}} for s in (1, 2)]
    events += [task(1, 100), task(1, 100), task(1, 900),
               task(2, 10), task(2, 50)]
    assert fold(events, [])["g"]["task_max_over_p50"] == pytest.approx(9.0)


def test_log_is_json_lines():
    with open(LOG) as f:
        assert all(json.loads(line)["Event"] for line in f)
