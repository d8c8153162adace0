"""BENCHMARK.json names exactly the metrics run.py prints."""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                       "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_per_layer_metrics():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] \
        == run.per_layer_spec()


def test_end_to_end_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} \
        == run.END_TO_END


def test_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
