"""BENCHMARK.json names exactly the metrics and workloads the code reports."""

import json
import os

import layers
import run
from workloads import WORKLOADS

MANIFEST = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _load():
    with open(MANIFEST, encoding="utf-8") as f:
        return json.load(f)


def test_per_layer_metrics_match_the_code():
    got = {m["name"]: (m["unit"], m["better"]) for m in _load()["per_layer"]}
    assert got == layers.LAYER_METRICS
    assert len(got) <= 128


def test_end_to_end_metrics_match_the_code():
    got = {m["name"]: (m["unit"], m["better"]) for m in _load()["end_to_end"]}
    assert got == run.END_TO_END
    assert "setup_s" in got


def test_workloads_match_the_code():
    assert [w["name"] for w in _load()["workloads"]] == list(WORKLOADS)
