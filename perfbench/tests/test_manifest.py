"""BENCHMARK.json lists exactly the metrics the benchmark prints."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.metrics import END_TO_END, PER_LAYER

MANIFEST = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_end_to_end_metrics_match():
    listed = [(m["name"], m["unit"], m["better"]) for m in MANIFEST["end_to_end"]]
    assert listed == END_TO_END


def test_per_layer_metrics_match():
    listed = [(m["name"], m["unit"], m["better"]) for m in MANIFEST["per_layer"]]
    assert listed == PER_LAYER


def test_workloads_match_the_runner():
    from perfbench.run import WORKLOADS

    assert sorted(w["name"] for w in MANIFEST["workloads"]) == sorted(WORKLOADS)
