"""BENCHMARK.json names exactly the metrics and workloads run.py emits."""

from __future__ import annotations

import json
import os

from perfbench import run, spec


def _benchmark() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()


def test_workloads_exist():
    assert {w["name"] for w in _benchmark()["workloads"]} <= set(spec.WORKLOADS)
