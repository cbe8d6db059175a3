"""BENCHMARK.json declares exactly what run.py reports."""

from __future__ import annotations

import json
import os

import run
from workloads import WORKLOADS


def _declared() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)


def test_end_to_end_metrics_match():
    got = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert got == run.END_TO_END


def test_per_layer_metrics_match():
    got = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert got == run.per_layer_units(WORKLOADS.values())
