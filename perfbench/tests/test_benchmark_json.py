"""BENCHMARK.json names exactly the workloads and metrics run.py prints."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.run import WORKLOADS as CLI_WORKLOADS
from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS

SPEC = json.loads((Path(__file__).parents[2] / "BENCHMARK.json").read_text())


def test_workloads_match():
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == list(WORKLOADS) == list(CLI_WORKLOADS)


def test_metrics_match_with_units():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


def test_setup_s_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
