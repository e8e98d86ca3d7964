"""BENCHMARK.json names exactly what run.py reports."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.layers import PER_LAYER
from perfbench.run import END_TO_END
from perfbench.workloads import WORKLOADS

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_metric_sets_match_what_run_py_reports():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)

