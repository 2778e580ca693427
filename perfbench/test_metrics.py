"""BENCHMARK.json declares exactly the metrics run.py prints.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metrics_match_code():
    b = _declared()
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == run._per_layer()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_every_layer_metric_names_what_it_moves():
    for name in run._per_layer():
        assert run._moves(name)


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _declared()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
