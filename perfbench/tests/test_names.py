"""BENCHMARK.json and the code agree on metric names and units."""

import json
import os

from perfbench.trace import per_layer_units
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_list_matches_the_code():
    assert {m["name"]: m["unit"] for m in _bench()["per_layer"]} == per_layer_units()


def test_workloads_match_the_code():
    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)
