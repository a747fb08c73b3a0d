"""``BENCHMARK.json`` names exactly the metrics the benchmark reports."""

import json
import os

from perfbench import layers
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    spec = _spec()
    got = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert got == layers.END_TO_END
    for w in spec["workloads"]:
        assert WORKLOADS[w["name"]].end_to_end == list(layers.END_TO_END)


def test_per_layer_metrics_are_those_of_every_listed_workload():
    spec = _spec()
    got = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    for w in spec["workloads"]:
        want = {k: v[:2] for k, v in WORKLOADS[w["name"]].layers.items()}
        assert got == want, w["name"]


def test_every_layer_metric_has_a_unit_and_a_target():
    for wl in WORKLOADS.values():
        assert wl.layers
        for name, (unit, better, moves) in wl.layers.items():
            assert unit and better in ("lower", "higher") and moves, name
