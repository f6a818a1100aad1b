"""BENCHMARK.json matches what run.py prints, and every name is legal."""

import json
import os

import inputs
import run
import workloads
from stats import METRIC_NAME

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_name_is_legal():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert names and all(METRIC_NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for n in names:
        assert len(n) <= 64 and n[0].isalnum()


def test_benchmark_json_lists_the_printed_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()}
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert set(workloads.WORKLOADS) == set(inputs.SIZES)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
