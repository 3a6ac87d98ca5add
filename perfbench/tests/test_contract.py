import json
import os

import run
from tracing import PER_LAYER, unit_of
from workloads import SPECS

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "..",
                              "BENCHMARK.json")


def load():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_workloads_match_specs():
    assert [w["name"] for w in load()["workloads"]] == list(SPECS)


def test_end_to_end_metrics_match_what_run_prints():
    e2e = load()["end_to_end"]
    assert {m["name"]: m["unit"] for m in e2e} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_metrics_match_what_a_traced_run_prints():
    per_layer = load()["per_layer"]
    assert [m["name"] for m in per_layer] == list(PER_LAYER)
    assert all(m["unit"] == unit_of(m["name"]) for m in per_layer)
