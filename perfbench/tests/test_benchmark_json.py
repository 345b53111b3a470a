"""BENCHMARK.json names exactly the metrics and workloads run.py emits."""

import importlib.util
import json
import os

import conftest

ROOT = os.path.dirname(conftest.BENCH)


def _run_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(conftest.BENCH, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_benchmark_json_matches_run_py():
    run = _run_module()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == \
        run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
