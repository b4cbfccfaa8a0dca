"""BENCHMARK.json declares exactly the metrics run.py prints."""

import json
import os
import re

import spec
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = spec.benchmark_json([(w["name"], w["why"]) for w in bench["workloads"]], bench["run_seconds"])
    assert bench == want
    for w in bench["workloads"]:
        assert w["name"] in workloads.WORKLOADS
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert len(bench["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
