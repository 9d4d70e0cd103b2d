"""BENCHMARK.json stays within its contract and in step with the code."""

import json
import os
import re

import harness
import layers
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_shape_and_limits():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in b[k])
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_metrics_match_what_the_run_reports():
    b = load()
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] \
        == list(harness.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] \
        == list(layers.METRICS)
    assert [w["name"] for w in b["workloads"]] == list(workloads.NAMES)


def test_every_boundary_names_a_benchmark_workload():
    for _layer, _m, _a, wl in tracing.BOUNDARIES:
        assert wl is None or wl in workloads.NAMES


def test_coverage_gaps_lists_boundaries_that_never_fired():
    fired = [tracing.Span(1, "metadata.refresh", "metadata", 0.0, None, 1, end=1.0)]
    gaps = layers.coverage_gaps(fired, "point_lookup")
    assert "metadata.refresh" not in gaps
    assert "scan.plan_entries_local" in gaps
    assert layers.coverage_gaps([], "no_such_workload") == []
