"""Validation of metric and workload names, BENCHMARK.json and result lines."""

import copy
import json
import os

import pytest

from perfbench import spec
from perfbench.layers import PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_checked_in_benchmark_is_valid(bench):
    assert spec.validate(bench) == []


def test_benchmark_lists_what_the_code_emits(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER


@pytest.mark.parametrize(
    "name, ok",
    [
        ("new_name", True),
        ("stage.tiles.write_s", True),
        ("9lives", True),
        ("a" * 64, True),
        ("a" * 65, False),
        ("_hidden", False),
        (".dot", False),
        ("has space", False),
        ("slash/name", False),
        ("", False),
    ],
)
@pytest.mark.parametrize("group", ["workloads", "end_to_end", "per_layer"])
def test_metric_and_workload_names(bench, group, name, ok):
    b = copy.deepcopy(bench)
    # the last entry: never setup_s, which must keep its name
    b[group][-1]["name"] = name
    errs = spec.validate(b)
    assert (errs == []) == ok, errs


def test_names_are_used_once(bench):
    b = copy.deepcopy(bench)
    b["per_layer"][1]["name"] = b["per_layer"][0]["name"]
    assert any("more than once" in e for e in spec.validate(b))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b["end_to_end"].__setitem__(0, dict(b["end_to_end"][0], bound=0.3)),
        lambda b: b["end_to_end"].__setitem__(0, dict(b["end_to_end"][0], unit="m s")),
        lambda b: b.__setitem__("end_to_end", [e for e in b["end_to_end"] if e["name"] != "setup_s"]),
        lambda b: b.__setitem__("workloads", b["workloads"][:1]),
        lambda b: b["workloads"][0].__setitem__("why", "two\nlines"),
        lambda b: b.__setitem__("run_seconds", 61),
        lambda b: b.__setitem__("command", ["python3", "/abs/run.py"]),
        lambda b: b.__setitem__("paths", ["../out"]),
        lambda b: b.__setitem__("extra", 1),
    ],
)
def test_contract_violations_are_caught(bench, mutate):
    b = copy.deepcopy(bench)
    mutate(b)
    assert spec.validate(b) != []


def test_result_line_validation(bench):
    metrics = {e["name"]: {"value": 1.5, "unit": e["unit"]} for e in bench["end_to_end"]}
    good = {"correct": True, "attempted": 10, "failed": 0, "metrics": metrics}
    assert spec.validate_result(bench, good, trace=False) == []
    assert spec.validate_result(bench, good, trace=True) != []
    bad = copy.deepcopy(good)
    bad["metrics"].pop("setup_s")
    assert spec.validate_result(bench, bad, trace=False) != []
    bad = dict(good, attempted=0)
    assert spec.validate_result(bench, bad, trace=False) != []
