"""BENCHMARK.json agrees with the code that produces the metrics."""

import json
import re
from pathlib import Path

import run
import workloads

HERE = Path(__file__).resolve().parents[1]
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SPEC = json.loads((HERE / "spec.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_workloads_match_the_code_and_the_spec():
    names = [w["name"] for w in BENCH["workloads"]]
    assert names == list(workloads.WORKLOADS) == list(SPEC["workloads"])
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_metrics_are_the_ones_printed():
    got = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert got == run.E2E_UNITS
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_are_the_ones_printed():
    got = {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]}
    assert got == workloads.LAYER_METRICS


def test_names_and_units_fit_the_format():
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower") for m in metrics)
