"""BENCHMARK.json follows the benchmark contract, and the metrics the
runner emits are exactly the ones it declares."""

import json
import os
import re

import pytest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PATH_RE = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def test_name_and_unit_rules():
    assert valid_name("spark.jobs_per_cycle")
    assert valid_name("0ms")
    assert not valid_name("_leading")
    assert not valid_name("a" * 65)
    assert not valid_name("has space")
    assert valid_unit("1/s") and valid_unit("%") and valid_unit("count")
    assert not valid_unit("") and not valid_unit("a" * 17) and not valid_unit("m s")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        text = f.read()
    assert len(text.encode()) <= 64 * 1024
    return json.loads(text)


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_command_and_paths(bench):
    cmd, paths = bench["command"], bench["paths"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    assert 1 <= len(paths) <= 16
    for p in paths:
        assert PATH_RE.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    for c in cmd:
        assert not c.startswith("/") and ".." not in c.split("/")
        if os.path.exists(os.path.join(ROOT, c)):
            assert any(c == p or c.startswith(p.rstrip("/") + "/") for p in paths)


def test_names_units_and_bounds(bench):
    names = []
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert valid_unit(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(valid_name(n) for n in names)
    assert len(names) == len(set(names))


def test_setup_metric_has_the_largest_bound(bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    setup = e2e["setup_s"]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_declared_metrics_match_the_runner(bench):
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [m["name"] for m in bench["per_layer"]] == list(run.LAYER_METRICS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert run.unit_of(m["name"]) == m["unit"]
    assert {w["name"] for w in bench["workloads"]} <= set(run.workloads())
