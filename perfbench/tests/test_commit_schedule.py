"""commit_tail's schedule follows its recorded operation mix, and a run
of the declared length commits past the program's fold threshold."""

import json
import os

import commit_tail as ct
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_mix_follows_ope_ratio():
    r = ct.OPE_RATIO
    # per cycle one put and one delete, GETS_PER_CYCLE gets; a list per LIST_EVERY cycles
    assert r["put"] == r["delete"]
    assert ct.GETS_PER_CYCLE * r["put"] == r["get"]
    assert ct.LIST_EVERY * r["list"] == r["put"]
    assert 0 <= ct.LIST_PHASE < ct.LIST_EVERY


def test_fold_points():
    assert ct.fold_points(["append", "upsert"] * 3, 3) == {(1, "delete"), (3, "delete"), (5, "delete")}
    assert ct.fold_points(["append"] * 4, 5) == set()
    assert ct.fold_points(["upsert", "upsert"], 1) == {(0, "upsert"), (0, "delete"), (1, "upsert"), (1, "delete")}


def test_declared_run_measures_a_fold_and_a_list():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]
    wl = ct.CommitTail
    measured = range(wl.warmup_cycles, min(wl.warmup_cycles + run.rounds_in(wl, seconds) * wl.round_cycles, wl.max_cycles))
    puts = [ct.PUT_KINDS[i % len(ct.PUT_KINDS)] for i in range(wl.max_cycles)]
    assert any(i in measured for i, _ in ct.fold_points(puts, ct.fold_threshold()))
    assert any(i % ct.LIST_EVERY == ct.LIST_PHASE for i in measured)
