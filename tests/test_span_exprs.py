"""The span checks, and the fused pass's Columns, are built once per
SparkContext: a warm build of a span-check frame makes few py4j round
trips, and its optimized plan is the plan a cold build gives."""

from __future__ import annotations

import gc
import re
import weakref

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from ovalspark.datagen import inject_faults
from ovalspark.operators import spans, validate_spans
from ovalspark.operators.fused import validate_all
from ovalspark.operators.incremental import validate_snapshot_delta
from ovalspark.sources import snapshot_write


@pytest.fixture(scope="module")
def delta_world(small_world, tmp_path_factory):
    """A table with a base snapshot and one one-file append, plus the
    catalog rows the append covers."""
    spec, cat, docs, _ = small_world
    is_delta = F.pmod(F.xxhash64("doc_id", F.lit(53)), F.lit(5)) == 0
    bad, _ = inject_faults(docs, cat, spec, {"WRONG_KIND": 0.05, "SIZE_MISMATCH": 0.05})
    bad = bad.localCheckpoint()
    root = str(tmp_path_factory.mktemp("span_exprs") / "tbl")
    s1 = snapshot_write(bad.filter(~is_delta), root)
    s2 = snapshot_write(bad.filter(is_delta).coalesce(1), root, mode="append")
    return spec, cat, bad, cat.filter(is_delta).localCheckpoint(), root, s1, s2


def _builders(spark, delta_world):
    spec, cat, bad, cat_delta, root, s1, s2 = delta_world
    return {
        "validate_spans": lambda: validate_spans(bad, cat, spec.n_assets, broadcast_catalog=True),
        "validate_all": lambda: validate_all(bad, cat, spec.n_assets),
        "validate_snapshot_delta": lambda: validate_snapshot_delta(
            spark, root, cat_delta, spec.n_assets, from_id=s1, to_id=s2
        ),
    }


def _round_trips(monkeypatch, build):
    """(frame, py4j round trips) of one ``build()``."""
    n = [0]
    send = py4j.clientserver.JavaClient.send_command

    def counting(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    # collect garbage first and not during the build: py4j releases each
    # collected Java object with a call through the same send_command, so
    # earlier tests' garbage would otherwise count against this build
    gc.collect()
    gc.disable()
    try:
        with monkeypatch.context() as m:
            m.setattr(py4j.clientserver.JavaClient, "send_command", counting)
            df = build()
    finally:
        gc.enable()
    return df, n[0]


def _plan(df) -> str:
    """optimizedPlan text with expression ids and lambda-variable
    suffixes normalized away."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\bx_\d+\b", "x_", re.sub(r"#\d+L?", "#", text))


# Rebuilding the span checks per call, these builds made ~3,400
# (validate_spans) and ~3,800 (validate_snapshot_delta) round trips;
# memoized, ~70 and ~600. validate_all, with only the span checks
# memoized, made ~1,800-1,900; with its own Columns memoized too, ~300-400
# (its checkpoint runs a job inside the build).
@pytest.mark.parametrize(
    "site,bound", [("validate_spans", 200), ("validate_snapshot_delta", 1000), ("validate_all", 1000)]
)
def test_warm_build_round_trips(spark, delta_world, monkeypatch, site, bound):
    build = _builders(spark, delta_world)[site]
    build()
    _, n = _round_trips(monkeypatch, build)
    assert n <= bound, n


@pytest.mark.parametrize("site", ["validate_spans", "validate_all", "validate_snapshot_delta"])
def test_cold_and_warm_builds_plan_the_same(spark, delta_world, monkeypatch, site):
    monkeypatch.setattr(spans, "_EXPRS", weakref.WeakKeyDictionary())
    build = _builders(spark, delta_world)[site]
    cold = _plan(build())
    assert spark.sparkContext in spans._EXPRS
    warm = _plan(build())
    assert cold == warm
    assert "Generate posexplode" in cold


def test_memo_is_per_context_and_n_assets(spark, delta_world, monkeypatch):
    monkeypatch.setattr(spans, "_EXPRS", weakref.WeakKeyDictionary())
    spec, cat, bad, *_ = delta_world
    validate_spans(bad, cat, spec.n_assets)
    validate_spans(bad, cat, 1 << 10)
    (per_sc,) = spans._EXPRS.values()
    assert {k for k in per_sc if k[0] == "checks"} == {("checks", spec.n_assets), ("checks", 1 << 10)}
    # a different n_assets changes the expected media refs, so the rows
    a = validate_spans(bad, cat, spec.n_assets).filter(F.col("field") == "media_ref").count()
    b = validate_spans(bad, cat, 1 << 10).filter(F.col("field") == "media_ref").count()
    assert a != b
