"""Structured logging (U7) — plain/json line formats, level filtering, and
per-constraint lifecycle events from the plan runner (the engine analog of
oval's --log-format flag, /root/reference/internal/logger/logger.go:17-42)."""

from __future__ import annotations

import io
import json
import re

import pytest

from ovalspark.logging import NullLogger, RunLogger


def test_json_lines_parse_and_carry_fields():
    buf = io.StringIO()
    log = RunLogger(fmt="json", stream=buf)
    log.info("constraint.done", name="span_sequence", violations=3)
    rec = json.loads(buf.getvalue().strip())
    assert rec["event"] == "constraint.done"
    assert rec["level"] == "info"
    assert rec["name"] == "span_sequence" and rec["violations"] == 3
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", rec["ts"])


def test_plain_format_shape():
    buf = io.StringIO()
    log = RunLogger(fmt="plain", stream=buf)
    log.warn("run.fail_fast", name="existence", violations=7)
    line = buf.getvalue().strip()
    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z WARN run\.fail_fast name=existence violations=7",
        line,
    )


def test_level_filtering_and_validation():
    buf = io.StringIO()
    log = RunLogger(fmt="plain", level="warn", stream=buf)
    log.debug("x")
    log.info("y")
    log.error("z")
    lines = buf.getvalue().strip().splitlines()
    assert len(lines) == 1 and "ERROR z" in lines[0]
    with pytest.raises(ValueError):
        RunLogger(fmt="xml")
    with pytest.raises(ValueError):
        RunLogger(level="verbose")
    nl = NullLogger()
    nl.error("dropped")  # never raises, never writes


def test_runner_emits_constraint_lifecycle(spark, small_world, tmp_path):
    from ovalspark.plans import default_plan, run_plan

    spec, cat, docs, assets = small_world
    buf = io.StringIO()
    log = RunLogger(fmt="json", stream=buf)
    plan = default_plan(spec.n_assets)
    run_plan(plan, docs, cat, assets, str(tmp_path / "o"), str(tmp_path / "m.json"), logger=log)
    events = [json.loads(line) for line in buf.getvalue().strip().splitlines()]
    done = {e["name"]: e for e in events if e["event"] == "constraint.done"}
    assert set(done) == set(plan.names())
    for e in done.values():
        assert e["rows_scanned"] > 0 and e["seconds"] >= 0
    starts = [e for e in events if e["event"] == "constraint.start"]
    assert len(starts) == len(plan.names())
