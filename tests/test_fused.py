"""Fused single-pass validator: row-for-row equivalent to the union of the
four standalone constraints (span_sequence + existence + partition_counts
+ uniqueness), on a world with every fault class injected; through the
runner, the default plan's core pass publishes the same per-constraint
sinks, manifests and events as four standalone passes."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import pytest

from ovalspark.datagen import inject_faults
from ovalspark.operators import (
    check_existence,
    check_partition_counts,
    check_uniqueness,
    validate_spans,
)
from ovalspark.operators.fused import validate_all
from ovalspark.plans import Manifest, Pass, ValidationPlan, default_plan, run_plan, single


@pytest.fixture(scope="module")
def corrupted(small_world):
    spec, cat, docs, _ = small_world
    fr = {
        c: 0.03
        for c in ("WRONG_KIND", "STALE_GENERATION", "SIZE_MISMATCH", "LOST_DOC", "DUP_DOC_ID", "WRONG_MEDIA_REF")
    }
    bad, _ = inject_faults(docs, cat, spec, fr, phantom_fraction=0.03)
    return spec, cat, bad.localCheckpoint()


def test_fused_equals_union_of_constraints(corrupted):
    spec, cat, bad = corrupted
    union = (
        validate_spans(bad, cat, spec.n_assets)
        .unionByName(check_existence(bad, cat))
        .unionByName(check_partition_counts(bad, cat))
        .unionByName(check_uniqueness(bad))
    )
    fused = validate_all(bad, cat, spec.n_assets)
    assert fused.exceptAll(union).count() == 0
    assert union.exceptAll(fused).count() == 0
    # sanity: the world actually exercises every class
    classes = {r.violation_class for r in fused.select("violation_class").distinct().collect()}
    assert {"WRONG_KIND", "STALE_GENERATION", "SIZE_MISMATCH", "LOST_DOC", "PHANTOM_DOC", "DUP_DOC_ID", "COUNT_MISMATCH"} <= classes


def test_fused_clean_world_is_empty(small_world):
    spec, cat, docs, _ = small_world
    assert validate_all(docs, cat, spec.n_assets).count() == 0


def test_fused_counts_catch_misplaced_doc(spark, small_world):
    """A doc stored under the WRONG partition_id (catalog says P, doc row
    carries Q) must produce the same COUNT_MISMATCH rows in fused mode as
    in check_partition_counts. The round-2 fused form grouped both sides
    by the COALESCED partition_id, so the misplaced doc shifted expected
    and actual together and the mismatch was masked; the fault injector
    never moves partitions, so only this direct fixture exercises it."""
    import pyspark.sql.functions as F

    spec, cat, docs, _ = small_world
    victim = docs.select("doc_id").orderBy("doc_id").limit(1).collect()[0][0]
    wrong = F.when(F.col("doc_id") == victim, F.col("partition_id") + 1).otherwise(F.col("partition_id"))
    moved = docs.withColumn("partition_id", wrong).localCheckpoint()

    want = {
        (r.partition_id, r.expected, r.actual)
        for r in check_partition_counts(moved, cat).collect()
    }
    got = {
        (r.partition_id, r.expected, r.actual)
        for r in validate_all(moved, cat, spec.n_assets)
        .filter(F.col("violation_class") == "COUNT_MISMATCH")
        .collect()
    }
    assert want == got
    assert len(want) == 2  # the source shard lost one, the target gained one


def _standalone_plan(n_assets: int) -> ValidationPlan:
    """The core constraints as four passes of one, each its standalone
    operator."""
    return ValidationPlan((
        single("span_sequence", "1", lambda d, c, a: validate_spans(d, c, n_assets)),
        single("existence", "1", lambda d, c, a: check_existence(d, c)),
        single("partition_counts", "1", lambda d, c, a: check_partition_counts(d, c)),
        single("uniqueness", "1", lambda d, c, a: check_uniqueness(d), partition_local=False),
    ))


def _read_canonical(out_dir: str) -> dict[str, bytes]:
    """partition-dir -> concatenated sorted-file bytes (names excluded)."""
    out = {}
    for pdir in sorted(glob.glob(f"{out_dir}/*/partition_id=*")):
        files = sorted(glob.glob(f"{pdir}/part-*"))
        out[os.path.relpath(pdir, out_dir)] = b"".join(open(f, "rb").read() for f in files)
    return out


def _forget(out: str, man: str, names: tuple[str, ...], parts: set[int]) -> None:
    """Simulate an interrupted run: drop ``parts`` of ``names`` from the
    manifest and the sink."""
    m = Manifest.load_or_create(man)
    for name in names:
        for pid in parts:
            m.constraints[name]["partitions"].pop(str(pid))
            shutil.rmtree(f"{out}/{name}/partition_id={pid}", ignore_errors=True)
    m.save()


class _Events:
    """A ``run_plan`` logger that records (event, constraint name)."""

    def __init__(self):
        self.seen: list[tuple[str, str]] = []

    def info(self, event, **fields):
        self.seen.append((event, fields.get("name")))

    debug = warn = error = info


def test_fused_plan_through_runner_matches_union_totals(corrupted, tmp_path):
    """run_plan with the default plan's core pass records the same
    totals and per-partition verdicts as four standalone passes."""
    spec, cat, bad = corrupted
    r_union = run_plan(_standalone_plan(spec.n_assets), bad, cat, None, str(tmp_path / "u"), str(tmp_path / "u.json"))
    r_fused = run_plan(
        default_plan(spec.n_assets, include_referential=False),
        bad, cat, None, str(tmp_path / "f"), str(tmp_path / "f.json"),
    )
    assert r_fused.verdicts == r_union.verdicts
    assert r_fused.totals == r_union.totals
    assert all(t["violations"] > 0 for t in r_fused.totals.values())


@pytest.mark.parametrize("fmt", ["json", "parquet"])
def test_core_pass_sinks_equal_standalone_passes(corrupted, tmp_path, fmt):
    """Every (constraint, partition) file the core pass publishes has the
    bytes the standalone operator's own pass writes, on a fresh run and
    on a resume that redoes two partition-local members' partitions."""
    spec, cat, bad = corrupted
    plan = default_plan(spec.n_assets, include_referential=False)
    ref = str(tmp_path / "ref")
    run_plan(_standalone_plan(spec.n_assets), bad, cat, None, ref, f"{ref}.json", sink_format=fmt)
    golden = _read_canonical(ref)
    assert {k.split("/")[0] for k in golden} == set(plan.names())

    out, man = str(tmp_path / "out"), str(tmp_path / "m.json")
    run_plan(plan, bad, cat, None, out, man, sink_format=fmt)
    assert _read_canonical(out) == golden

    _forget(out, man, ("span_sequence", "existence"), {1, 3})
    run_plan(plan, bad, cat, None, out, man, sink_format=fmt)
    assert _read_canonical(out) == golden


def test_straggler_resume_reads_only_its_partition(spark, corrupted, tmp_path):
    """With uniqueness done, a resume that redoes one partition of the
    partition-local members scans that partition only, and publishes
    only it."""
    from ovalspark.sources import TableSet

    spec, cat, bad = corrupted
    root = str(tmp_path / "world")
    TableSet(docs=bad, catalog=cat, assets=None).save(root)
    ts = TableSet.load(spark, root, with_assets=False)
    plan = default_plan(spec.n_assets, include_referential=False)
    out, man = str(tmp_path / "out"), str(tmp_path / "m.json")
    run_plan(plan, ts.docs, ts.catalog, None, out, man)
    golden = _read_canonical(out)
    stamp = {k: os.stat(f"{out}/{k}").st_ino for k in golden}

    _forget(out, man, ("span_sequence", "existence", "partition_counts"), {2})
    (core,) = plan.passes
    scans: list[str] = []

    def spy(d, c, a):
        # the scans' partition filters (inputFiles lists a path-based
        # table's every file: its partitions are pruned at planning)
        for df in (d, c):
            scans.extend(re.findall(r"PartitionFilters: \[([^\]]*)\]", df._jdf.queryExecution().executedPlan().toString()))
        return core.fn(d, c, a)

    run_plan(ValidationPlan((Pass(core.members, spy),)), ts.docs, ts.catalog, None, out, man)
    assert len(scans) == 2 and all(re.search(r"\(partition_id#\d+ = 2\)", f) for f in scans), scans
    assert _read_canonical(out) == golden
    # every other partition's directory is the one the first run published
    assert {k for k in golden if os.stat(f"{out}/{k}").st_ino != stamp[k]} == {
        f"{n}/partition_id=2" for n in ("span_sequence", "existence", "partition_counts") if f"{n}/partition_id=2" in golden
    }


def test_pass_events_are_sequential_pairs(corrupted, tmp_path):
    """One start/done pair per constraint, in plan order and never
    interleaved, though four of them share one pass; a rerun skips all."""
    spec, cat, bad = corrupted
    plan = default_plan(spec.n_assets, include_referential=False, span_bounds=(spec.min_spans, spec.max_spans))
    log = _Events()
    run_plan(plan, bad, cat, None, str(tmp_path / "o"), str(tmp_path / "m.json"), logger=log)
    want = [(e, n) for n in plan.names() for e in ("constraint.start", "constraint.done")]
    assert log.seen == want

    again = _Events()
    run_plan(plan, bad, cat, None, str(tmp_path / "o"), str(tmp_path / "m.json"), logger=again)
    assert again.seen == [("constraint.skip", n) for n in plan.names()]


def test_fused_rerun_is_noop(corrupted, tmp_path):
    """Re-running a completed run skips the core pass entirely and
    leaves the manifest and the sink byte-identical (O8 idempotent
    start)."""
    spec, cat, bad = corrupted
    plan = default_plan(spec.n_assets, include_referential=False)
    out, man = str(tmp_path / "o"), str(tmp_path / "m.json")
    run_plan(plan, bad, cat, None, out, man)
    m1 = json.load(open(man))
    snap = _read_canonical(out)
    res2 = run_plan(plan, bad, cat, None, out, man)
    assert json.load(open(man)) == m1
    assert _read_canonical(out) == snap
    assert not res2.passed
