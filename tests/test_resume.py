"""Checkpoint/resume: interrupted-then-resumed must produce byte-identical
violation output to an uninterrupted run (north_rule; oval save/load +
SIGINT scenarios, /root/reference/README.md:200-236, Makefile:76-81)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from ovalspark.datagen import inject_faults
from ovalspark.plans import Manifest, default_plan, run_plan
from ovalspark.plans.runner import VCOLS, ValidationFailure


def _read_canonical(out_dir: str) -> dict[str, bytes]:
    """partition-dir -> concatenated sorted-file bytes (names excluded)."""
    out = {}
    for pdir in sorted(glob.glob(f"{out_dir}/*/partition_id=*")):
        key = os.path.relpath(pdir, out_dir)
        files = sorted(f for f in glob.glob(f"{pdir}/part-*") if not f.endswith(".crc"))
        out[key] = b"".join(open(f, "rb").read() for f in files)
    return out


@pytest.fixture(scope="module")
def world(small_world):
    spec, cat, docs, assets = small_world
    fr = {c: 0.02 for c in ("WRONG_KIND", "STALE_GENERATION", "SIZE_MISMATCH", "LOST_DOC", "DUP_DOC_ID", "WRONG_MEDIA_REF")}
    bad, _ = inject_faults(docs, cat, spec, fr, phantom_fraction=0.03)
    return spec, cat, bad.cache(), assets


def test_full_run_and_verdicts(world, tmp_path):
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    res = run_plan(plan, bad, cat, assets, str(tmp_path / "out"), str(tmp_path / "manifest.json"))
    assert not res.passed
    assert set(res.verdicts) == set(range(spec.n_shards))
    assert res.totals["span_sequence"]["violations"] > 0
    assert res.totals["existence"]["violations"] > 0
    assert res.totals["uniqueness"]["violations"] > 0
    assert res.totals["referential"]["violations"] > 0


def test_observed_metrics_in_manifest(world, tmp_path):
    """Live df.observe counters (A1 / oval stat.go analog) land in the
    manifest per constraint and agree with the written-output counts."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest.json")
    res = run_plan(plan, bad, cat, assets, out, man)
    m = json.load(open(man))
    for name, totals in res.totals.items():
        obs = m["constraints"][name]["observed"]
        assert obs["violations_found"] == totals["violations"]
        assert obs["rows_scanned"] == totals["rows"]
        assert obs["rows_scanned"] > 0


def test_rerun_is_noop(world, tmp_path):
    """Re-running a completed run skips everything (idempotent /start, O8)."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest.json")
    run_plan(plan, bad, cat, assets, out, man)
    m1 = json.load(open(man))
    snap = _read_canonical(out)
    res2 = run_plan(plan, bad, cat, assets, out, man)
    assert json.load(open(man)) == m1
    assert _read_canonical(out) == snap
    assert not res2.passed


def test_resume_partition_level_byte_identical(world, tmp_path):
    """Kill-after-k-partitions: drop partitions 2,3 from the manifest and
    delete their outputs; resume must regenerate them byte-identically."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out_a, man_a = str(tmp_path / "a"), str(tmp_path / "ma.json")
    run_plan(plan, bad, cat, assets, out_a, man_a)
    golden = _read_canonical(out_a)

    # simulate interrupted run: copy outputs, then erase partitions >= 2
    out_b, man_b = str(tmp_path / "b"), str(tmp_path / "mb.json")
    shutil.copytree(out_a, out_b)
    m = Manifest.load_or_create(man_a)
    m.path = man_b
    for rec in m.constraints.values():
        for pid in list(rec["partitions"]):
            if int(pid) >= 2:
                del rec["partitions"][pid]
    m.save()
    for pdir in glob.glob(f"{out_b}/*/partition_id=*"):
        if int(pdir.rsplit("=", 1)[1]) >= 2:
            shutil.rmtree(pdir)

    res = run_plan(plan, bad, cat, assets, out_b, man_b)
    assert _read_canonical(out_b) == golden
    assert not res.passed


def test_resume_after_fail_fast(world, tmp_path):
    """Constraint-level interruption: fail_fast aborts at the first dirty
    constraint; resuming without it completes the rest and the combined
    output equals an uninterrupted run."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out_a, man_a = str(tmp_path / "a"), str(tmp_path / "ma.json")
    run_plan(plan, bad, cat, assets, out_a, man_a)
    golden = _read_canonical(out_a)

    out_b, man_b = str(tmp_path / "b"), str(tmp_path / "mb.json")
    with pytest.raises(ValidationFailure):
        run_plan(plan, bad, cat, assets, out_b, man_b, fail_fast=True)
    partial = _read_canonical(out_b)
    assert set(partial) < set(golden)  # strictly fewer outputs written
    run_plan(plan, bad, cat, assets, out_b, man_b)
    assert _read_canonical(out_b) == golden


def test_constraint_version_bump_invalidates(world, tmp_path):
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out, man = str(tmp_path / "out"), str(tmp_path / "m.json")
    run_plan(plan, bad, cat, assets, out, man)
    m = Manifest.load_or_create(man)
    assert m.done_partitions("span_sequence", "1") == set(range(spec.n_shards))
    assert m.done_partitions("span_sequence", "2") == set()  # new version → redo

def test_parquet_sink_matches_json(world, tmp_path):
    """The parquet violation sink must record the same totals/verdicts as
    json, and be byte-deterministic across identical runs (the resume
    byte-identity bar applies to both formats)."""
    import glob
    import hashlib

    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    rj = run_plan(plan, bad, cat, assets, str(tmp_path / "oj"), str(tmp_path / "mj.json"))
    rp = run_plan(plan, bad, cat, assets, str(tmp_path / "op"), str(tmp_path / "mp.json"), sink_format="parquet")
    assert rp.totals == rj.totals
    assert rp.verdicts == rj.verdicts

    rp2 = run_plan(plan, bad, cat, assets, str(tmp_path / "op2"), str(tmp_path / "mp2.json"), sink_format="parquet")
    assert rp2.totals == rp.totals

    def digest(root):
        # key by (constraint/partition dir, part index): parquet file
        # names embed a per-write UUID, the BYTES are what must match
        out = {}
        for p in sorted(glob.glob(f"{root}/**/part-*", recursive=True)):
            rel = p.split(str(tmp_path))[1].split("/", 2)[2]
            d, base = rel.rsplit("/", 1)
            out[f"{d}/{base.split('-')[1]}"] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    assert digest(str(tmp_path / "op")) == digest(str(tmp_path / "op2"))


def test_parquet_footers_mark_every_column_nullable(world, tmp_path):
    """Every parquet sink file's footer carries one schema, every column
    nullable, whichever constraints shared the pass or a resume re-ran:
    a pass of one constraint would otherwise carry that operator's own
    NOT NULL flags, and a resumed sink would mix two footers."""
    import pyarrow.parquet as pq

    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out, man = str(tmp_path / "out"), str(tmp_path / "m.json")
    run_plan(plan, bad, cat, assets, out, man, sink_format="parquet")
    # resume existence alone on partition 1: the core pass computes one member
    m = Manifest.load_or_create(man)
    del m.constraints["existence"]["partitions"]["1"]
    m.save()
    run_plan(plan, bad, cat, assets, out, man, sink_format="parquet")

    files = glob.glob(f"{out}/*/partition_id=*/part-*.parquet")
    assert any("/existence/partition_id=1/" in f for f in files)
    names = [c for c in VCOLS if c != "partition_id"]
    for f in files:
        fields = json.loads(pq.read_schema(f).metadata[b"org.apache.spark.sql.parquet.row.metadata"])["fields"]
        assert [(x["name"], x["nullable"]) for x in fields] == [(n, True) for n in names], f
        assert all(x.nullable for x in pq.read_schema(f)), f


VIOLATIONS_DDL = (
    "doc_id string, span_idx int, field string, expected string, actual string, "
    "violation_class string, writer_id int, written_at timestamp, partition_id int"
)


def _spark_counts(spark, out, name, fmt):
    reader = spark.read.schema(VIOLATIONS_DDL)
    df = reader.json(f"{out}/{name}") if fmt == "json" else reader.parquet(f"{out}/{name}")
    return {r.partition_id: r["count"] for r in df.groupBy("partition_id").count().collect()}


def _assert_counts_match_files(spark, out, man, fmt):
    m = json.load(open(man))
    checked = 0
    for name, rec in m["constraints"].items():
        got = _spark_counts(spark, out, name, fmt)
        for pid, r in rec["partitions"].items():
            assert r["violation_count"] == got.get(int(pid), 0), (name, pid)
            checked += r["violation_count"]
    assert checked > 0


@pytest.mark.parametrize("fmt", ["json", "parquet"])
def test_violation_counts_equal_spark_count_of_written_files(spark, world, tmp_path, fmt):
    """The manifest's per-(constraint, partition) counts, taken from the
    sink files on the driver, equal Spark's count of the same files, on a
    fresh run and on a resumed pass over an output dir that already holds
    the other partitions' files."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    out, man = str(tmp_path / "out"), str(tmp_path / "m.json")
    run_plan(plan, bad, cat, assets, out, man, sink_format=fmt)
    _assert_counts_match_files(spark, out, man, fmt)

    m = Manifest.load_or_create(man)
    for rec in m.constraints.values():
        for pid in list(rec["partitions"]):
            if int(pid) >= 2:
                del rec["partitions"][pid]
    m.save()
    for pdir in glob.glob(f"{out}/*/partition_id=*"):
        if int(pdir.rsplit("=", 1)[1]) >= 2:
            shutil.rmtree(pdir)
    run_plan(plan, bad, cat, assets, out, man, sink_format=fmt)
    _assert_counts_match_files(spark, out, man, fmt)


def test_non_local_out_dir_refused_up_front(spark, world, tmp_path, monkeypatch):
    """The counts are read from local files, so a sink on another
    filesystem would record a false pass: refused before any py4j call,
    so before any job or filesystem connection."""
    import py4j.clientserver

    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    calls = []
    send = py4j.clientserver.JavaClient.send_command
    monkeypatch.setattr(
        py4j.clientserver.JavaClient,
        "send_command",
        lambda self, *a, **k: (calls.append(a), send(self, *a, **k))[1],
    )
    man = tmp_path / "m.json"
    with pytest.raises(ValueError, match="local"):
        run_plan(plan, bad, cat, assets, "hdfs://nowhere/x", str(man))
    assert calls == []
    assert not man.exists()


def test_run_plan_job_count(spark, world, tmp_path):
    """One default-plan run over this world runs 18 jobs: the partition
    list, the input lineage counts, the core pass's checkpoint and write,
    and the referential pass's write (with their broadcasts). Running
    the four core constraints as four passes cost 25."""
    spec, cat, bad, assets = world
    plan = default_plan(spec.n_assets)
    sc = spark.sparkContext
    group = "test_resume.run_plan_jobs"
    sc.setJobGroup(group, group)
    try:
        run_plan(plan, bad, cat, assets, str(tmp_path / "out"), str(tmp_path / "m.json"))
    finally:
        sc.setJobGroup("test_resume.idle", "idle")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        tracker.getStageInfo(s).name
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert len(jobs) == 18, (len(jobs), stages)


def test_stale_sink_files_are_replaced(small_world, tmp_path):
    """A run killed between a write and its manifest save leaves files no
    manifest records. The next run replaces every partition it
    validates, including ones where it found nothing: an overwrite that
    only replaced partitions with new rows left the stale file in place,
    and the clean world failed with its 3 rows counted."""
    spec, cat, docs, assets = small_world
    out = tmp_path / "out"
    stale = out / "span_sequence" / "partition_id=1"
    stale.mkdir(parents=True)
    (stale / "part-00000-stale.json").write_text('{"doc_id":"x"}\n' * 3)
    res = run_plan(default_plan(spec.n_assets), docs, cat, assets, str(out), str(tmp_path / "m.json"))
    assert res.passed
    assert res.totals["span_sequence"]["violations"] == 0
    assert not stale.exists()
    assert not (out / "_pass").exists()
