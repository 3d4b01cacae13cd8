"""Every snapshot commit runs through one ``_SnapshotTxn``: these tests
hold each of the 14 commit sites to the transaction's cleanup contract.

* A commit that loses the CAS (``ConcurrentCommitError``) leaves CURRENT
  unchanged and nothing it staged behind: no new ``data/snap-*`` dir, no
  new ``manifest/seg-*`` segment. Files the caller staged itself
  (``commit_staged_files``, a branch's files for ``publish_branch``) stay.
* A commit refused before the CAS (a constraint violation, a NULL upsert
  key) stages nothing that outlives it.
* A CAS that fails after publishing (outcome unknown) removes nothing:
  the published manifest references those files.

Plus the carry rule's z-order case: an append keeps the declared
``zorder`` layout, so ``diagnose`` does not prescribe a bin-pack compact
that would destroy it.
"""

from __future__ import annotations

import glob
import os

import pytest

import ovalspark.sources.snapshots as sn
from ovalspark.sources import (
    commit_staged_files,
    current_snapshot_id,
    load_manifest,
    materialize_deletes,
    merge_segments,
    rollback_table,
    snapshot_compact,
    snapshot_delete,
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
    sort_rewrite,
)
from ovalspark.sources.branches import branch_read, create_branch, publish_branch
from ovalspark.sources.constraints import (
    ConstraintViolationError,
    drop_constraints,
    set_constraints,
)
from ovalspark.sources.doctor import diagnose
from ovalspark.sources.snapshots import ConcurrentCommitError, cluster_incremental


def _slice(spark, lo, hi, parts=2):
    return (
        spark.range(lo, hi)
        .selectExpr("cast(id as string) as doc_id", "id as v")
        .repartition(parts)
    )


def _snap_dirs(root):
    return set(glob.glob(os.path.join(root, "data", "snap-*")))


def _segs(root):
    return set(glob.glob(os.path.join(root, "manifest", "seg-*.json")))


def _base(spark, root):
    snapshot_write(_slice(spark, 0, 10), root)
    snapshot_write(_slice(spark, 10, 20), root, mode="append")


# site -> (setup(spark, root) -> op, writes data, spills at bound 1)
def _setup_write(spark, root):
    _base(spark, root)
    return lambda: snapshot_write(_slice(spark, 20, 30), root, mode="append")


def _setup_staged(spark, root):
    _base(spark, root)
    df = _slice(spark, 20, 30)
    df.write.parquet(os.path.join(root, "staging"))
    paths = glob.glob(os.path.join(root, "staging", "part-*.parquet"))
    return lambda: commit_staged_files(root, paths, df.schema, mode="append")


def _setup_cow_delete(spark, root):
    _base(spark, root)
    return lambda: snapshot_delete(spark, root, "v = 15")


def _setup_mor_delete(spark, root):
    _base(spark, root)
    return lambda: snapshot_delete(
        spark, root, "v = 15", strategy="merge-on-read", fold_threshold=None
    )


def _setup_upsert(spark, root):
    _base(spark, root)
    staged = spark.createDataFrame([("10", 100), ("11", 110)], "doc_id string, v long")
    return lambda: snapshot_upsert(spark, root, staged)


def _setup_materialize(spark, root):
    _base(spark, root)
    snapshot_delete(spark, root, "v = 15", strategy="merge-on-read", fold_threshold=None)
    snapshot_write(_slice(spark, 20, 30), root, mode="append")
    return lambda: materialize_deletes(spark, root)


def _setup_sort_rewrite(spark, root):
    _base(spark, root)
    return lambda: sort_rewrite(spark, root, sort_by="v")


def _setup_cluster(spark, root):
    snapshot_write(_slice(spark, 0, 40, parts=4), root, sort_by="v")
    # three files spanning one range: two of them break the sorted layout
    snapshot_write(_slice(spark, 40, 80, parts=3), root, mode="append")
    return lambda: cluster_incremental(spark, root)


def _setup_compact(spark, root):
    _base(spark, root)
    return lambda: snapshot_compact(spark, root, target_file_mb=1)


def _setup_merge_segments(spark, root):
    sn._SEGMENT_SPILL_ENTRIES = 2  # every append spills: small segments to merge
    _base(spark, root)
    snapshot_write(_slice(spark, 20, 30), root, mode="append")
    snapshot_write(_slice(spark, 30, 40), root, mode="append")
    return lambda: merge_segments(root, target_entries=8)


def _setup_rollback(spark, root):
    _base(spark, root)
    return lambda: rollback_table(root, 1)


def _setup_set_constraints(spark, root):
    _base(spark, root)
    nn = {"name": "nn", "kind": "not_null", "column": "doc_id"}
    return lambda: set_constraints(root, [nn], mode="add", validate=False)


def _setup_drop_constraints(spark, root):
    _base(spark, root)
    nn = {"name": "nn", "kind": "not_null", "column": "doc_id"}
    set_constraints(root, [nn], mode="add", validate=False)
    return lambda: drop_constraints(root, "nn")


def _setup_publish(spark, root):
    _base(spark, root)
    snapshot_write(_slice(spark, 20, 30), create_branch(root, "b"))
    return lambda: publish_branch(root, "b", mode="append")


SITES = {
    "snapshot_write": (_setup_write, True, True),
    "commit_staged_files": (_setup_staged, False, True),
    "snapshot_delete": (_setup_cow_delete, True, True),
    "snapshot_delete_mor": (_setup_mor_delete, True, True),
    "snapshot_upsert": (_setup_upsert, True, True),
    "materialize_deletes": (_setup_materialize, True, True),
    "sort_rewrite": (_setup_sort_rewrite, True, False),
    "cluster_incremental": (_setup_cluster, True, True),
    "snapshot_compact": (_setup_compact, True, False),
    "merge_segments": (_setup_merge_segments, False, True),
    "rollback_table": (_setup_rollback, False, False),
    "set_constraints": (_setup_set_constraints, False, False),
    "drop_constraints": (_setup_drop_constraints, False, False),
    "publish_branch": (_setup_publish, False, True),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_cas_loser_leaves_nothing_staged(spark, tmp_path, monkeypatch, site):
    setup, writes_data, spills = SITES[site]
    root = str(tmp_path / "t")
    # registered before the setup, so a bound a setup lowers is restored too
    monkeypatch.setattr(sn, "_SEGMENT_SPILL_ENTRIES", sn._SEGMENT_SPILL_ENTRIES)
    op = setup(spark, root)
    # the lowest bound: every site that carries inline entries spills them
    monkeypatch.setattr(sn, "_SEGMENT_SPILL_ENTRIES", 1)
    cur, dirs, segs = current_snapshot_id(root), _snap_dirs(root), _segs(root)
    outside = set(glob.glob(os.path.join(root, "staging", "*"))) | set(
        glob.glob(os.path.join(root, "_branches", "*", "data", "*", "*"))
    )
    at_cas = {}

    def lose(r, parent, sid, manifest, guard=None):
        at_cas["dirs"] = _snap_dirs(r) - dirs
        at_cas["segs"] = _segs(r) - segs
        raise ConcurrentCommitError("forced loss")

    monkeypatch.setattr(sn, "_commit_manifest", lose)
    with pytest.raises(ConcurrentCommitError):
        op()
    # the forced loss was reached with something to clean up
    assert bool(at_cas["dirs"]) == writes_data, at_cas
    assert bool(at_cas["segs"]) == spills, at_cas
    assert current_snapshot_id(root) == cur
    assert _snap_dirs(root) == dirs
    assert _segs(root) == segs
    # files the caller staged (staging dir, branch data) are never touched
    assert all(os.path.exists(p) for p in outside)
    if site == "publish_branch":
        assert branch_read(spark, root, "b").count() == 10


@pytest.mark.parametrize("kind", ["not_null", "unique"])
def test_constraint_refused_upsert_leaves_nothing_staged(spark, tmp_path, kind):
    root = str(tmp_path / "t")
    _base(spark, root)
    set_constraints(root, [{"name": "c", "kind": kind, "column": "v"}], mode="add", spark=spark)
    cur, dirs = current_snapshot_id(root), _snap_dirs(root)
    # not_null: a NULL v; unique: v=5 collides with surviving row "5"
    v = None if kind == "not_null" else 5
    staged = spark.createDataFrame([("10", v)], "doc_id string, v long")
    with pytest.raises(ConstraintViolationError):
        snapshot_upsert(spark, root, staged)
    assert current_snapshot_id(root) == cur
    assert _snap_dirs(root) == dirs


def test_null_upsert_key_is_refused_before_staging(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(spark.createDataFrame([("a", 0), ("b", 0)], "doc_id string, v long"), root)
    cur, dirs = current_snapshot_id(root), _snap_dirs(root)
    staged = spark.createDataFrame([("a", 1), (None, 1)], "doc_id string, v long")
    with pytest.raises(ValueError, match="NULL"):
        snapshot_upsert(spark, root, staged)
    assert current_snapshot_id(root) == cur
    assert _snap_dirs(root) == dirs


def test_unknown_cas_outcome_removes_nothing(spark, tmp_path, monkeypatch):
    """``_commit_manifest`` publishes, then fails: the txn cannot know the
    flip happened, so it keeps its data dir and spilled segment — which
    the published manifest references."""
    root = str(tmp_path / "t")
    _base(spark, root)
    monkeypatch.setattr(sn, "_SEGMENT_SPILL_ENTRIES", 1)
    real = sn._commit_manifest

    def publish_then_fail(*a, **k):
        real(*a, **k)
        raise RuntimeError("post-flip failure")

    monkeypatch.setattr(sn, "_commit_manifest", publish_then_fail)
    with pytest.raises(RuntimeError, match="post-flip"):
        snapshot_write(_slice(spark, 20, 30), root, mode="append")
    monkeypatch.undo()
    m = sn._load_manifest_raw(root)
    assert m["snapshot_id"] == 3 and m.get("file_segments")
    segs = [os.path.join(root, "manifest", r["loc"]) for r in m["file_segments"]]
    assert all(os.path.exists(p) for p in segs)
    assert snapshot_read(spark, root).count() == 30


def test_append_keeps_zorder_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(spark.range(0, 40).selectExpr("id as a", "id % 7 as b"), root)
    sort_rewrite(spark, root, zorder=["a", "b"])
    more = spark.range(40, 60).selectExpr("id as a", "id % 7 as b").repartition(2)
    snapshot_write(more, root, mode="append")
    m = load_manifest(root)
    assert m["zorder"] == ["a", "b"] and "sort_by" not in m
    # a bin-pack compact would destroy the Morton layout
    assert "compact" not in [f["op"] for f in diagnose(root)]
