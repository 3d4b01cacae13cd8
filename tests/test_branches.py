"""Write-audit-publish branches + tags (sources/branches.py, snapshot
tags in sources/snapshots.py).

The table-level inversion of oval's write-then-verify loop
(`internal/runner/worker.go:43-177`): staged commits are invisible to
main until the validator passes them, the publish is one guarded
metadata-only CAS, and tags pin audited states against retention."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ovalspark.sources.branches import (
    BranchError,
    branch_read,
    branch_root,
    create_branch,
    drop_branch,
    list_branches,
    publish_branch,
    validate_then_publish,
)
from ovalspark.sources.snapshots import (
    create_tag,
    delete_tag,
    expire_snapshots,
    list_tags,
    load_manifest,
    resolve_tag,
    snapshot_history,
    snapshot_read,
    snapshot_write,
    vacuum,
)


def _docs(spark, lo, hi, lang="en"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit(lang).alias("lang"),
        F.col("id").alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- branches


def test_create_list_and_duplicate(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    broot = create_branch(root, "audit-1")
    assert os.path.isdir(broot)
    assert list_branches(root)["audit-1"]["base_snapshot"] == 1
    with pytest.raises(BranchError, match="already exists"):
        create_branch(root, "audit-1")
    with pytest.raises(ValueError, match="invalid branch name"):
        create_branch(root, "../escape")


def test_append_wap_roundtrip(spark, tmp_path):
    """Stage two appends on a branch: main never sees them until publish;
    the merged audit view equals the post-publish state EXACTLY; publish
    is metadata-only (branch part files are referenced in place)."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 20), root)
    snapshot_write(_docs(spark, 20, 30), root, mode="append")

    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 30, 40), broot)
    snapshot_write(_docs(spark, 40, 50), broot, mode="append")

    # isolation: main unchanged while the branch carries 20 staged rows
    assert snapshot_read(spark, root).count() == 30
    assert branch_read(spark, root, "b").count() == 20
    merged = branch_read(spark, root, "b", merged=True)
    assert _rows(merged) == _rows(_docs(spark, 0, 50))

    sid = publish_branch(root, "b", mode="append")
    assert sid == 3
    assert _rows(snapshot_read(spark, root)) == _rows(_docs(spark, 0, 50))
    # time travel to the pre-publish state is untouched
    assert snapshot_read(spark, root, snapshot_id=2).count() == 30
    # the publish commit references branch files IN PLACE: no data copied
    m = load_manifest(root, sid)
    pub_files = [f["path"] for f in m["files"] if f["path"].startswith("_branches/b/")]
    assert len(pub_files) > 0
    props = m["properties"]
    assert props["published_branch"] == "b"
    assert props["published_branch_head"] == 2
    assert props["branch_base"] == 2


def test_overwrite_publish_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 30), root)
    broot = create_branch(root, "rw")
    snapshot_write(_docs(spark, 100, 110, lang="fr"), broot)
    sid = publish_branch(root, "rw", mode="overwrite")
    assert _rows(snapshot_read(spark, root)) == _rows(_docs(spark, 100, 110, lang="fr"))
    assert snapshot_read(spark, root, snapshot_id=sid - 1).count() == 30


def test_fast_forward_discipline(spark, tmp_path):
    """Main moving past the base blocks publish: overwrite always,
    append unless explicitly rebased."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    create_branch(root, "b")
    snapshot_write(_docs(spark, 0, 10), broot := branch_root(root, "b"))
    snapshot_write(_docs(spark, 90, 95), root, mode="append")  # main diverges

    with pytest.raises(BranchError, match="main moved"):
        publish_branch(root, "b", mode="append")
    with pytest.raises(BranchError, match="re-branch"):
        publish_branch(root, "b", mode="overwrite")
    # explicit append rebase onto the new head
    sid = publish_branch(root, "b", mode="append", allow_divergent_base=True)
    assert snapshot_read(spark, root, snapshot_id=sid).count() == 25
    assert broot  # silence lint


def test_empty_branch_refuses(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 5), root)
    create_branch(root, "b")
    with pytest.raises(BranchError, match="no commits"):
        publish_branch(root, "b")
    # empty branch still reads as zero rows of the base schema
    e = branch_read(spark, root, "b")
    assert e.count() == 0 and e.columns == ["doc_id", "lang", "v"]


def test_double_publish_refused_and_crash_window_backstop(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 5), root)
    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 5, 8), broot)
    publish_branch(root, "b", mode="append")
    with pytest.raises(BranchError, match="already published"):
        publish_branch(root, "b", mode="append")
    # crash window: main committed but the descriptor update was lost —
    # simulate by erasing the published marker; the manifest-properties
    # walk must still refuse the duplicate
    dp = os.path.join(broot, "BRANCH.json")
    with open(dp) as f:
        desc = json.load(f)
    del desc["published"]
    with open(dp, "w") as f:
        json.dump(desc, f)
    with pytest.raises(BranchError, match="descriptor update was lost"):
        publish_branch(root, "b", mode="append", allow_divergent_base=True)


def test_publish_refuses_branch_with_pending_mor_filters(spark, tmp_path):
    """A branch with pending merge-on-read deletes cannot publish (the
    metadata-only publish would drop its filters and resurrect the
    deleted rows); materializing on the branch unblocks it."""
    from ovalspark.sources.snapshots import materialize_deletes, snapshot_delete

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 10, 30), broot)
    snapshot_delete(spark, broot, "v < 15", strategy="merge-on-read")
    with pytest.raises(BranchError, match="merge-on-read"):
        publish_branch(root, "b", mode="append")
    materialize_deletes(spark, broot)
    publish_branch(root, "b", mode="append")
    assert _rows(snapshot_read(spark, root)) == _rows(
        _docs(spark, 0, 10).unionByName(_docs(spark, 15, 30))
    )


def test_publish_append_schema_gate(spark, tmp_path):
    from ovalspark.sources.snapshots import SchemaMismatchError

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 5), root)
    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 5, 8).withColumnRenamed("v", "w"), broot)
    with pytest.raises(SchemaMismatchError):
        publish_branch(root, "b", mode="append")


def test_drop_branch_lifecycles(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)

    # unpublished with commits: refuses, then force discards everything
    b1 = create_branch(root, "stale")
    snapshot_write(_docs(spark, 10, 12), b1)
    with pytest.raises(BranchError, match="unpublished commits"):
        drop_branch(root, "stale")
    drop_branch(root, "stale", force=True)
    assert "stale" not in list_branches(root)

    # published: manifests go, DATA STAYS (main references it in place)
    b2 = create_branch(root, "good")
    snapshot_write(_docs(spark, 10, 15), b2)
    publish_branch(root, "good", mode="append")
    drop_branch(root, "good")
    assert "good" not in list_branches(root)
    assert not os.path.isdir(os.path.join(b2, "manifest"))
    assert _rows(snapshot_read(spark, root)) == _rows(_docs(spark, 0, 15))


def test_vacuum_is_branch_aware(spark, tmp_path):
    """Main's vacuum must (a) spare an UNPUBLISHED branch's staged data,
    (b) spare published branch data main references, and (c) reclaim a
    force-dropped... (dropped dirs are gone already) — reclaim data of a
    branch whose manifests were removed and that main never referenced."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)

    live = create_branch(root, "live")
    snapshot_write(_docs(spark, 10, 12), live)
    pub = create_branch(root, "pub")
    snapshot_write(_docs(spark, 12, 14), pub)
    publish_branch(root, "pub", mode="append")
    drop_branch(root, "pub")  # data stays, referenced by main

    # an orphaned branch: manifests deleted out-of-band, never published
    import shutil

    orphan = create_branch(root, "orphan")
    snapshot_write(_docs(spark, 14, 16), orphan)
    shutil.rmtree(os.path.join(orphan, "manifest"))

    removed = vacuum(root)
    # orphan's data dir reclaimed; live + published data untouched
    assert any("orphan" in p for p in removed)
    assert not any("_branches/live" in p for p in removed)
    assert not any("_branches/pub" in p for p in removed)
    assert branch_read(spark, root, "live").count() == 2
    assert _rows(snapshot_read(spark, root)) == _rows(
        _docs(spark, 0, 10).unionByName(_docs(spark, 12, 14))
    )


def test_validate_then_publish_gates_on_violations(spark, tmp_path):
    """The WAP audit gate: a dirty branch never reaches main; a clean one
    publishes. Uniqueness across old+new via the merged audit view."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)

    def dup_check(df):
        return (
            df.groupBy("doc_id")
            .count()
            .filter(F.col("count") > 1)
            .select("doc_id", F.lit("DUPLICATE_DOC").alias("violation_class"))
        )

    bad = create_branch(root, "bad")
    snapshot_write(_docs(spark, 5, 12), bad)  # d5..d9 collide with main
    sid, viol = validate_then_publish(
        spark, root, "bad", dup_check, mode="append", audit_merged=True
    )
    assert sid is None
    assert viol.count() == 5
    assert snapshot_read(spark, root).count() == 10  # main untouched

    good = create_branch(root, "good")
    snapshot_write(_docs(spark, 10, 15), good)
    sid, viol = validate_then_publish(
        spark, root, "good", dup_check, mode="append", audit_merged=True
    )
    assert sid == 2 and viol.count() == 0
    assert _rows(snapshot_read(spark, root)) == _rows(_docs(spark, 0, 15))


def test_publish_cas_loses_cleanly_to_concurrent_writer(spark, tmp_path, monkeypatch):
    """A main writer racing the publish: the publish's CAS loses, raises
    ConcurrentCommitError, and the branch is UNTOUCHED — retry with
    allow_divergent_base succeeds against the new head."""
    import ovalspark.sources.snapshots as sn
    from ovalspark.sources.snapshots import ConcurrentCommitError

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 10, 13), broot)

    real = sn._commit_manifest

    def race_then_commit(*a, **k):
        # a concurrent writer lands between parent resolution and the CAS
        monkeypatch.setattr(sn, "_commit_manifest", real)
        snapshot_write(_docs(spark, 90, 92), root, mode="append")
        return real(*a, **k)

    monkeypatch.setattr(sn, "_commit_manifest", race_then_commit)
    with pytest.raises(ConcurrentCommitError):
        publish_branch(root, "b", mode="append")
    monkeypatch.setattr(sn, "_commit_manifest", real)

    # branch intact, retry against the moved head
    assert branch_read(spark, root, "b").count() == 3
    publish_branch(root, "b", mode="append", allow_divergent_base=True)
    assert _rows(snapshot_read(spark, root)) == _rows(
        _docs(spark, 0, 13).unionByName(_docs(spark, 90, 92))
    )


def test_branch_inherits_table_capabilities(spark, tmp_path):
    """A branch is a full snapshot table: time travel and history work
    WITHIN the branch before publish."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 5), root)
    broot = create_branch(root, "b")
    snapshot_write(_docs(spark, 5, 8), broot)
    snapshot_write(_docs(spark, 8, 10), broot, mode="append")
    assert snapshot_read(spark, broot, snapshot_id=1).count() == 3
    assert snapshot_history(spark, broot).count() == 2


# -------------------------------------------------------------------- tags


def test_tag_create_resolve_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    snapshot_write(_docs(spark, 0, 4), root, mode="overwrite")

    assert create_tag(root, "audited-v1", snapshot_id=1) == 1
    assert create_tag(root, "tip") == 2  # defaults to CURRENT
    assert resolve_tag(root, "audited-v1") == 1
    assert list_tags(root) == {"audited-v1": 1, "tip": 2}
    assert snapshot_read(spark, root, tag="audited-v1").count() == 10

    with pytest.raises(ValueError, match="immutable"):
        create_tag(root, "tip", snapshot_id=1)
    with pytest.raises(ValueError, match="pass snapshot_id or tag"):
        snapshot_read(spark, root, snapshot_id=1, tag="tip")
    delete_tag(root, "tip")
    with pytest.raises(KeyError):
        resolve_tag(root, "tip")
    with pytest.raises(FileNotFoundError):
        create_tag(root, "ghost", snapshot_id=99)


def test_tag_pins_snapshot_against_retention(spark, tmp_path):
    """expire_snapshots skips tagged ids; their files survive vacuum; an
    untagged sibling of the same age expires. Deleting the tag releases
    the pin."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)  # sid 1 — tagged
    snapshot_write(_docs(spark, 10, 20), root, mode="overwrite")  # sid 2 — expirable
    snapshot_write(_docs(spark, 20, 25), root, mode="overwrite")  # sid 3 — tip
    create_tag(root, "keep", snapshot_id=1)

    expired = expire_snapshots(root, keep_last=1, min_age_s=0.0)
    assert expired == [2]
    assert _rows(snapshot_read(spark, root, tag="keep")) == _rows(_docs(spark, 0, 10))
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, root, snapshot_id=2)

    delete_tag(root, "keep")
    assert expire_snapshots(root, keep_last=1, min_age_s=0.0) == [1]
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, root, snapshot_id=1)


def test_tagged_publish_wap_story(spark, tmp_path):
    """The full WAP arc: stage -> audit -> publish -> tag the audited
    state -> later overwrites + retention cannot disturb the tag."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    broot = create_branch(root, "release")
    snapshot_write(_docs(spark, 10, 20), broot)
    sid, _ = validate_then_publish(
        spark, root, "release", lambda df: df.filter(F.col("doc_id").isNull())
    )
    assert sid == 2
    create_tag(root, "release-1", snapshot_id=sid)
    snapshot_write(_docs(spark, 50, 52), root, mode="overwrite")
    expire_snapshots(root, keep_last=1, min_age_s=0.0)
    pinned = snapshot_read(spark, root, tag="release-1")
    assert _rows(pinned) == _rows(_docs(spark, 0, 20))


def test_data_source_tag_option(spark, tmp_path):
    """`.option("tag", ...)` time-travels the batch format to a named
    snapshot; combining it with snapshot_id raises."""
    from ovalspark.sources.snapshots import create_tag
    from ovalspark.sources.stream_source import register_snapshot_source

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    create_tag(root, "v1")
    snapshot_write(_docs(spark, 0, 3), root, mode="overwrite")
    register_snapshot_source(spark)
    got = (
        spark.read.format("ovalspark_snapshots")
        .option("path", root)
        .option("tag", "v1")
        .load()
    )
    assert got.count() == 10
    with pytest.raises(Exception, match="not both"):
        spark.read.format("ovalspark_snapshots").option("path", root).option(
            "tag", "v1"
        ).option("snapshot_id", "1").load().count()
