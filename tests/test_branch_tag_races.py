"""Two-PROCESS races on branch publish and tag creation, over every
guard family — the round-8 gap: ``publish_branch`` threads its guard
into ``_commit_new_files`` but nothing exercised the publish CAS (or
tag create) under the sqlite/http catalogs the way the pointer race
suite does. A raced publish on a catalog-owned main is the exact
lost-update WAP exists to prevent.

Children are Spark-free: branch staging uses the same metadata-only
``_commit_manifest`` driver as tests/test_commit_race.py, and publish
itself is pure metadata (file entries re-referenced, no data moves).

Invariants:
* two publishers racing one main slot — exactly one wins; the loser
  raises (diverged base or ``ConcurrentCommitError``) and main stays
  readable and dense;
* the losing DIFFERENT-branch publisher retries with
  ``allow_divergent_base=True`` and lands;
* the losing SAME-branch publisher must be refused on retry — the
  publish-once discipline (descriptor/walk) catches the double apply;
* two taggers racing one tag name — exactly one wins, the tag points
  at the winner's sid.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os

import pytest

from tests.test_commit_race import (
    _maybe_http_catalog,
    _manifest,
    _write_data_dir,
)

GUARDS = ["flock", "sqlite", "http"]


def _seed_main_and_branch(root: str, guard_name: str, branches: list[str]) -> None:
    """main sid1 + each branch staged with one Spark-free commit."""
    from ovalspark.sources.branches import branch_root, create_branch
    from ovalspark.sources.snapshots import _commit_manifest

    files1 = _write_data_dir(root, 1, 5, "seed")
    _commit_manifest(root, None, 1, _manifest(1, None, files1), guard_name)
    for name in branches:
        broot = create_branch(root, name)
        bf = _write_data_dir(broot, 1, 3, f"stage-{name}")
        # branch staging is single-writer local work — the guard under
        # test protects the PUBLISH commit on main, not the staging
        _commit_manifest(broot, None, 1, _manifest(1, None, bf), "flock")
        assert branch_root(root, name) == broot


def _publish_child(root, guard_name, name, same_branch, barrier, q):
    from ovalspark.sources.branches import BranchError, publish_branch
    from ovalspark.sources.snapshots import ConcurrentCommitError

    try:
        barrier.wait(timeout=60)
        try:
            sid = publish_branch(root, name, mode="append", guard=guard_name)
            q.put((name, "ok", sid))
            return
        except (BranchError, ConcurrentCommitError):
            pass
        # retry path: a different branch may rebase onto the new head; the
        # SAME branch must be refused (publish-once)
        try:
            sid = publish_branch(
                root, name, mode="append", guard=guard_name,
                allow_divergent_base=True,
            )
            q.put((name, "retried-ok" if not same_branch else "DOUBLE-PUBLISH", sid))
        except BranchError:
            q.put((name, "refused", None))
    except BaseException as e:  # pragma: no cover - diagnostics only
        q.put((name, f"err:{type(e).__name__}:{e}", None))


@pytest.mark.parametrize("guard_name", GUARDS)
def test_two_process_publish_race_distinct_branches(spark, tmp_path, guard_name):
    """b1 and b2 race one main slot: one lands at sid2, the loser rebases
    and lands at sid3 — main ends dense with BOTH branches' content."""
    from ovalspark.sources.branches import list_branches
    from ovalspark.sources.snapshots import current_snapshot_id, snapshot_read

    root = str(tmp_path / f"pubrace_{guard_name}")
    with _maybe_http_catalog(root, guard_name):
        _seed_main_and_branch(root, guard_name, ["b1", "b2"])
        ctx = mp.get_context("spawn")
        barrier, q = ctx.Barrier(2), ctx.Queue()
        procs = [
            ctx.Process(
                target=_publish_child,
                args=(root, guard_name, n, False, barrier, q),
            )
            for n in ("b1", "b2")
        ]
        [p.start() for p in procs]
        [p.join(timeout=120) for p in procs]
        assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
        results = {n: (s, sid) for n, s, sid in (q.get(timeout=10), q.get(timeout=10))}
        statuses = sorted(s for s, _ in results.values())
        assert statuses == ["ok", "retried-ok"], results
        assert current_snapshot_id(root) == 3
        assert snapshot_read(spark, root).count() == 5 + 3 + 3
        descs = list_branches(root)
        assert descs["b1"].get("published") and descs["b2"].get("published")


@pytest.mark.parametrize("guard_name", GUARDS)
def test_two_process_same_branch_publish_once(spark, tmp_path, guard_name):
    """Two publishers race the SAME branch: exactly one main commit
    lands; the loser's rebase retry is refused by the publish-once
    discipline (a double apply would double-append the inventory)."""
    from ovalspark.sources.snapshots import current_snapshot_id, snapshot_read

    root = str(tmp_path / f"pubonce_{guard_name}")
    with _maybe_http_catalog(root, guard_name):
        _seed_main_and_branch(root, guard_name, ["b1"])
        ctx = mp.get_context("spawn")
        barrier, q = ctx.Barrier(2), ctx.Queue()
        procs = [
            ctx.Process(
                target=_publish_child,
                args=(root, guard_name, "b1", True, barrier, q),
            )
            for _ in range(2)
        ]
        [p.start() for p in procs]
        [p.join(timeout=120) for p in procs]
        assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
        outcomes = sorted(
            s for _, s, _ in (q.get(timeout=10), q.get(timeout=10))
        )
        assert outcomes == ["ok", "refused"], outcomes
        assert current_snapshot_id(root) == 2  # ONE publish applied
        assert snapshot_read(spark, root).count() == 5 + 3


def _tag_child(root, guard_name, sid, barrier, q):
    from ovalspark.sources.snapshots import create_tag

    try:
        barrier.wait(timeout=60)
        try:
            create_tag(root, "winner", snapshot_id=sid, guard=guard_name)
            q.put((sid, "ok"))
        except ValueError:
            q.put((sid, "lost"))
    except BaseException as e:  # pragma: no cover - diagnostics only
        q.put((sid, f"err:{type(e).__name__}:{e}"))


@pytest.mark.parametrize("guard_name", GUARDS)
def test_two_process_tag_create_race(tmp_path, guard_name):
    """Two taggers race one tag name with different target sids: the tag
    ends pointing at exactly the winner's sid (immutability holds under
    concurrency, across all three authorities)."""
    from ovalspark.sources.snapshots import _commit_manifest, list_tags

    root = str(tmp_path / f"tagrace_{guard_name}")
    with _maybe_http_catalog(root, guard_name):
        files1 = _write_data_dir(root, 1, 2, "s1")
        _commit_manifest(root, None, 1, _manifest(1, None, files1), guard_name)
        files2 = _write_data_dir(root, 2, 2, "s2")
        _commit_manifest(root, 1, 2, _manifest(2, 1, files2), guard_name)

        ctx = mp.get_context("spawn")
        barrier, q = ctx.Barrier(2), ctx.Queue()
        procs = [
            ctx.Process(target=_tag_child, args=(root, guard_name, sid, barrier, q))
            for sid in (1, 2)
        ]
        [p.start() for p in procs]
        [p.join(timeout=120) for p in procs]
        assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
        results = dict((q.get(timeout=10), q.get(timeout=10)))
        assert sorted(results.values()) == ["lost", "ok"], results
        winner_sid = next(s for s, st in results.items() if st == "ok")
        assert list_tags(root) == {"winner": winner_sid}


def _set_constraints_child(root, guard_name, cname, barrier, cas_barrier, q):
    import ovalspark.sources.snapshots as sn
    from ovalspark.sources.constraints import ConstraintError, set_constraints
    from ovalspark.sources.snapshots import ConcurrentCommitError

    real_commit = sn._commit_manifest
    hooked = []

    def commit_after_both_read(*args, **kwargs):
        # hold the first attempt until BOTH writers have read the same
        # parent and built their manifests, so the two CAS attempts
        # always contend (the loser's retry goes straight through)
        sn._commit_manifest = real_commit
        hooked.append(True)
        cas_barrier.wait(timeout=60)
        return real_commit(*args, **kwargs)

    sn._commit_manifest = commit_after_both_read
    try:
        barrier.wait(timeout=60)
        con = {"name": cname, "kind": "not_null", "column": "doc_id"}
        try:
            sid = set_constraints(root, [con], mode="add", validate=False,
                                  guard=guard_name)
            q.put((cname, "ok", sid, bool(hooked)))
            return
        except (ConcurrentCommitError, ConstraintError):
            pass
        # loser retries against the winner's head and must land on top
        sid = set_constraints(root, [con], mode="add", validate=False,
                              guard=guard_name)
        q.put((cname, "retried-ok", sid, bool(hooked)))
    except BaseException as e:  # pragma: no cover - diagnostics only
        q.put((cname, f"err:{type(e).__name__}:{e}", None, bool(hooked)))


@pytest.mark.parametrize("guard_name", GUARDS)
def test_two_process_set_constraints_race(tmp_path, guard_name):
    """Two writers race mode='add' contract commits on one table: the
    guard serializes them (one ok + one retried-ok) and the final
    contract holds BOTH rules — a lost update here would silently
    un-enforce a constraint every later writer believes is active."""
    from ovalspark.sources.constraints import table_constraints
    from ovalspark.sources.snapshots import _commit_manifest, current_snapshot_id

    root = str(tmp_path / f"consrace_{guard_name}")
    with _maybe_http_catalog(root, guard_name):
        files1 = _write_data_dir(root, 1, 5, "seed")
        _commit_manifest(root, None, 1, _manifest(1, None, files1), guard_name)
        ctx = mp.get_context("spawn")
        barrier, cas_barrier, q = ctx.Barrier(2), ctx.Barrier(2), ctx.Queue()
        procs = [
            ctx.Process(
                target=_set_constraints_child,
                args=(root, guard_name, n, barrier, cas_barrier, q),
            )
            for n in ("ca", "cb")
        ]
        [p.start() for p in procs]
        [p.join(timeout=120) for p in procs]
        assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
        got = [q.get(timeout=10), q.get(timeout=10)]
        # the contention hook must have fired in both writers, or the race
        # silently stops contending when the commit path moves again
        assert all(hooked for *_, hooked in got), got
        results = {n: (s, sid) for n, s, sid, _ in got}
        statuses = sorted(s for s, _ in results.values())
        assert statuses == ["ok", "retried-ok"], results
        assert current_snapshot_id(root) == 3
        assert sorted(c["name"] for c in table_constraints(root)) == ["ca", "cb"]
