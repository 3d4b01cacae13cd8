"""Write-audit-publish BRANCHES for the snapshot store.

The validation engine's missing table-level primitive: oval verifies
every object AFTER it is written (`internal/runner/worker.go:43-177`
read-back loop) but the objects are already live — a reader racing the
validator sees unvalidated data. A branch inverts that: writers stage
commits on a named branch that MAIN's readers cannot see, the validator
audits the staged data, and ``publish_branch`` makes it visible with ONE
metadata-only commit on main — no commit becomes readable before it
validated (Iceberg's WAP / Nessie-branch pattern, re-derived over this
repo's manifest+CAS machinery).

Design — a branch IS a snapshot table:

* ``create_branch(root, name)`` makes a child table at
  ``<root>/_branches/<name>`` that starts EMPTY, with the parent's
  current snapshot id recorded as the branch BASE. No inventory is
  copied: creation is O(1) metadata regardless of table size (the
  alternative — materializing main's file list into the branch — is
  O(10⁶ entries) at the target scale for zero benefit, since the
  branch's own content is exactly the publish delta).
* Branch writes are plain ``snapshot_write(df, branch_root, ...)`` — the
  branch inherits EVERY table capability for free (guards, schema
  evolution, segmented manifests, pruning, the streaming feed, time
  travel WITHIN the branch).
* ``publish_branch`` re-references the branch's final file inventory
  into one commit on main: entry paths are re-relativized (branch data
  dirs live under main's root by construction), footer stats carry
  verbatim, and the commit goes through the SAME guarded CAS as any
  write (``_SnapshotTxn``) — zero bytes of data move, publish cost
  is O(branch inventory) metadata. Main's vacuum cannot reap branch
  data (its sweep is scoped to ``<root>/data``), and a published
  branch's data dirs are thereafter owned by main's manifests.
* Audit gate: ``validate_then_publish`` runs a caller validator over
  the staged content and publishes only a clean branch; a dirty branch
  stays on disk for forensics.

Publish modes mirror the write modes: ``append`` adds the branch's
files to main (the staged-ingest WAP); ``overwrite`` replaces main's
state with the branch's content (the rewrite-the-table WAP). Appends
pass the same additive schema gate as direct appends.

Fast-forward discipline: publish requires main's head to still be the
branch's base (the audited state is the state being amended). A
diverged main raises; ``allow_divergent_base=True`` opts an APPEND
publish into rebasing onto the new head (content disjointness is then
the caller's claim — the audit gate can check doc_id uniqueness over
the merged view). Overwrite publishes never rebase: replacing a state
nobody audited is exactly the lost update the check exists to prevent.

Once published a branch is CLOSED: a second publish raises (the
branch's cumulative inventory would double-append), backstopped — for
the crash window between main's commit and the descriptor update — by
a walk of main's manifest properties from head back to the base.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ovalspark.sources.snapshots import (
    _abs_path,
    _atomic_write,
    _check_append_schema,
    _copy_entry,
    _load_manifest_raw,
    _expand_manifest,
    _ref_cas,
    _ref_get,
    _refs_authority,
    _refs_kind,
    _SnapshotTxn,
    current_snapshot_id,
    snapshot_read,
)

_BRANCHES_DIRNAME = "_branches"
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


class BranchError(RuntimeError):
    """Branch lifecycle violation (missing/duplicate/diverged/closed)."""


def branch_root(root: str, name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(
            f"invalid branch name {name!r}: [A-Za-z0-9._-], must not start with . or -"
        )
    return os.path.join(root, _BRANCHES_DIRNAME, name)


def _descriptor_path(broot: str) -> str:
    return os.path.join(broot, "BRANCH.json")


def _desc_json(desc: dict[str, Any]) -> str:
    """Canonical serialization — ref CAS compares these as strings, so
    every writer must produce byte-identical JSON for equal state."""
    return json.dumps(desc, sort_keys=True, separators=(",", ":"))


def _catalog_owned(root: str) -> bool:
    return _refs_authority(root)[0] != "file"


def _load_descriptor(root: str, name: str) -> dict[str, Any]:
    """The branch descriptor from its AUTHORITY: the catalog ref when
    the table's pointer is catalog-owned (``branch:<name>`` — so the
    existence check and the published flag are CAS-protected,
    cross-host), else the root-local BRANCH.json. A pre-catalog branch
    of a since-adopted table falls back to its file descriptor."""
    if _catalog_owned(root):
        raw = _ref_get(root, f"branch:{name}")
        if raw is not None:
            return json.loads(raw)
    p = _descriptor_path(branch_root(root, name))
    if not os.path.exists(p):
        raise BranchError(f"no branch {name!r} at {root}")
    with open(p) as f:
        return json.load(f)


def _store_descriptor(root: str, name: str, desc: dict[str, Any], old: dict | None) -> None:
    """Descriptor transition ``old -> desc`` under the authority's CAS
    (catalog-owned), mirrored to the local BRANCH.json as a read cache.
    A lost CAS whose current value already equals ``desc`` is an
    idempotent replay; any other loss raises — exactly the raced
    double-publish WAP exists to prevent."""
    if _catalog_owned(root):
        old_raw = None if old is None else _desc_json(old)
        # a legacy file-descriptor branch has no ref yet: first CAS
        # inserts (old=None) even though the caller loaded a dict
        if old is not None and _ref_get(root, f"branch:{name}") is None:
            old_raw = None
        won, cur = _ref_cas(root, f"branch:{name}", old_raw, _desc_json(desc))
        if not won:
            raise BranchError(
                f"branch {name!r} descriptor changed concurrently at {root} "
                f"(current: {cur}) — reload and retry"
            )
    _atomic_write(
        _descriptor_path(branch_root(root, name)),
        json.dumps(desc, indent=1, sort_keys=True),
    )


def create_branch(root: str, name: str) -> str:
    """Create branch ``name`` off ``root``'s CURRENT snapshot; returns
    the branch table's root (write to it with ``snapshot_write``). O(1):
    records the base id, copies nothing. The base is resolved through
    the table's pointer authority (file/sqlite/http), so a branch off a
    catalog-owned table pins the same id every reader would see, and on
    a catalog-owned table the descriptor itself is a catalog ref — two
    hosts creating the same branch name race one insert-if-absent CAS."""
    broot = branch_root(root, name)
    dp = _descriptor_path(broot)
    if os.path.exists(dp) or os.path.isdir(os.path.join(broot, "manifest")):
        raise BranchError(f"branch {name!r} already exists at {root}")
    base = current_snapshot_id(root)
    desc = {"name": name, "base_snapshot": base, "created_at": round(time.time(), 3)}
    if _catalog_owned(root):
        won, cur = _ref_cas(root, f"branch:{name}", None, _desc_json(desc))
        if not won:
            raise BranchError(f"branch {name!r} already exists at {root}")
    os.makedirs(broot, exist_ok=True)
    _atomic_write(dp, json.dumps(desc, indent=1, sort_keys=True))
    return broot


def list_branches(root: str) -> dict[str, dict[str, Any]]:
    """name -> descriptor for every branch of ``root`` (published ones
    included until dropped). Catalog-owned tables list from the catalog
    (authoritative, cross-host), overlaid on any legacy file-descriptor
    branches."""
    out: dict[str, dict[str, Any]] = {}
    bdir = os.path.join(root, _BRANCHES_DIRNAME)
    if os.path.isdir(bdir):
        for name in sorted(os.listdir(bdir)):
            p = _descriptor_path(os.path.join(bdir, name))
            if os.path.exists(p):
                with open(p) as f:
                    out[name] = json.load(f)
    if _catalog_owned(root):
        for name, raw in sorted(_refs_kind(root, "branch").items()):
            out[name] = json.loads(raw)
    return out


def branch_read(
    spark: SparkSession, root: str, name: str, merged: bool = False
) -> DataFrame:
    """The branch's staged content (default), or ``merged=True`` the
    VIEW a reader would see after an append publish: main AS OF the
    branch base unioned with the staged rows — what an audit that needs
    cross-set invariants (doc_id uniqueness across old+new) validates.
    An empty branch reads as zero rows of the base's schema."""
    desc = _load_descriptor(root, name)
    broot = branch_root(root, name)
    bsid = current_snapshot_id(broot)
    base = desc["base_snapshot"]
    staged = None if bsid is None else snapshot_read(spark, broot)
    if not merged:
        if staged is None:
            if base is None:
                raise BranchError(
                    f"branch {name!r} is empty and has no base to take a schema from"
                )
            return snapshot_read(spark, root, snapshot_id=base).limit(0)
        return staged
    base_df = None if base is None else snapshot_read(spark, root, snapshot_id=base)
    if base_df is None and staged is None:
        raise BranchError(f"branch {name!r}: nothing to read (no base, no commits)")
    if base_df is None:
        return staged
    if staged is None:
        return base_df
    return base_df.unionByName(staged, allowMissingColumns=True)


def _already_published(root: str, name: str, head: int, parent: int | None, base) -> bool:
    """Crash-window backstop: walk main's manifests from ``parent`` back
    to the branch base looking for this exact (branch, head) publish —
    catches a publisher that committed on main but died before updating
    the branch descriptor. Bounded by commits since the base; an expired
    manifest ends the walk (history older than retention cannot be
    checked — the same documented hazard class as every retention race)."""
    sid = parent
    stop = base if base is not None else 0
    while sid is not None and sid > stop:
        try:
            m = _load_manifest_raw(root, sid)
        except FileNotFoundError:
            return False
        props = m.get("properties") or {}
        if props.get("published_branch") == name and props.get("published_branch_head") == head:
            return True
        sid = m.get("parent_id")
    return False


def publish_branch(
    root: str,
    name: str,
    mode: str = "append",
    guard=None,
    allow_divergent_base: bool = False,
    properties: dict | None = None,
) -> int:
    """Make the branch's staged content visible on main with one
    metadata-only commit (file entries re-referenced in place — no data
    moves). Returns main's new snapshot id. Raises ``BranchError`` on an
    empty/closed/diverged branch and ``ConcurrentCommitError`` if a main
    writer races the CAS (retry-safe: the branch is untouched on loss)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    desc = _load_descriptor(root, name)
    pre_desc = json.loads(json.dumps(desc))  # CAS `old`: state as loaded
    if desc.get("published"):
        raise BranchError(
            f"branch {name!r} was already published as main snapshot "
            f"{desc['published']['main_sid']} — a branch publishes once "
            f"(its inventory is cumulative); start a new branch"
        )
    broot = branch_root(root, name)
    head = current_snapshot_id(broot)
    if head is None:
        raise BranchError(f"branch {name!r} has no commits — nothing to publish")
    bm = _expand_manifest(broot, _load_manifest_raw(broot, head))
    if bm.get("row_filters"):
        # the publish re-references the branch's RAW files; dropping its
        # pending merge-on-read filters would resurrect the rows they hide
        raise BranchError(
            f"branch {name!r} has merge-on-read delete filter(s) pending — "
            f"run materialize_deletes on the branch, then publish"
        )
    base = desc["base_snapshot"]
    with _SnapshotTxn(root, guard) as txn:
        parent = txn.parent
        if parent != base:
            if mode == "overwrite":
                raise BranchError(
                    f"publish of branch {name!r}: main moved {base} -> {parent} "
                    f"since the branch was cut — an overwrite publish would "
                    f"discard commits nobody audited; re-branch and re-audit"
                )
            if not allow_divergent_base:
                raise BranchError(
                    f"publish of branch {name!r}: main moved {base} -> {parent} "
                    f"since the branch was cut; pass allow_divergent_base=True "
                    f"to rebase this APPEND onto the new head (the audit then "
                    f"vouches only for the staged rows, not the merged view)"
                )
        if _already_published(root, name, head, parent, base):
            raise BranchError(
                f"branch {name!r} head {head} already published on main "
                f"(descriptor update was lost — crash window); drop the branch"
            )
        new_files = []
        for fe in bm["files"]:
            e = _copy_entry(fe)
            ap = _abs_path(broot, fe["path"])
            e["path"] = ap if os.path.isabs(fe["path"]) else os.path.relpath(ap, root)
            new_files.append(e)
        if not new_files and mode == "append":
            raise BranchError(f"branch {name!r}: empty inventory — nothing to append")
        if mode == "append" and txn.parent_raw is not None:
            from pyspark.sql.types import StructType

            _check_append_schema(
                root, txn.parent_raw, StructType.fromJson(json.loads(bm["schema_json"]))
            )
        props = dict(properties or {})
        props.update(
            {"published_branch": name, "published_branch_head": head, "branch_base": base}
        )
        # the branch's files stay where they are: the txn stages nothing
        # of its own, so a lost CAS leaves the branch untouched
        sid = txn.commit_files(mode, new_files, bm, props)
    desc["published"] = {"main_sid": sid, "branch_head": head}
    _store_descriptor(root, name, desc, old=pre_desc)
    return sid


def drop_branch(root: str, name: str, force: bool = False) -> None:
    """Remove a branch. Published: the branch's MANIFESTS and descriptor
    go, its data dirs stay — main's snapshots reference them in place.
    Unpublished with commits: refuses unless ``force`` (staged data
    would be silently discarded); forced or empty, the whole branch dir
    goes."""
    desc = _load_descriptor(root, name)
    broot = branch_root(root, name)

    def _drop_ref() -> None:
        if _catalog_owned(root):
            raw = _ref_get(root, f"branch:{name}")
            if raw is not None:
                _ref_cas(root, f"branch:{name}", raw, None)

    if desc.get("published"):
        shutil.rmtree(os.path.join(broot, "manifest"), ignore_errors=True)
        try:
            os.unlink(_descriptor_path(broot))
        except FileNotFoundError:
            pass  # catalog-authority branch created on another host
        _drop_ref()
        return
    if current_snapshot_id(broot) is not None and not force:
        raise BranchError(
            f"branch {name!r} has unpublished commits — pass force=True to discard"
        )
    shutil.rmtree(broot, ignore_errors=True)
    _drop_ref()


def validate_then_publish(
    spark: SparkSession,
    root: str,
    name: str,
    validator: Callable[[DataFrame], DataFrame],
    mode: str = "append",
    guard=None,
    allow_divergent_base: bool = False,
    audit_merged: bool = False,
) -> tuple[int | None, DataFrame]:
    """The WAP audit gate: run ``validator`` (staged frame -> violation
    frame) over the branch and publish ONLY a clean result. Returns
    (main snapshot id or None, the violation frame) — a dirty branch is
    left on disk for forensics, main untouched. ``audit_merged`` hands
    the validator the post-publish VIEW (base ∪ staged) instead of the
    staged rows alone — the shape cross-set checks (uniqueness against
    already-published docs) need."""
    staged = branch_read(spark, root, name, merged=audit_merged)
    violations = validator(staged)
    if not violations.isEmpty():
        return None, violations
    sid = publish_branch(
        root,
        name,
        mode=mode,
        guard=guard,
        allow_divergent_base=allow_divergent_base,
    )
    return sid, violations
