"""Versioned-manifest snapshot layer over parquet — jar-free V8/V9.

The north-star storage format is Iceberg: snapshot reads give the
read-before-overwrite semantics of oval's worker (a worker GETs and
verifies an object's CURRENT content before overwriting it,
``internal/runner/worker.go:43-75`` in /root/reference), and the
``.files`` metadata table gives the LIST-reconciliation source
(``internal/s3client/s3client.go:253-275``). The Iceberg Spark runtime
jar cannot enter this sandbox (no network, nothing on disk), so this
module re-implements the two load-bearing pieces of that contract the
same way Iceberg itself does — immutable data files + a tiny versioned
metadata tree — with nothing but parquet and JSON:

    <root>/data/snap-<id>/part-*.parquet     immutable data files
    <root>/manifest/v<id>.json               snapshot manifest (file list)
    <root>/manifest/seg-<id>-<uuid>.json     immutable file-list segment
                                             (spilled entries, shared by
                                             reference across manifests)
    <root>/manifest/CURRENT                  pointer to latest id (atomic)

Commit protocol (optimistic, first-wins): every commit is one
``_SnapshotTxn``. It resolves the parent once, allocates the id, writes
the new data files under a writer-PRIVATE snap dir (never touching
previous files and never colliding with a concurrent writer's), then
enters a short metadata critical section held under a pluggable
``CommitGuard`` (``sources/commit_guard.py``): re-read CURRENT, and if
another writer committed since this one resolved its parent, raise
``ConcurrentCommitError`` (the caller retries against the new state).
Otherwise write ``v<id>.json`` (tmp + rename) and flip CURRENT. A
transaction that loses the CAS, raises before it, or exits without
committing removes what it staged — its data dir and spilled segments,
never files it did not stage. Once the CAS fails any OTHER way the
outcome is unknown (the flip may have happened, and the published
manifest may reference those files), so it removes nothing and leaves
real debris to ``vacuum``. The guard covers only the metadata flip —
milliseconds — never the data write. SCOPE: the default ``flock`` guard
excludes writers on ONE host (kernel-released on death; right for
local[] and driver-singleton deployments); the ``dirlock`` guard
extends exclusion to multi-host shared-POSIX (NFS) via an atomic mkdir
lease; the ``sqlite`` guard is the catalog commit — it OWNS the CURRENT
pointer: the flip becomes a conditional ``UPDATE current SET id=?
WHERE id=<parent>`` inside the catalog transaction (rowcount 0 = lost
the race), the CURRENT file demoted to a read-only cache that readers
ignore once the catalog row exists. That is the commit primitive the
100-TB object-store target needs (oval's own store is S3, which has no
atomic rename) and the drop-in shape for a DynamoDB/Nessie conditional
put; it also fences leaky exclusion — a writer whose dirlock lease was
wrongly broken loses the CAS by rowcount instead of racing a rename.
File-pointer commits additionally post-flip-verify their own metadata
bytes before releasing the guard. This first-wins CAS is the semantic
of an Iceberg catalog commit. A reader
resolving any committed snapshot id sees an immutable file list; a
writer killed mid-commit leaves CURRENT pointing at the previous
complete snapshot — same guarantee oval relies on when a killed run
resumes (``internal/runner/runner.go:71-104``). The CURRENT flip is the
single visibility boundary: ``load_manifest`` refuses ids past it and
``snapshot_history`` lists only committed snapshots, so a torn commit's
manifest is never readable and can never "vanish from history" (it was
never in it).

Scale: the manifest holds file-level metadata only (path, rows, bytes —
collected from parquet footers, never by scanning data), so it stays
KB-sized while the data is TB-sized; ``snapshot_read`` hands Spark the
explicit file list and Catalyst prunes columns/filters per file exactly
as for any parquet scan. ``append`` mode reuses the parent's files by
reference — no rewrite, O(new data) like Iceberg's fast append — and
past ``_SEGMENT_SPILL_ENTRIES`` inline entries the accumulated file list
spills into immutable ``seg-*.json`` files that child manifests share BY
REFERENCE (Iceberg's manifest-list/manifest-file split): each append
writes O(added) metadata bytes instead of re-serializing the cumulative
list, and a selective delete/compaction rewrites only the segments it
touched, and ``merge_segments`` compacts fragmented refs back into
full-sized segments in a metadata-only commit the tail verifies with
zero data scans (identical path set ⇒ empty replace equivalence).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ovalspark.session import _empty, _one_row


class SchemaMismatchError(ValueError):
    """An append's schema CONFLICTS with the table's committed schema —
    a committed column dropped, retyped, or reordered. Additive evolution
    is allowed (Iceberg's add-column): an append may carry NEW nullable
    columns after the committed prefix; the commit records the widened
    schema and reads NULL-fill the new columns for older files (the
    snapshot read passes the committed schema explicitly, so column
    presence never depends on which file Spark samples first). Appends
    NARROWER than the committed schema still raise — once widened, every
    writer must carry the full schema; incompatible reshapes evolve via
    an ``overwrite`` commit, which establishes a fresh schema."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this writer resolving its parent
    snapshot and attempting its own commit. The write was NOT applied and
    its data files were removed; re-run the write to retry against the
    new table state (the retry re-reads CURRENT, so an append lands on
    the winner's snapshot and an overwrite replaces it)."""


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _current_path(root: str) -> str:
    return os.path.join(_manifest_dir(root), "CURRENT")


def _manifest_path(root: str, snapshot_id: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{snapshot_id}.json")


def _atomic_write(path: str, payload: str) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".snap-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _catalog_db_path(root: str) -> str:
    return os.path.join(_manifest_dir(root), "catalog.db")


def _catalog_descriptor(root: str) -> dict | None:
    """The table's catalog DESCRIPTOR (``manifest/catalog.json``), or
    None. A descriptor routes pointer + manifest-location resolution and
    the commit CAS to a NETWORK catalog (``sources/http_catalog`` — the
    DynamoDB/Nessie conditional-put shape); without one, the embedded
    sqlite catalog (when adopted) or the CURRENT file rules. The
    descriptor is how a table's commit authority travels across hosts:
    it names the service endpoint and a path-independent table key."""
    p = os.path.join(_manifest_dir(root), "catalog.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _catalog_current(root: str) -> tuple[bool, int | None]:
    """(owned, id): ``owned`` is True iff the table's CURRENT pointer
    lives in a catalog — the network catalog named by the table's
    descriptor, else sqlite (a ``current`` row in
    ``manifest/catalog.db``) — in which case ``id`` is authoritative and
    the CURRENT file is merely a read cache. A catalog.db without the
    row is the pre-adoption state (the sqlite guard used for exclusion
    only) — the file pointer still rules."""
    d = _catalog_descriptor(root)
    if d is not None and d.get("type") == "http":
        from ovalspark.sources import http_catalog as hc

        try:
            return hc.client_current(d["endpoint"], d["key"])
        except hc.CatalogDetachedError:
            # a detach crashed between the server tombstone and the
            # descriptor flip — finish it (idempotent) and route local
            hc.detach_http_catalog(root)
    p = _catalog_db_path(root)
    if not os.path.exists(p):
        return False, None
    import sqlite3

    try:
        con = sqlite3.connect(p, timeout=30.0)
        try:
            row = con.execute("SELECT id FROM current WHERE k='CURRENT'").fetchone()
        finally:
            con.close()
    except sqlite3.OperationalError as e:
        if "no such table" in str(e):
            return False, None
        raise  # locked/corrupt must surface, never silently fall back
    if row is None:
        return False, None
    return True, int(row[0])


def _catalog_cas(root: str, parent: int | None, sid: int, loc: str | None, con=None) -> bool:
    """The catalog-owned commit: inside ONE transaction, record the new
    manifest's LOCATION (``manifests(id, loc)`` — the id column's
    PRIMARY KEY rejects a second manifest for the same sid) and flip the
    pointer with a conditional ``UPDATE current SET id=? WHERE
    id=<parent>`` whose ROWCOUNT decides the winner. This is the commit
    primitive an object-store deployment needs (S3 has no atomic rename;
    it is the drop-in shape for a DynamoDB/Nessie conditional put), and
    recording the manifest location — not just the id — is what makes a
    LEAKY exclusion harmless end to end: every writer publishes its
    manifest under a writer-unique filename, so a loser can neither tear
    the pointer (CAS loses) nor overwrite the winner's manifest (paths
    never collide) nor leave resolvable debris (readers resolve ids
    through the catalog's loc, never by filename guessing).

    Returns True iff this writer won. ``con``: the sqlite guard's held
    transaction (flip and exclusion then commit together at release);
    None opens a short ``BEGIN IMMEDIATE`` of its own (for catalog-owned
    tables committed under a non-catalog guard). ``loc=None`` records no
    manifest row (the adoption path for a pre-existing ``v<sid>.json``).

    A missing ``current`` row is the ADOPTION path: the caller verified
    under its guard that the file pointer equals ``parent``, so the
    first catalog commit INSERTs and from then on the catalog owns the
    pointer.

    A table with an http catalog DESCRIPTOR routes this whole CAS to the
    network service instead (one conditional-put round-trip, durable the
    moment the server replies — ``con`` is ignored: there is no held
    transaction to thread the flip through, and no deferred-COMMIT
    window to compensate)."""
    d = _catalog_descriptor(root)
    if d is not None and d.get("type") == "http":
        from ovalspark.sources import http_catalog as hc

        try:
            return hc.client_cas(d["endpoint"], d["key"], parent, sid, loc)
        except hc.CatalogDetachedError:
            # detach crashed between server tombstone and descriptor
            # flip: finish the flip (idempotent), then commit locally —
            # the writer's parent resolution is still valid (the detach
            # copied the exact pointer it resolved against)
            hc.detach_http_catalog(root)
            return _catalog_cas(root, parent, sid, loc, con)
    import sqlite3

    own = con is None
    if own:
        con = sqlite3.connect(_catalog_db_path(root), timeout=30.0)
        try:
            con.execute("BEGIN IMMEDIATE")
        except sqlite3.OperationalError:
            con.close()
            raise
        # TOCTOU guard: the descriptor was read BEFORE this lock. A
        # catalog migration freezes writers by holding the sqlite write
        # lock and flips the descriptor to http while we were blocked —
        # winning the sqlite CAS now would apply the commit to the
        # shadowed store, invisible to http-routed readers (a lost
        # commit / forked authority). Re-read under the lock, re-route.
        d2 = _catalog_descriptor(root)
        if d2 is not None and d2.get("type") == "http":
            con.execute("ROLLBACK")
            con.close()
            from ovalspark.sources import http_catalog as hc

            return hc.client_cas(d2["endpoint"], d2["key"], parent, sid, loc)
    try:
        con.execute(
            "CREATE TABLE IF NOT EXISTS current "
            "(k TEXT PRIMARY KEY CHECK (k='CURRENT'), id INTEGER NOT NULL)"
        )
        con.execute(
            "CREATE TABLE IF NOT EXISTS manifests (id INTEGER PRIMARY KEY, loc TEXT NOT NULL)"
        )
        row = con.execute("SELECT id FROM current WHERE k='CURRENT'").fetchone()
        flipped = False  # did THIS attempt mutate the pointer row?
        if row is None:
            con.execute("INSERT INTO current (k, id) VALUES ('CURRENT', ?)", (sid,))
            won = flipped = True
        elif parent is None:
            won = False  # writer resolved an empty table but a pointer exists
        else:
            cur = con.execute(
                "UPDATE current SET id=? WHERE k='CURRENT' AND id=?", (sid, parent)
            )
            won = flipped = cur.rowcount == 1
        if won and loc is not None:
            try:
                con.execute("INSERT INTO manifests (id, loc) VALUES (?, ?)", (sid, loc))
            except sqlite3.IntegrityError:
                won = False  # a manifest row for sid already exists
        if not won and flipped and not own:
            # the connection is the GUARD's transaction, which release()
            # will COMMIT regardless — a pointer flip from this failed
            # attempt must be compensated HERE or a half-applied commit
            # (pointer advanced, no manifest row) would be persisted
            if row is None:
                con.execute("DELETE FROM current WHERE k='CURRENT' AND id=?", (sid,))
            else:
                con.execute(
                    "UPDATE current SET id=? WHERE k='CURRENT' AND id=?", (parent, sid)
                )
        if own:
            con.execute("COMMIT" if won else "ROLLBACK")
        return won
    finally:
        if own:
            con.close()


def _catalog_manifest_locs(root: str) -> dict[int, str]:
    """id → manifest filename for every catalog-recorded commit. Empty
    for pre-adoption history / file-pointered tables (those resolve via
    the deterministic ``v<sid>.json``)."""
    d = _catalog_descriptor(root)
    if d is not None and d.get("type") == "http":
        from ovalspark.sources import http_catalog as hc

        return hc.client_manifest_locs(d["endpoint"], d["key"])
    import sqlite3

    p = _catalog_db_path(root)
    if not os.path.exists(p):
        return {}
    try:
        con = sqlite3.connect(p, timeout=30.0)
        try:
            rows = con.execute("SELECT id, loc FROM manifests").fetchall()
        finally:
            con.close()
    except sqlite3.OperationalError as e:
        if "no such table" in str(e):
            return {}
        raise
    return {int(i): loc for i, loc in rows}


def _catalog_manifest_loc(root: str, sid: int) -> str | None:
    """Single-row primary-key lookup of one commit's manifest location —
    O(1) regardless of table history, unlike ``_catalog_manifest_locs``
    (the full dict is for maintenance sweeps only; a tail resolving a few
    manifests per commit must not pay an O(commits) scan per resolve)."""
    d = _catalog_descriptor(root)
    if d is not None and d.get("type") == "http":
        from ovalspark.sources import http_catalog as hc

        return hc.client_manifest_loc(d["endpoint"], d["key"], sid)
    import sqlite3

    p = _catalog_db_path(root)
    if not os.path.exists(p):
        return None
    try:
        con = sqlite3.connect(p, timeout=30.0)
        try:
            row = con.execute("SELECT loc FROM manifests WHERE id=?", (sid,)).fetchone()
        finally:
            con.close()
    except sqlite3.OperationalError as e:
        if "no such table" in str(e):
            return None
        raise
    return None if row is None else row[0]


def _resolve_manifest_path(root: str, sid: int) -> str:
    """The committed manifest file for ``sid``: the catalog-recorded
    location when one exists (catalog-owned commits use writer-unique
    filenames), else the deterministic ``v<sid>.json`` (file-pointered
    tables and pre-adoption history)."""
    loc = _catalog_manifest_loc(root, sid)
    if loc is not None:
        return os.path.join(_manifest_dir(root), loc)
    return _manifest_path(root, sid)


def adopt_catalog_pointer(root: str, guard=None) -> int:
    """Migrate an existing table's CURRENT pointer into the sqlite
    catalog without writing data: after this, every commit (under any
    guard) flips the pointer via the catalog CAS and the CURRENT file is
    a read cache. Returns the adopted snapshot id. Idempotent."""
    from ovalspark.sources.commit_guard import resolve_guard

    g = resolve_guard(guard)
    token = g.acquire(root)
    try:
        owned, cid = _catalog_current(root)
        if owned:
            return cid
        cur = current_snapshot_id(root)
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot at {root}")
        # loc=None: history stays resolvable via the existing v<id>.json
        if not _catalog_cas(root, None, cur, None, token if g.owns_pointer else None):
            # lost the INSERT race (a concurrent adoption under a guard
            # whose exclusion doesn't overlap ours): the catalog row that
            # beat us is now authoritative — return ITS id, never the
            # possibly stale file-pointer value we resolved above
            owned, cid = _catalog_current(root)
            if owned:
                return cid
            # non-owner guards roll the losing txn back; owner guards'
            # held txn sees its own uncommitted state — re-read at release
        return cur
    finally:
        g.release(token)


def _commit_manifest(
    root: str,
    parent: int | None,
    sid: int,
    manifest: dict[str, Any],
    guard=None,
) -> None:
    """The metadata critical section, Spark-free (the two-process race
    test drives it directly): under the commit guard, CAS on CURRENT —
    if the table's parent moved since this writer resolved ``parent``,
    raise ``ConcurrentCommitError``; otherwise publish the manifest and
    flip CURRENT. ``guard`` is a name, instance, or None (env default) —
    see ``sources/commit_guard.resolve_guard``.

    Pointer flip, two regimes. (a) CATALOG-OWNED (the table has a
    ``current`` row in catalog.db, or the guard owns the pointer — the
    sqlite guard adopts on first commit): the flip is a conditional
    UPDATE whose rowcount picks exactly one winner even if the guard's
    exclusion was leaky (a broken dirlock lease); the CURRENT file is
    then rewritten only as a read cache. (b) FILE-OWNED (default local
    deployments): atomic rename, followed by a post-flip verification —
    re-read CURRENT and the manifest bytes before releasing, so a
    concurrent writer that slipped a leaky guard and replaced our
    just-published metadata raises loudly instead of silently losing
    the commit (last-wins would otherwise be invisible)."""
    from ovalspark.sources.commit_guard import resolve_guard

    g = resolve_guard(guard)
    token = g.acquire(root)
    # cache flip deferred past release() for owns-pointer guards: their
    # token IS the open catalog transaction (COMMITted at release), and
    # rewriting the CURRENT read-cache file before that COMMIT is durable
    # would — on the adoption-on-first-commit flow — let a crash or a
    # concurrent reader see CURRENT=sid with NO committed catalog row:
    # resolution falls back to v<sid>.json, which a catalog-owned commit
    # never wrote (writer-unique filenames), wedging the table
    deferred_cache_sid = None
    try:
        if current_snapshot_id(root) != parent:
            raise ConcurrentCommitError(
                f"snapshot {sid} at {root}: parent moved from {parent} to "
                f"{current_snapshot_id(root)} — another writer committed first"
            )
        import time as _time

        # commit wall-clock, recorded once at the flip: age-based
        # retention and audit read this instead of trusting file mtimes
        # (which rsync/restore rewrite)
        manifest.setdefault("committed_at", round(_time.time(), 3))
        payload = json.dumps(manifest, indent=1, sort_keys=True)
        catalog_owned, _ = _catalog_current(root)
        if catalog_owned or g.owns_pointer:
            # writer-unique manifest filename + catalog-recorded location:
            # concurrent writers' manifests can never alias, and a loser's
            # file is safe to unlink (nobody else can reference it)
            loc = f"v{sid}-{uuid.uuid4().hex[:8]}.json"
            mpath = os.path.join(_manifest_dir(root), loc)
            _atomic_write(mpath, payload)
            if not _catalog_cas(root, parent, sid, loc, token if g.owns_pointer else None):
                os.unlink(mpath)
                raise ConcurrentCommitError(
                    f"snapshot {sid} at {root}: catalog pointer CAS lost — "
                    f"another writer committed first"
                )
            if g.owns_pointer:
                deferred_cache_sid = sid  # flip only after release COMMITs
            else:
                # _catalog_cas already COMMITted its own short transaction
                _atomic_write(_current_path(root), str(sid))  # read cache only
        else:
            # a manifest already at sid is debris from a torn commit (its
            # writer died pre-flip; a LIVE writer would hold this guard)
            if os.path.exists(_manifest_path(root, sid)):
                os.unlink(_manifest_path(root, sid))
            _atomic_write(_manifest_path(root, sid), payload)
            _atomic_write(_current_path(root), str(sid))
            if (
                open(_current_path(root)).read().strip() != str(sid)
                or open(_manifest_path(root, sid)).read() != payload
            ):
                raise RuntimeError(
                    f"snapshot {sid} at {root}: post-flip verification failed — "
                    f"a concurrent writer replaced this commit's metadata "
                    f"(guard exclusion was violated, e.g. a broken dirlock "
                    f"lease); use the catalog guard for multi-host writers"
                )
    finally:
        g.release(token)
    if deferred_cache_sid is not None:
        # reached only when release() COMMITted the catalog transaction
        # (its failure propagates above and skips this): the pointer row
        # is durable, so the read cache may now follow it
        _atomic_write(_current_path(root), str(deferred_cache_sid))


def current_snapshot_id(root: str) -> int | None:
    """Latest committed snapshot id, or None for an uninitialized table.
    Resolution order: the sqlite catalog's ``current`` row when the
    table's pointer is catalog-owned (authoritative — survives the
    CURRENT file being stale or deleted), else the CURRENT file."""
    owned, cid = _catalog_current(root)
    if owned:
        return cid
    p = _current_path(root)
    if not os.path.exists(p):
        return None
    return int(open(p).read().strip())


def _load_manifest_raw(root: str, snapshot_id: int | None = None) -> dict[str, Any]:
    """The manifest EXACTLY as committed: ``files`` holds only the inline
    entries; spilled history rides ``file_segments`` refs. Write paths
    (append, delete, compact) work on this form so untouched segments
    carry into the child manifest BY REFERENCE — the O(added)-metadata
    property. Readers want ``load_manifest``."""
    cur = current_snapshot_id(root)
    sid = snapshot_id if snapshot_id is not None else cur
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    # The CURRENT flip is the commit point: a manifest past it belongs to
    # an in-flight or torn commit and must never resolve — otherwise an id
    # becomes readable, then vanishes when the debris is reclaimed.
    if cur is None or sid > cur:
        raise FileNotFoundError(f"snapshot {sid} not committed at {root} (CURRENT={cur})")
    p = _resolve_manifest_path(root, sid)
    if not os.path.exists(p):
        raise FileNotFoundError(f"snapshot {sid} not found at {root}")
    with open(p) as f:
        return json.load(f)


def load_manifest(root: str, snapshot_id: int | None = None) -> dict[str, Any]:
    """A snapshot's manifest with ``files`` EXPANDED to the full entry
    list (segment entries in commit order, then the inline tail) — every
    consumer sees the complete file inventory regardless of how the
    entries are physically stored. The raw ``file_segments`` refs stay on
    the dict for segment-aware callers (vacuum, manifest_diff)."""
    return _expand_manifest(root, _load_manifest_raw(root, snapshot_id))


def _expand_manifest(root: str, m: dict[str, Any]) -> dict[str, Any]:
    """Expand an already-loaded RAW manifest (callers holding one avoid
    a second disk read + JSON parse of the same bytes)."""
    segs = m.get("file_segments")
    if segs:
        files: list[dict[str, Any]] = []
        for ref in segs:
            files.extend(_read_segment(root, ref["loc"]))
        files.extend(m["files"])
        m = dict(m)
        m["files"] = files
    return m


# Append-manifest spill point: once a manifest's INLINE entry list would
# exceed this, the inline entries move into an immutable segment file and
# the child manifest references it — each append then writes O(added)
# metadata bytes plus one path per ~spill entries, instead of re-writing
# the whole cumulative file list (O(total) per commit, O(total²) over a
# table's life: at 10⁶ files × ~200 B/entry every append would rewrite
# 200 MB of JSON). This is Iceberg's manifest-list/manifest-file split
# re-expressed one level up. Tests lower it to force segmentation on
# small tables.
_SEGMENT_SPILL_ENTRIES = 512

# Auto-materialize backstop for STACKED merge-on-read filters: each
# un-materialized delete/upsert appends a row_filters entry, and every
# read of the pre-scope strata then pays every applying filter (keys
# filters share one anti-join, whose build side grows). At a real
# re-ingest cadence (hourly re-crawls) the "transient" window between
# delete and materialization never closes on its own — so when a MoR
# commit would leave at least this many pending filters, the committing
# writer folds them with ``materialize_deletes`` in the same call,
# bounding every read plan at < threshold stacked filters while keeping
# the amortized rewrite cost at 1/threshold per op. Pass
# ``fold_threshold=None`` to the delete/upsert APIs to opt out (e.g. a
# bulk backfill that materializes once at the end).
_ROW_FILTER_FOLD_ENTRIES = 8

# Immutable + uniquely named ⇒ cache never invalidates. Entries are
# copied OUT — including the nested col_stats dicts — so a caller
# mutating m["files"][i] or its stats (tests simulate torn footers that
# way) can't poison later reads served from the cache.
_SEGMENT_CACHE: dict[str, list[dict[str, Any]]] = {}
_SEGMENT_CACHE_MAX = 64


def _copy_entry(e: dict[str, Any]) -> dict[str, Any]:
    out = dict(e)
    cs = out.get("col_stats")
    if cs is not None:
        out["col_stats"] = {c: dict(st) for c, st in cs.items()}
    return out


def _read_segment(root: str, loc: str) -> list[dict[str, Any]]:
    p = os.path.join(_manifest_dir(root), loc)
    entries = _SEGMENT_CACHE.get(p)
    if entries is None:
        with open(p) as f:
            entries = json.load(f)
        if len(_SEGMENT_CACHE) >= _SEGMENT_CACHE_MAX:
            _SEGMENT_CACHE.pop(next(iter(_SEGMENT_CACHE)))
        _SEGMENT_CACHE[p] = entries
    return [_copy_entry(e) for e in entries]


def _spill_segment(root: str, sid: int, entries: list[dict[str, Any]]) -> dict[str, Any]:
    """Persist ``entries`` as an immutable segment file and return its
    manifest ref. The ref carries the aggregate rows/bytes so totals and
    keep-by-reference maintenance never need to expand it. Written BEFORE
    the commit CAS (same lifecycle as data files): a loser's or torn
    commit's segment is unreferenced debris that ``vacuum`` reclaims."""
    loc = f"seg-{sid}-{uuid.uuid4().hex[:8]}.json"
    _atomic_write(os.path.join(_manifest_dir(root), loc), json.dumps(entries))
    ref = {
        "loc": loc,
        "n_files": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "bytes": sum(e["bytes"] for e in entries),
    }
    stats = _segment_ref_stats(entries)
    if stats:
        ref["col_stats"] = stats
    return ref


def _segment_ref_stats(entries: list[dict[str, Any]]) -> dict[str, dict[str, Any]]:
    """Segment-level column bounds: the fold of the member files'
    [min, max] per column, kept only for columns EVERY member has stats
    for — Iceberg's manifest-file partition/column summaries. These let
    ``prune_files`` discard a whole segment from its ref alone: a
    selective range over a 10⁶-file table then reads only the segment
    files whose aggregate bounds overlap, instead of expanding the full
    inventory to inspect per-file stats. A column any member lacks is
    omitted (absence = "cannot prune", same contract as per-file stats);
    a cross-file type clash (never produced by one table, but cheap to
    guard) also drops the column rather than risk a wrong skip."""
    folded: dict[str, dict[str, Any]] = {}
    for i, e in enumerate(entries):
        cs = e.get("col_stats") or {}
        if i == 0:
            folded = {c: {"min": st["min"], "max": st["max"]} for c, st in cs.items()}
            continue
        for c in list(folded):
            st = cs.get(c)
            if st is None:
                del folded[c]
                continue
            cur = folded[c]
            try:
                cur["min"] = min(cur["min"], st["min"])
                cur["max"] = max(cur["max"], st["max"])
            except TypeError:
                del folded[c]
    return folded


def _footer_stats(files: list[str], root: str) -> list[dict[str, Any]]:
    """(path, rows, bytes) per data file from parquet FOOTERS — metadata
    reads only, like Iceberg collecting per-file stats at commit time.

    Paths are stored RELATIVE to the table root: manifests must survive
    the table directory being moved or renamed (atomic staging publishes
    do exactly that — build under <root>.tmp.<pid>, rename to <root>)."""
    import pyarrow.parquet as pq

    out = []
    for p in sorted(files):
        md = pq.ParquetFile(p).metadata
        out.append(
            {
                "path": os.path.relpath(p, root),
                "rows": int(md.num_rows),
                "bytes": int(os.path.getsize(p)),
                "col_stats": _column_stats(md),
            }
        )
    return out


def _column_stats(md) -> dict[str, dict[str, Any]]:
    """Per-column {min, max, nulls} for TOP-LEVEL scalar columns, folded
    across the file's row groups — Iceberg's per-file column bounds, read
    from the same parquet footer the row count comes from (no data scan).
    A column is dropped the moment any row group lacks usable min/max
    (missing stats, NaN, non-JSON-scalar type): absent stats must mean
    "cannot prune", never "prune wrongly"."""
    import math

    stats: dict[str, dict[str, Any]] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:
                continue  # nested leaves can't prune a top-level predicate
            st = col.statistics
            ok = st is not None and st.has_min_max
            if ok:
                try:
                    lo, hi = st.min, st.max
                except Exception:
                    # pyarrow can't extract stats for every physical type
                    # (e.g. decimals) — absent stats mean "cannot prune"
                    ok = False
            if ok:
                ok = (
                    type(lo) in (int, float, str, bool)
                    and type(hi) in (int, float, str, bool)
                    and not (isinstance(lo, float) and math.isnan(lo))
                    and not (isinstance(hi, float) and math.isnan(hi))
                    # bound BOTH ends: a short min with a multi-KB max
                    # would still balloon the manifest per file
                    and not (isinstance(lo, str) and len(lo) > 128)
                    and not (isinstance(hi, str) and len(hi) > 128)
                )
            if not ok:
                dead.add(name)
                stats.pop(name, None)
                continue
            # null_count is OPTIONAL in the parquet spec: once any row
            # group omits it the fold is unknowable — record None (the
            # stats consumer reports unknown), never a fabricated 0
            nulls = int(st.null_count) if st.has_null_count else None
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": lo, "max": hi, "nulls": nulls}
            else:
                cur["min"] = min(cur["min"], lo)
                cur["max"] = max(cur["max"], hi)
                cur["nulls"] = (
                    None if nulls is None or cur["nulls"] is None else cur["nulls"] + nulls
                )
    return stats


def prune_files(
    root: str,
    snapshot_id: int | None = None,
    conditions: list[tuple] | tuple | None = None,
) -> list[str]:
    """Absolute paths of a snapshot's data files that MAY satisfy the
    given range conditions, decided from MANIFEST column stats alone — no
    file is opened. ``conditions``: one or a list of ``(col, lo, hi)``
    (``None`` bound = open); a file survives unless some condition's
    range is provably disjoint from the file's [min, max] for that
    column. Files or columns without recorded stats are always kept
    (metadata absence can only cost a scan, never rows). This is the
    Iceberg manifest-level file skip: at 10⁶ files a selective range
    touches the handful of files whose bounds overlap, without paying
    10⁶ footer opens.

    Two-level on segmented manifests: a segment ref whose AGGREGATE
    bounds (``_segment_ref_stats``, folded at spill time) are provably
    disjoint is skipped without being read — the metadata cost of a
    selective prune is O(refs + surviving segments), not O(table
    inventory). Refs without aggregates (pre-stats segments) expand and
    prune per-file, the conservative path."""
    m = _load_manifest_raw(root, snapshot_id)
    conditions = _norm_conditions(conditions)
    out: list[str] = []
    for ref in m.get("file_segments") or []:
        # a ref carries {col_stats: {col: {min, max}}} — exactly the
        # shape _entry_survives prunes on; a ref without stats survives
        if not _entry_survives(ref, conditions):
            continue
        out.extend(
            _abs_path(root, e["path"])
            for e in _read_segment(root, ref["loc"])
            if _entry_survives(e, conditions)
        )
    out.extend(
        _abs_path(root, f["path"]) for f in m["files"] if _entry_survives(f, conditions)
    )
    return out


def _norm_conditions(conditions) -> list[tuple]:
    if conditions is None:
        return []
    if isinstance(conditions, tuple):
        return [conditions]
    return list(conditions)


def _stats_comparable(a, b) -> bool:
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or (
        isinstance(a, str) and isinstance(b, str)
    )


def _entry_survives(fe: dict[str, Any], conditions: list[tuple]) -> bool:
    """Range-prune one manifest entry (file or segment ref) on its
    recorded column bounds; absent/incomparable stats always survive
    (metadata absence can cost a scan, never rows)."""
    cs = fe.get("col_stats") or {}
    for col, lo, hi in conditions:
        st = cs.get(col)
        if st is None:
            continue  # no stats: cannot prune
        if lo is not None and _stats_comparable(st["max"], lo) and st["max"] < lo:
            return False
        if hi is not None and _stats_comparable(st["min"], hi) and st["min"] > hi:
            return False
    return True


def _abs_path(root: str, path: str) -> str:
    """Resolve a manifest file path: relative entries (current format)
    join the root; absolute entries (pre-relocation manifests) pass
    through."""
    return path if os.path.isabs(path) else os.path.join(root, path)


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes statistic for the plan — metadata only, but
    reached through private ``_jdf`` internals that shift across Spark
    versions, so failures degrade to None (caller falls back to a sampled
    estimate) instead of breaking the commit."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _sampled_size_estimate(df: DataFrame, sample_rows: int = 1024) -> int:
    """Count-based fallback: parquet-encode a small sample to measure real
    bytes/row, scale by the row count. The input must already be
    localCheckpoint'ed (the caller's count/write share that
    materialization; the sample write here reads the same blocks)."""
    import pyarrow.parquet as pq

    rows = df.count()
    if rows == 0:
        return 1
    d = tempfile.mkdtemp(prefix="ovalsnap-est-")
    try:
        df.limit(min(rows, sample_rows)).coalesce(1).write.mode("overwrite").parquet(f"{d}/s")
        parts = glob.glob(f"{d}/s/part-*.parquet")
        sbytes = sum(os.path.getsize(p) for p in parts)
        srows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        return max(1, int(sbytes / max(srows, 1) * rows))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The sound type widenings an append may apply to a committed column —
# exactly Iceberg's permitted promotions (int→long, float→double): every
# committed value is exactly representable in the wider type, so old files
# read back unchanged. Spark 4's parquet readers upcast INT32/FLOAT pages
# into the requested LongType/DoubleType natively (verified for both the
# vectorized top-level path and nested struct/array fields), so no rewrite
# or per-file cast plan is needed — the commit just records the wider type.
_SAFE_PROMOTIONS = {("int", "bigint"), ("float", "double")}


def _is_safe_widening(committed_type, new_type) -> bool:
    """True when ``new_type`` equals ``committed_type`` or widens it via
    ``_SAFE_PROMOTIONS``, recursing through struct fields, array elements,
    and map values (a promotion inside a spans struct — e.g. offset
    int→bigint — is as sound as a top-level one). Struct field NAMES must
    still match exactly; nested structs may not add or drop fields (that
    is a reshape, not a widening)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if committed_type.simpleString() == new_type.simpleString():
        return True
    pair = (committed_type.simpleString(), new_type.simpleString())
    if pair in _SAFE_PROMOTIONS:
        return True
    if isinstance(committed_type, StructType) and isinstance(new_type, StructType):
        if len(committed_type.fields) != len(new_type.fields):
            return False
        return all(
            cf.name == nf.name and _is_safe_widening(cf.dataType, nf.dataType)
            for cf, nf in zip(committed_type.fields, new_type.fields)
        )
    if isinstance(committed_type, ArrayType) and isinstance(new_type, ArrayType):
        return _is_safe_widening(committed_type.elementType, new_type.elementType)
    if isinstance(committed_type, MapType) and isinstance(new_type, MapType):
        return committed_type.keyType.simpleString() == new_type.keyType.simpleString() and (
            _is_safe_widening(committed_type.valueType, new_type.valueType)
        )
    return False


def _check_append_schema(root: str, parent_manifest: dict, schema) -> None:
    """Additive-evolution gate for appends: the committed columns must
    appear as a PREFIX of the append's schema, same names in the same
    order, each type either identical (compared via per-field
    simpleString — parquet read-back flips nullability and producers vary
    metadata; neither should reject a sound append) or a safe widening
    per ``_SAFE_PROMOTIONS`` (int→long, float→double, top-level or
    nested): the commit records the WIDER type and pre-promotion files
    read through Spark's parquet upcast, so a long-lived table can
    outgrow an int column without a rewrite. Columns past the prefix are
    NEW and become nullable in the table regardless of the frame's flag
    (older files read NULL for them — ``_committed_schema`` forces
    nullability at read, so a literal-derived non-nullable column is
    accepted, not lied about). Dropped, reordered, NARROWED (long→int is
    lossy), or otherwise retyped committed columns raise
    ``SchemaMismatchError``."""
    committed_ddl = parent_manifest["schema_ddl"]
    if committed_ddl == schema.simpleString():
        return
    from pyspark.sql.types import StructType

    committed = StructType.fromJson(json.loads(parent_manifest["schema_json"]))
    new_fields = schema.fields
    if len(new_fields) < len(committed.fields):
        dropped = [f.name for f in committed.fields]
        dropped = sorted(set(dropped) - {f.name for f in new_fields}) or dropped
        raise SchemaMismatchError(
            f"append to {root}: committed column(s) {dropped} missing — "
            f"appends may add nullable columns but never drop committed "
            f"ones; reshape via an overwrite commit"
        )
    for cf, nf in zip(committed.fields, new_fields):
        if nf.name != cf.name or not _is_safe_widening(cf.dataType, nf.dataType):
            raise SchemaMismatchError(
                f"append to {root}: column {cf.name!r} "
                f"({cf.dataType.simpleString()}) conflicts with append's "
                f"{nf.name!r} ({nf.dataType.simpleString()}) — committed "
                f"columns must form an identical prefix (types identical "
                f"or safely promoted int→long / float→double; no narrow/"
                f"retype/reorder); reshape via an overwrite commit"
            )


_LAYOUT_KEYS = ("sort_by", "zorder")


def _carry_layout(
    manifest: dict[str, Any],
    parent_m: dict[str, Any] | None,
    op_fields,
    reset_layout: bool,
) -> None:
    """THE carry rule: which table-level declarations a commit inherits
    from its parent manifest. ``op_fields`` names the fields the
    committing op sets itself (a None value counts: it sets the field
    absent).

    The CONSTRAINT contract (``sources/constraints.py``) always carries
    — replacing the data does not void the rules it must satisfy — unless
    the op sets it: ``set_constraints``, ``drop_constraints`` (which must
    not resurrect a dropped contract). ``rollback_table`` keeps CURRENT's,
    which is its parent's, so the default carry is its rule too.

    The DECLARED layout — ``sort_by`` / ``zorder``, like Iceberg's table
    sort order — carries as ONE declaration through every commit that
    does not re-cluster: appends (an unsorted append breaks file
    conformance, not the declaration; ``cluster_incremental`` reads it
    to know which layout to restore), deletes, upserts, materialization,
    segment merges, contract changes. An overwrite or a layout-destroying
    bin-pack compact (``reset_layout``) drops it. An op that sets either
    key itself carries neither: ``sort_rewrite``, ``cluster_incremental``,
    an append passing ``sort_by``, and ``rollback_table`` (which takes
    its target's)."""
    if not parent_m:
        return
    if "constraints" not in op_fields and parent_m.get("constraints"):
        manifest["constraints"] = parent_m["constraints"]
    if reset_layout or any(k in op_fields for k in _LAYOUT_KEYS):
        return
    for k in _LAYOUT_KEYS:
        if parent_m.get(k):
            manifest[k] = parent_m[k]


class _SnapshotTxn:
    """One snapshot commit — the sid / data-dir / spill / CAS / cleanup
    path every write operation shares. An op keeps only what is its own:
    which files it writes and which manifest fields it sets::

        with _SnapshotTxn(root, guard, require_parent=True) as txn:
            new = txn.write(df)  # data/snap-<sid>-<uuid8>
            segs, keep = txn.spill(segs, keep, new)
            return txn.commit("replace", keep + new, segs)

    The parent and ``sid`` are resolved once, at construction; the
    parent's raw manifest is loaded at most once (``parent_raw``). On
    exit without a commit — the body raised, returned early, or lost the
    CAS with ``ConcurrentCommitError`` — the txn removes its data dir and
    every segment it spilled. If the CAS raises anything else the outcome
    is unknown (the flip may have happened and the published manifest
    may reference those files), so nothing is removed. Files an op did
    not stage through the txn are never touched."""

    def __init__(self, root: str, guard=None, require_parent: bool = False):
        self.root = root
        self.guard = guard
        self.parent = current_snapshot_id(root)
        if require_parent and self.parent is None:
            raise FileNotFoundError(f"no committed snapshot at {root}")
        self.sid = 1 if self.parent is None else self.parent + 1
        self._parent_raw: dict[str, Any] | None = None
        self._data_dir: str | None = None
        self._segments: list[str] = []  # locs of the segments this txn spilled
        self._keep = False  # committed, or the CAS outcome is unknown

    def __enter__(self) -> _SnapshotTxn:
        return self

    def __exit__(self, *exc) -> bool:
        if not self._keep:
            if self._data_dir is not None:
                shutil.rmtree(self._data_dir, ignore_errors=True)
            for loc in self._segments:
                try:
                    os.unlink(os.path.join(_manifest_dir(self.root), loc))
                except OSError:
                    pass
        return False

    @property
    def parent_raw(self) -> dict[str, Any] | None:
        """The parent's RAW manifest (None for a first commit)."""
        if self._parent_raw is None and self.parent is not None:
            self._parent_raw = _load_manifest_raw(self.root, self.parent)
        return self._parent_raw

    @property
    def data_dir(self) -> str:
        """The commit's writer-PRIVATE data dir, named on first use:
        concurrent writers racing toward the same sid write disjoint dirs,
        so a loser's files never alias the winner's. A torn commit leaves
        an unreferenced dir — never resolvable once load_manifest refuses
        ids past CURRENT; ``vacuum`` reclaims it."""
        if self._data_dir is None:
            self._data_dir = os.path.join(
                self.root, "data", f"snap-{self.sid}-{uuid.uuid4().hex[:8]}"
            )
        return self._data_dir

    def write(self, df: DataFrame, drop_empty: bool = False) -> list[dict[str, Any]]:
        """Write ``df`` into the data dir; its files' footer entries.
        ``drop_empty`` leaves out files with no rows (a rewrite that
        filtered a whole file away contributes nothing)."""
        df.write.mode("error").parquet(self.data_dir)
        files = _footer_stats(glob.glob(os.path.join(self.data_dir, "part-*.parquet")), self.root)
        return [fe for fe in files if fe["rows"] > 0] if drop_empty else files

    def sidecar(self, name: str, df: DataFrame) -> dict[str, Any]:
        """Write a doc-id sidecar (``df``, one ``doc_id`` column) inside
        the data dir and return its manifest record ``{loc, n_docs}``,
        the row count taken from parquet footers. The leading underscore
        of ``name`` keeps it out of Spark's discovery over the data dir
        (and out of the part-* glob)."""
        import pyarrow.parquet as pq

        d = os.path.join(self.data_dir, name)
        df.write.mode("error").parquet(d)
        n = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(d, "part-*.parquet"))
        )
        return {"loc": os.path.relpath(d, self.root), "n_docs": int(n)}

    def inherit_indexes(self, spark: SparkSession, new_files: list[dict[str, Any]]) -> None:
        """Recompute, for an engine-owned rewrite's files, the sketch and
        bloom columns present on ANY of the parent's entries — maintenance
        never silently degrades the table's sketch or probe coverage (user
        appends choose explicitly via ``sketch_cols``/``bloom_cols``;
        partial coverage is reported, not extrapolated)."""
        sketch: set[str] = set()
        bloom: dict[str, float] = {}  # column -> the finest fpp any entry was built at
        for fe in _expand_manifest(self.root, self.parent_raw)["files"]:
            sketch.update((fe.get("hll") or {}).keys())
            for c, meta in (fe.get("bloom") or {}).items():
                bloom[c] = min(bloom.get(c, 1.0), meta.get("fpp", _BLOOM_FPP))
        if sketch:
            _attach_sketches(spark, self.root, new_files, sorted(sketch))
        for fpp in sorted(set(bloom.values())):
            _attach_blooms(spark, self.root, new_files, sorted(c for c in bloom if bloom[c] == fpp), fpp)

    def segment(self, entries: list[dict[str, Any]]) -> dict[str, Any]:
        """Spill ``entries`` into a segment owned by this txn."""
        ref = _spill_segment(self.root, self.sid, entries)
        self._segments.append(ref["loc"])
        return ref

    def spill(
        self, segments, carried: list[dict[str, Any]], new: list[dict[str, Any]]
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """The one spill rule: when carried inline entries exist and
        carried + new would exceed ``_SEGMENT_SPILL_ENTRIES``, the carried
        entries become one segment. Returns ``(segments, carried)`` — the
        op lists ``carried + new`` inline."""
        if carried and len(carried) + len(new) > _SEGMENT_SPILL_ENTRIES:
            return list(segments) + [self.segment(carried)], []
        return list(segments), list(carried)

    def commit_files(
        self,
        mode: str,
        new_files: list[dict[str, Any]],
        schema,
        properties: dict | None = None,
        **fields,
    ) -> int:
        """Commit ``new_files`` as an ``overwrite`` (they are the whole
        table) or an ``append`` (O(added) metadata: the parent's segments
        carry BY REFERENCE and its inline tail is concatenated until it
        spills — an append never re-serializes the cumulative file list).
        Pending merge-on-read filters carry VERBATIM on append: their
        scopes name files by path (stable under the spill) and segments by
        immutable loc, so the appended files are outside every scope and
        new rows matching an old delete predicate are not deleted."""
        p = self.parent_raw if mode == "append" else None
        segments: list[dict[str, Any]] = []
        carried: list[dict[str, Any]] = []
        filters = total_rows = None
        if p is not None:
            segments, carried = self.spill(p.get("file_segments") or [], p["files"], new_files)
            filters = p.get("row_filters") or None
            if filters:
                # entry rows are PHYSICAL; with filters pending the logical
                # count is the parent's (net of MoR deletes) plus the append
                total_rows = p["total_rows"] + sum(f["rows"] for f in new_files)
        return self.commit(
            mode,
            carried + new_files,
            segments,
            schema=schema,
            total_rows=total_rows,
            reset_layout=mode != "append",
            row_filters=filters,
            properties=dict(properties) if properties else None,
            **fields,
        )

    def commit(
        self,
        operation: str,
        files: list[dict[str, Any]],
        segments=(),
        *,
        schema=None,
        total_rows: int | None = None,
        reset_layout: bool = False,
        **fields,
    ) -> int:
        """Assemble the manifest and CAS it in; returns the new id.
        ``schema``: a StructType, or a manifest whose recorded schema is
        taken (default: the parent's). Totals are the physical sums over
        ``segments`` and ``files``; ``total_rows`` overrides with the
        logical count where pending row filters hide rows. ``fields`` are
        the op's own keys, set verbatim except that None omits one (a
        Column-predicate delete still records ``delete_predicate`` null).
        Constraints and layout follow ``_carry_layout``. The CAS is the
        module's ``_commit_manifest``, looked up at call time."""
        src = self.parent_raw if schema is None else schema
        if isinstance(src, dict):
            ddl, sjson = src["schema_ddl"], src["schema_json"]
        else:
            ddl, sjson = src.simpleString(), src.json()
        segments = list(segments)
        m = {
            "snapshot_id": self.sid,
            "parent_id": self.parent,
            "operation": operation,
            "schema_ddl": ddl,
            "schema_json": sjson,
            "total_rows": total_rows
            if total_rows is not None
            else sum(s["rows"] for s in segments) + sum(f["rows"] for f in files),
            "total_bytes": sum(s["bytes"] for s in segments) + sum(f["bytes"] for f in files),
            "files": files,
        }
        if segments:
            m["file_segments"] = segments
        _carry_layout(m, self.parent_raw, fields, reset_layout)
        m.update((k, v) for k, v in fields.items() if v is not None or k == "delete_predicate")
        try:
            _commit_manifest(self.root, self.parent, self.sid, m, self.guard)
        except ConcurrentCommitError:
            raise
        except BaseException:
            self._keep = True  # outcome unknown: the flip may have happened
            raise
        self._keep = True
        return self.sid


def snapshot_write(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    target_file_mb: int | None = None,
    guard=None,
    expect: DataFrame | None = None,
    properties: dict | None = None,
    sort_by: list[str] | str | None = None,
    sketch_cols: list[str] | str | None = None,
    bloom_cols: list[str] | str | None = None,
    bloom_fpp: float = 0.01,
) -> int:
    """Commit ``df`` as a new snapshot; returns the new snapshot id.

    ``bloom_cols`` — attach a per-file Bloom membership filter for each
    named column (one extra scan of the new files; bitmap sidecars
    written executor-side into the commit's data dir): ``point_lookup``
    then skips files from metadata on EQUALITY probes over columns the
    table is not clustered on — the case where min/max bounds prune
    nothing. ``bloom_fpp`` sizes the bitmaps (~1.2 MB per million rows
    at the default 1%). Maintenance rewrites inherit coverage.

    ``sort_by`` — cluster the commit's files on the given column(s):
    range-partition + within-partition sort, recorded in the manifest.
    The point of clustering is PRUNING: per-file bounds become disjoint,
    so a point/range read over the sort key plans O(selected) files at
    any table size (``sort_rewrite`` re-clusters a whole table later).

    ``sketch_cols`` — attach a per-file HyperLogLog sketch of each named
    column to the manifest entries (one extra scan of the new files):
    ``manifest_ndv`` then folds whole-table approx-distinct from
    METADATA alone, and ``uniqueness_screen`` turns that into a
    zero-data-scan duplicate pre-check. ~1–2 KB per column per file.

    ``overwrite`` — the new snapshot's file list is just the new files
    (previous files stay on disk, readable through older snapshot ids:
    the V8 guarantee). ``append`` — parent's files plus the new ones, by
    reference (no rewrite).

    Concurrency: optimistic first-wins (module doc). The data write goes
    to a writer-private dir; the commit itself is a CAS on CURRENT under
    a short pluggable guard (``guard`` — name/instance/None for the
    ``OVALSPARK_COMMIT_GUARD`` env default ``flock``; scope per
    ``sources/commit_guard``). If another writer committed first, this
    raises ``ConcurrentCommitError`` after removing this writer's data
    files — retry to re-resolve the parent. A loser can therefore never
    silently overwrite a winner's manifest (the round-3 last-wins hole).

    ``target_file_mb`` sizes output files (oval's multipart-threshold
    analog, ``internal/s3client/s3client.go`` multipart sizing; Iceberg's
    write.target-file-size-bytes): the incoming data is repartitioned to
    ceil(estimated_bytes / target). With a parent snapshot the estimate
    is parent bytes-per-row × row count — the input is localCheckpoint'ed
    so the count and the write share ONE upstream execution; a first
    commit uses the plan's sizeInBytes statistic (metadata only) and, if
    that private API is unavailable, a parquet-encoded sample's bytes/row
    × row count. Without it, the upstream partitioning decides file count.

    ``expect`` — the writer's EXPECTED document set for this commit (any
    frame with a ``doc_id`` column): persisted as a parquet sidecar
    inside the commit's data dir and recorded in the manifest
    (``expect.loc`` + ``expect.n_docs``), making the commit
    self-describing for downstream validators — a tailer without the
    writer's in-memory catalog can still reconcile LOST_DOC (a doc the
    writer promised but never wrote) from the manifest alone
    (``read_expected_docs``). The sidecar is O(commit's doc count)
    and shares the data dir's lifecycle (vacuum/retention-safe).

    ``properties`` — small writer-supplied key/values recorded verbatim
    in the manifest (Iceberg snapshot-summary shape). The load-bearing
    use: ``TableSet.save`` pins the catalog table's snapshot id into the
    docs commit (``catalog_snapshot_id``), so a tailer validates each
    docs commit against the catalog GENERATION that described it — the
    two-commit save is no longer an atomicity window the tail can
    observe (oval's one-file ExecutionContext checkpoint,
    internal/runner/runner.go:250-273, re-expressed as cross-table
    manifest metadata). Keep it to scalars: this rides the manifest
    JSON, read on every resolution.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if sort_by is not None and isinstance(sort_by, str):
        sort_by = [sort_by]
    if sort_by:
        missing = [c for c in sort_by if c not in df.columns]
        if missing:
            raise ValueError(f"sort_by column(s) {missing} not in frame {df.columns}")
    if bloom_cols is not None and isinstance(bloom_cols, str):
        bloom_cols = [bloom_cols]
    if bloom_cols:
        missing = [c for c in bloom_cols if c not in df.columns]
        if missing:
            raise ValueError(f"bloom_cols column(s) {missing} not in frame {df.columns}")
        if not 0 < bloom_fpp < 1:
            raise ValueError(f"bloom_fpp must be in (0, 1), got {bloom_fpp}")
    with _SnapshotTxn(root, guard) as txn:
        pm = txn.parent_raw
        if mode == "append" and pm is not None:
            _check_append_schema(root, pm, df.schema)
        n_files = None
        if target_file_mb is not None:
            est_bytes = None
            if pm is not None and pm["total_rows"]:
                # the row count needs one materialization of the incoming
                # plan — checkpoint first so the count reads materialized
                # blocks and the parquet write below reuses them (ONE
                # upstream execution total, not two)
                df = df.localCheckpoint()
                est_bytes = int(pm["total_bytes"] / pm["total_rows"] * df.count())
            if est_bytes is None:
                est_bytes = _plan_size_estimate(df)
            if est_bytes is None:
                df = df.localCheckpoint()
                est_bytes = _sampled_size_estimate(df)
            n_files = max(1, -(-est_bytes // (target_file_mb * 1024 * 1024)))
        if sort_by:
            # CLUSTERED layout: range-partition on the sort key so per-file
            # [min, max] footer bounds are (near-)disjoint — a point/range
            # prune then touches O(selected range) files instead of O(all)
            # (every file of a hash/random layout spans the whole key range,
            # making min/max skipping useless on high-cardinality keys). The
            # within-partition sort additionally tightens parquet row-group
            # stats for scan-time skipping.
            if n_files is None:
                n_files = df.rdd.getNumPartitions() or 1
            df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
        elif n_files is not None:
            df = df.repartition(n_files)
        new_files = txn.write(df)
        if pm is not None and pm.get("constraints"):
            # commit-time contract enforcement: O(staged) — footer stats
            # first, one pushdown scan of the staged files for the rest;
            # raises ConstraintViolationError on a violation (constraints.py
            # module doc). Runs BEFORE the sketch/bloom scans so a refused
            # commit never pays them.
            from ovalspark.sources.constraints import _enforce_staged

            _enforce_staged(df.sparkSession, root, pm, new_files, txn.data_dir, mode)
        if sketch_cols:
            _attach_sketches(df.sparkSession, root, new_files, sketch_cols)
        if bloom_cols:
            _attach_blooms(df.sparkSession, root, new_files, bloom_cols, bloom_fpp)
        extra: dict[str, Any] = {}
        if expect is not None:
            extra["expect"] = txn.sidecar("_expect", expect.select("doc_id"))
        if sort_by:
            # informational + audit: which key this COMMIT's files cluster on
            extra["sort_by"] = list(sort_by)
        return txn.commit_files(mode, new_files, df.schema, properties, **extra)


def commit_staged_files(
    root: str,
    paths: list[str],
    schema,
    mode: str = "append",
    properties: dict | None = None,
    guard=None,
) -> int:
    """Commit ALREADY-WRITTEN parquet files as a new snapshot — the
    driver-side, Spark-free half of ``snapshot_write`` for writers whose
    data was produced elsewhere (the streaming sink's executors, an
    external ingest job): footer stats from the files' own metadata, the
    same append-schema gate, segment carry, and guarded CAS. ``paths``
    must live under ``root`` (entries are stored relative); ``schema``
    is the table schema the files conform to (a StructType). Returns the
    new snapshot id; on ``ConcurrentCommitError`` the files' parent dirs
    are NOT removed (the caller owns their lifecycle — a streaming sink
    retries the whole batch)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if not paths:
        raise ValueError("commit_staged_files requires at least one file")
    with _SnapshotTxn(root, guard) as txn:
        if mode == "append" and txn.parent_raw is not None:
            _check_append_schema(root, txn.parent_raw, schema)
        return txn.commit_files(mode, _footer_stats(list(paths), root), schema, properties)


def read_expected_docs(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame | None:
    """The writer-recorded expected doc set of a commit (``doc_id``
    frame), or None when the commit recorded none. This is what makes a
    tailer self-contained for LOST_DOC: the manifest names the docs the
    writer promised, so a commit that wrote fewer than it promised is
    caught without any caller-supplied catalog."""
    m = load_manifest(root, snapshot_id)
    exp = m.get("expect")
    if exp is None:
        return None
    return spark.read.parquet(_abs_path(root, exp["loc"]))


def read_deleted_docs(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame | None:
    """The writer-recorded deleted doc set of a Column-predicate DELETE
    commit (``doc_id`` frame), or None when the commit recorded none
    (SQL-string deletes carry the re-checkable predicate instead). The
    expect sidecar's inverse: what the writer promised to REMOVE."""
    m = load_manifest(root, snapshot_id)
    dd = m.get("deleted_docs")
    if dd is None:
        return None
    return spark.read.parquet(_abs_path(root, dd["loc"]))


def _partition_metadata(
    root: str, raw_m: dict[str, Any], affected: set[str]
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Split a raw manifest's file metadata around a rewrite (delete /
    compact): returns ``(kept_segments, kept_loose_entries)`` — segment
    refs containing NO affected basename carry into the child manifest
    untouched (O(1) metadata each), segments containing one are expanded
    and their unaffected entries join the loose list alongside the
    unaffected inline entries. Affected entries are dropped (the caller
    re-adds their rewritten successors)."""
    kept_segs: list[dict[str, Any]] = []
    loose: list[dict[str, Any]] = []
    for ref in raw_m.get("file_segments") or []:
        entries = _read_segment(root, ref["loc"])
        if any(os.path.basename(e["path"]) in affected for e in entries):
            loose.extend(e for e in entries if os.path.basename(e["path"]) not in affected)
        else:
            kept_segs.append(ref)
    loose.extend(e for e in raw_m["files"] if os.path.basename(e["path"]) not in affected)
    return kept_segs, loose


def _file_basename(col):
    # manifest stores OS paths, input_file_name() yields file: URIs whose
    # root/encoding need not match textually; the part-file BASENAME is
    # globally unique (Spark embeds a per-write UUID) and survives both
    return F.element_at(F.split(F.url_decode(col), "/"), -1)


def _delete_discovery_frame(spark: SparkSession, paths: list[str], pred, schema=None) -> DataFrame:
    """The affected-file discovery scan: distinct basenames of files with
    predicate-TRUE rows. Plain ``filter(pred)`` on purpose — identical
    semantics to pred-IS-TRUE (filter drops NULLs) and, unlike a
    ``coalesce(pred, false)`` wrapper, it reaches the parquet scan as
    PushedFilters so row-group stats skip non-matching files cheaply
    (plan-asserted in tests/test_plan_shape.py). ``schema``: the
    committed schema, so a predicate on a post-evolution column
    null-matches (and keeps) pre-evolution files instead of failing
    analysis on whichever file inference sampled."""
    r = spark.read if schema is None else spark.read.schema(schema)
    return (
        r.parquet(*paths)
        .filter(pred)
        .select(_file_basename(F.input_file_name()).alias("_f"))
        .distinct()
    )


def snapshot_delete(
    spark: SparkSession,
    root: str,
    predicate,
    guard=None,
    prune: list[tuple] | tuple | None = None,
    discovery_cap: int | None = None,
    strategy: str = "copy-on-write",
    fold_threshold: int | None = _ROW_FILTER_FOLD_ENTRIES,
) -> int:
    """Predicate delete as a NEW snapshot (oval's DELETE op re-expressed
    at table granularity, ``internal/runner/worker.go`` delete path; the
    S5 analog for shrinking tables): rewrite ONLY the data files that
    contain matching rows — discovered by one pushdown-filtered scan
    projecting nothing but ``input_file_name()`` — and carry every other
    file over BY REFERENCE. Cost is O(affected files), not O(table);
    a delete touching 1 of 10⁶ files rewrites 1 file. Old snapshots
    still resolve both states (time travel shows the rows before the
    delete). Returns the new snapshot id, or the CURRENT id unchanged
    when nothing matches (no empty commit).

    ``predicate`` is a Column or SQL string selecting rows to DELETE.
    Rows where it evaluates NULL are kept (same as SQL ``DELETE WHERE``:
    only predicate-TRUE rows go). The manifest records the operation as
    ``delete`` with ``deleted_rows``, which keeps such commits out of
    the tail's append-only span batching and lets delta validation treat
    the rewritten files as the commit's scope — no false LOST_DOC for
    rows that legitimately went away (tests/test_snapshots.py).

    ``strategy`` — ``copy-on-write`` (default, the behavior above) or
    ``merge-on-read``: commit the delete as METADATA ONLY (a row filter
    carried in the manifest, applied by ``snapshot_read``) — zero data
    files rewritten, the Iceberg MoR delete-file idea re-expressed at
    the predicate level. See ``_snapshot_delete_mor`` for the scope
    discipline and ``materialize_deletes`` for paying the deferred
    rewrite. MoR requires a SQL-string predicate (a Column has no
    faithful serialization to re-apply at read time)."""
    from pyspark.sql import Column

    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"strategy must be copy-on-write|merge-on-read, got {strategy!r}")
    if strategy == "merge-on-read":
        if isinstance(predicate, Column):
            raise ValueError(
                "merge-on-read deletes require a SQL-string predicate (a "
                "Column expression cannot be serialized into the manifest "
                "for re-application at read time); pass SQL or use "
                "strategy='copy-on-write'"
            )
        return _snapshot_delete_mor(
            spark,
            root,
            str(predicate),
            guard=guard,
            prune=prune,
            fold_threshold=fold_threshold,
        )
    if discovery_cap is not None and discovery_cap < 1:
        # cap=-1 would make limit(cap+1)=limit(0) return NO hit rows: the
        # delete would silently report "nothing matched" while matching
        # rows survive — invalid maintenance values must raise loudly
        raise ValueError(f"discovery_cap must be >= 1, got {discovery_cap}")
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        parent = txn.parent
        m = _expand_manifest(root, txn.parent_raw)
        if m.get("row_filters"):
            # a CoW rewrite reads affected files RAW and re-emits survivors
            # as new files outside every pending filter's scope — previously
            # MoR-deleted rows in those files would silently RESURRECT
            raise ValueError(
                f"table at {root} has {len(m['row_filters'])} merge-on-read "
                f"delete filter(s) pending — a copy-on-write delete would "
                f"resurrect MoR-deleted rows in the files it rewrites; run "
                f"materialize_deletes first, or stack another "
                f"strategy='merge-on-read' delete"
            )
        if prune is not None:
            # caller-supplied range bounds implied by the predicate: the
            # discovery scan opens only files whose manifest column bounds
            # overlap (prune_files) — at 10⁶ files a range-shaped delete
            # discovers against a handful of files, not the table. Sound
            # only if the ranges really cover the predicate; the caller owns
            # that claim (there is no general predicate→range analyzer here).
            paths = prune_files(root, parent, prune)
        else:
            paths = [_abs_path(root, f["path"]) for f in m["files"]]
        if not paths:
            return parent
        pred_sql = None if isinstance(predicate, Column) else str(predicate)
        pred = predicate if isinstance(predicate, Column) else F.expr(predicate)
        # Bounded discovery: the affected-basename set lives on the DRIVER,
        # so cap what gets collected — limit(cap+1) bounds the transfer in
        # the same single scan. Overflow means more than half the scanned
        # files contain matches (a delete-everything-shaped predicate): skip
        # the name set entirely and rewrite every scanned file — at that hit
        # rate at least half needed rewriting anyway (≤2× the selective IO),
        # and the driver never builds a set proportional to the table.
        # ``discovery_cap`` overrides the default max(1000, half the scanned
        # files) — deployments with tight driver memory can lower it.
        cap = discovery_cap if discovery_cap is not None else max(1000, len(paths) // 2)
        hit_rows = (
            _delete_discovery_frame(spark, paths, pred, _committed_schema(m))
            .limit(cap + 1)
            .collect()
        )
        # survivors = NOT(pred IS TRUE): rows where pred is NULL are KEPT
        # (SQL DELETE semantics), so THIS side genuinely needs the coalesce
        hit = F.coalesce(pred.cast("boolean"), F.lit(False))
        if not hit_rows:
            return parent
        if len(hit_rows) > cap:
            affected = {os.path.basename(p) for p in paths}
            rewrite = list(paths)
        else:
            affected = {r["_f"] for r in hit_rows}
            rewrite = [
                _abs_path(root, f["path"])
                for f in m["files"]
                if os.path.basename(f["path"]) in affected
            ]
        # child metadata from the RAW parent: segments untouched by the
        # rewrite carry by reference, so a selective delete writes O(affected
        # + segments) manifest bytes, not O(table)
        kept_segs, keep = _partition_metadata(root, txn.parent_raw, affected)
        # committed schema on the rewrite read: a delete across an additive
        # schema evolution must not NARROW the rewritten files to whatever
        # pre-evolution shape inference sampled
        survivors = spark.read.schema(_committed_schema(m)).parquet(*rewrite).filter(~hit)
        new_files = txn.write(survivors, drop_empty=True)
        segments, keep = txn.spill(kept_segs, keep, new_files)
        deleted_docs = None
        if pred_sql is None and "doc_id" in survivors.columns:
            # A Column predicate cannot be re-evaluated later, which would
            # leave this commit the ONE delete the tail cannot read-back
            # verify (oval's delete path always verifies,
            # internal/runner/worker.go:191-232). Persist the matched
            # doc_id set instead — the expect-sidecar mechanism, inverted:
            # the manifest names the docs the writer claims to have removed,
            # and verification becomes a semi-join of survivors against the
            # set, self-contained with no predicate. O(deleted rows) extra
            # IO, one more pushdown-filtered scan of the already-affected
            # files. Exact for doc_id-keyed tables (this library's data
            # model); a multi-row-per-doc table partially deleted by the
            # predicate would over-report — such callers should pass SQL.
            deleted_docs = txn.sidecar(
                "_deleted",
                spark.read.schema(_committed_schema(m))
                .parquet(*rewrite)
                # plain filter(pred), not the coalesce wrapper: same rows
                # (filter drops NULLs) and it reaches the scan as
                # PushedFilters — the _delete_discovery_frame reasoning
                .filter(pred)
                .select(F.col("doc_id").cast("string").alias("doc_id")),
            )
        files = keep + new_files
        kept_rows = sum(s["rows"] for s in segments) + sum(f["rows"] for f in files)
        return txn.commit(
            "delete",
            files,
            segments,
            schema=survivors.schema,
            deleted_rows=m["total_rows"] - kept_rows,
            # SQL-string predicates are recorded so the commit is auditable
            # and re-checkable (validate_delete's read-back); Column
            # predicates have no faithful serialization — recorded as None
            delete_predicate=pred_sql,
            deleted_docs=deleted_docs,
        )


def _maybe_fold_filters(
    spark: SparkSession, root: str, sid: int, n_filters: int, guard, threshold
) -> int:
    """The ``_ROW_FILTER_FOLD_ENTRIES`` backstop: when a MoR commit left
    ``n_filters`` >= threshold pending row filters, pay the deferred
    rewrite now (one extra commit) so read plans stay bounded. A raced
    fold loses its CAS harmlessly — the MoR commit itself stands and the
    next committing writer retries the fold."""
    if threshold is None or n_filters < threshold:
        return sid
    try:
        return materialize_deletes(spark, root, guard=guard)
    except ConcurrentCommitError:
        return sid


def _snapshot_delete_mor(
    spark: SparkSession,
    root: str,
    pred_sql: str,
    guard=None,
    prune: list[tuple] | tuple | None = None,
    fold_threshold: int | None = _ROW_FILTER_FOLD_ENTRIES,
) -> int:
    """Merge-on-read delete: a METADATA-ONLY commit. The child manifest
    carries the parent's file inventory untouched plus a ``row_filters``
    entry — the SQL predicate and its SCOPE (which files existed when
    the delete committed) — that ``snapshot_read`` applies as a plain
    JVM filter (pending keys filters all share one join per read, see
    ``_read_strata``). Zero data bytes move; the deferred rewrite is paid once
    by ``materialize_deletes`` (or never, if retention outlives the
    data). This is the right delete shape at 100 TB: a predicate
    touching half the table's files costs O(matched keys) IO here vs a
    full rewrite under copy-on-write.

    SCOPE DISCIPLINE (the correctness core): the filter must apply ONLY
    to files present at delete time — a row appended LATER that happens
    to match the predicate is NOT deleted (Iceberg expresses the same
    rule with sequence numbers). Scope is recorded as {parent's segment
    locs} + {parent's inline file paths}; membership at read time is
    (file's segment loc ∈ scope.segments) OR (file path ∈ scope.files).
    Both survive every later layout change that preserves file paths:
    an inline→segment spill moves entries whose PATHS stay in
    scope.files, and shared segments carry their locs. The one
    reorganizer that breaks loc identity — ``merge_segments`` — refuses
    while filters are pending. If the parent's inline list is large the
    commit spills it into a segment FIRST, so a scope is always O(refs
    + ≤spill-bound paths), never O(table).

    The matched set is computed against the parent's FILTERED view
    (``snapshot_read`` — stacked MoR deletes must not re-count rows an
    earlier filter already removed); matched ``doc_id``s persist as the
    same ``_deleted`` sidecar the CoW path writes, so CDC retractions
    and ``validate_delete`` read-back work identically under either
    strategy. ``prune`` bounds the matched-set scan (caller-owned
    soundness claim, as in CoW) — the filter itself needs no pruning,
    it is scoped by construction. Zero matches commit nothing."""
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        m_raw = txn.parent_raw
        # matched rows = live rows (earlier filters applied) where pred IS
        # TRUE — filter(pred) drops NULL-predicate rows, SQL DELETE semantics
        live_matched = snapshot_read(
            spark, root, snapshot_id=txn.parent, prune=prune
        ).filter(F.expr(pred_sql))
        deleted_docs = None
        if "doc_id" in {f["name"] for f in json.loads(m_raw["schema_json"])["fields"]}:
            deleted_docs = txn.sidecar(
                "_deleted", live_matched.select(F.col("doc_id").cast("string").alias("doc_id"))
            )
            matched = deleted_docs["n_docs"]
        else:
            matched = live_matched.count()
        if matched == 0:
            return txn.parent
        # keep every scope O(refs + bounded paths): a wide inline list
        # (e.g. a single overwrite that wrote the whole table) would
        # otherwise be copied into this and every later manifest's scope
        segments, inline = txn.spill(m_raw.get("file_segments") or [], m_raw["files"], [])
        scope = {
            "segments": [ref["loc"] for ref in segments],
            "files": [f["path"] for f in inline],
        }
        row_filters = list(m_raw.get("row_filters") or [])
        row_filters.append(
            {"pred": pred_sql, "scope": scope, "sid": txn.sid, "deleted_rows": int(matched)}
        )
        sid = txn.commit(
            "delete",
            inline,
            segments,
            # logical rows; total_bytes stays physical (nothing rewritten) —
            # logical bytes shrink only at materialization, on purpose
            total_rows=m_raw["total_rows"] - int(matched),
            deleted_rows=int(matched),
            delete_predicate=pred_sql,
            mor=True,
            row_filters=row_filters,
            deleted_docs=deleted_docs,
        )
    return _maybe_fold_filters(spark, root, sid, len(row_filters), guard, fold_threshold)


def _expand_with_provenance(
    root: str, m: dict[str, Any]
) -> list[tuple[dict[str, Any], str | None]]:
    """(entry, containing segment loc | None-for-inline) for every file
    of a raw manifest — the shape row-filter scope membership needs."""
    out: list[tuple[dict[str, Any], str | None]] = []
    for ref in m.get("file_segments") or []:
        for e in _read_segment(root, ref["loc"]):
            out.append((e, ref["loc"]))
    for f in m["files"]:
        out.append((f, None))
    return out


def _filter_groups(
    root: str, m: dict[str, Any], prune: list[tuple] | tuple | None
) -> dict[tuple[int, ...], list[str]]:
    """Group a MoR manifest's (optionally range-pruned) files by the
    tuple of row-filter indices that apply to each — the read plan's
    strata. Typically 2 groups: pre-delete files (filtered) and
    post-delete appends (not).

    Two-level pruning holds INSIDE the merge-on-read window: a segment
    ref whose folded bounds are provably disjoint from the prune range
    is skipped without being read — sound regardless of filter scope,
    since scope membership only decides which filters apply to files
    that ARE read, and a fully-pruned segment contributes none. So a
    pruned read during the filter window costs O(refs + surviving
    segments) metadata, the same as the normal read path."""
    conditions = _norm_conditions(prune)
    scopes = [
        (set(f["scope"].get("segments") or []), set(f["scope"].get("files") or []))
        for f in m["row_filters"]
    ]
    groups: dict[tuple[int, ...], list[str]] = {}

    def _add(e: dict[str, Any], loc: str | None) -> None:
        if conditions and not _entry_survives(e, conditions):
            return
        sig = tuple(
            i
            for i, (segs, fls) in enumerate(scopes)
            if (loc is not None and loc in segs) or e["path"] in fls
        )
        groups.setdefault(sig, []).append(_abs_path(root, e["path"]))

    for ref in m.get("file_segments") or []:
        if conditions and not _entry_survives(ref, conditions):
            continue  # aggregate bounds disjoint: skip the whole segment
        for e in _read_segment(root, ref["loc"]):
            _add(e, ref["loc"])
    for f in m["files"]:
        _add(f, None)
    return groups


_STRATUM_COL = "_ovalspark_stratum"


def _read_keys_sidecar(spark: SparkSession, root: str, f: dict[str, Any]) -> DataFrame:
    """A keys-kind filter's sidecar, key column only, read at an explicit
    schema: the key's type comes from one part file's parquet footer on
    the driver, so no Spark schema-inference job runs per filter."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    loc = _abs_path(root, f["loc"])
    part = min(glob.glob(os.path.join(loc, "part-*.parquet")))
    dtype = from_arrow_type(pq.read_schema(part).field(f["key"]).type)
    return spark.read.schema(StructType([StructField(f["key"], dtype)])).parquet(loc)


def _read_strata(
    spark: SparkSession,
    root: str,
    filters: list[dict],
    strata: dict[tuple[int, ...], list[str]],
    schema,
) -> DataFrame:
    """The stratified MoR read of ``strata`` ({filter indices: paths},
    as ``_filter_groups`` builds them). Each stratum is one parquet scan
    with its SQL-kind filters as plain JVM filters (pushdown-eligible).
    Keys-kind filters cost ONE anti-join per key column, however many
    are pending: the covered strata are tagged with their index and
    unioned, and the build side is the union of the applicable sidecars,
    each tagged with every stratum its scope covers. Strata no keys
    filter covers bypass the join; NULL keys never match."""
    plain: list[DataFrame] = []
    keyed: list[DataFrame] = []
    covers: dict[int, list[int]] = {}  # keys filter index -> stratum indices
    for k, (sig, paths) in enumerate(sorted(strata.items())):
        df = spark.read.schema(schema).parquet(*paths)
        for i in sig:
            f = filters[i]
            if f.get("kind") == "keys":
                covers.setdefault(i, []).append(k)
            else:  # "sql" (the default for pre-kind manifests)
                # NOT(pred IS TRUE): NULL-predicate rows were KEPT by the delete
                df = df.filter(~F.coalesce(F.expr(f["pred"]).cast("boolean"), F.lit(False)))
        if any(i in covers for i in sig):
            keyed.append(df.withColumn(_STRATUM_COL, F.lit(k)))
        else:
            plain.append(df)
    if keyed:
        df = reduce(DataFrame.unionByName, keyed)
        for key in sorted({filters[i]["key"] for i in covers}):
            build = reduce(
                DataFrame.unionByName,
                [
                    _read_keys_sidecar(spark, root, filters[i]).select(
                        F.col(key).alias("_k"),
                        F.explode(F.array(*[F.lit(s) for s in ks])).alias("_s"),
                    )
                    for i, ks in sorted(covers.items())
                    if filters[i]["key"] == key
                ],
            )
            # anti-join as outer join + IS NULL: Spark would push a
            # left_anti join into every union branch, each with its own
            # filter-specialized copy of the build side (one broadcast job
            # per stratum); a matched row has a non-NULL _k
            on = (df[key] == build["_k"]) & (df[_STRATUM_COL] == build["_s"])
            df = df.join(build, on, "left").filter(F.col("_k").isNull()).drop("_k", "_s")
        plain.append(df.drop(_STRATUM_COL))
    if not plain:
        return _empty(spark, schema)
    return reduce(DataFrame.unionByName, plain)


def _read_with_filters(
    spark: SparkSession, root: str, m: dict[str, Any], prune
) -> DataFrame:
    """The MoR read of a manifest with pending ``row_filters``:
    ``_read_strata`` over its (optionally range-pruned) strata, so
    pending keys filters cost one join per read, not one per stratum and
    filter. ``_filter_groups`` prunes two-level, so a selective read in
    the filter window stays O(refs + surviving segments) metadata."""
    return _read_strata(
        spark, root, m["row_filters"], _filter_groups(root, m, prune), _committed_schema(m)
    )


def snapshot_upsert(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str = "doc_id",
    guard=None,
    fold_threshold: int | None = _ROW_FILTER_FOLD_ENTRIES,
) -> int:
    """MERGE-by-key in ONE commit, O(staged) cost — the re-ingest shape
    a training-data pipeline needs (re-crawled/corrected documents
    replacing their previous generation): every staged row is inserted,
    and any LIVE row whose ``key`` matches a staged key is logically
    deleted, via a keys-kind row filter (merge-on-read) scoped to the
    files that existed before this commit. Zero pre-existing files are
    rewritten; the matched keys persist as an ``_upsert_keys`` parquet
    sidecar that CDC retracts from and the read path anti-joins (all
    pending keys filters share ONE join per read, not one per stratum
    and filter). ``materialize_deletes`` folds the filter away like any
    MoR delete.

    The staged frame must be UNIQUE on ``key`` and carry no NULL key —
    two staged rows with one key would both survive, which is never what
    merge means, and a NULL key can never match (SQL equality, in the
    merge and in the read path's keys anti-join), so a re-upserted NULL
    would stack generations instead of replacing one. A merge key is
    total (entity integrity). Both checks raise ``ValueError`` before
    anything is staged — including on the bootstrap commit (no parent),
    which otherwise degrades to a plain overwrite. Staged schema passes
    the same additive-evolution gate as an append. Zero staged rows
    commit nothing.

    Read-back obligation (oval's write-then-verify at merge
    granularity): after the commit, each staged key resolves to EXACTLY
    the staged generation — ``operators.incremental.validate_upsert``
    checks multiplicity per key, and the tail runs it on every upsert
    commit it follows."""
    if key not in df.columns:
        raise ValueError(f"upsert key {key!r} not in staged columns {df.columns}")
    # one upstream execution for the write + the key scans below
    df = df.localCheckpoint()
    n_staged, n_keys, n_null = df.agg(
        F.count(F.lit(1)),
        F.count_distinct(key),
        F.count(F.when(F.col(key).isNull(), 1)),
    ).first()
    if n_null:
        raise ValueError(
            f"upsert to {root}: {n_null} staged row(s) have a NULL {key!r} — "
            f"a merge key must be non-NULL (a NULL key never matches, so its "
            f"previous generation could never be replaced)"
        )
    # key-uniqueness is part of the merge CONTRACT, not a property of
    # the table state — enforce it on the bootstrap commit too, or a
    # duplicate-keyed frame commits silently on an empty table and
    # raises on a non-empty one
    if n_keys != n_staged:
        raise ValueError(
            f"upsert to {root}: staged frame has {n_staged} rows but only "
            f"{n_keys} distinct {key!r} values — merge requires key-unique "
            f"staging (deduplicate first)"
        )
    with _SnapshotTxn(root, guard) as txn:
        if txn.parent is None:
            return snapshot_write(df, root, mode="overwrite", guard=guard)
        if n_staged == 0:
            return txn.parent
        m_raw = txn.parent_raw
        _check_append_schema(root, m_raw, df.schema)
        new_files = txn.write(df)
        if m_raw.get("constraints"):
            # merge enforcement covers the STAGED rows (not_null/range/check).
            # A `unique` constraint whose key columns CONTAIN the upsert key
            # needs no cross-check: the staged frame is key-unique (above) —
            # so any tuple containing the key is staged-unique — and the
            # merge retracts every matched live key, so a colliding parent
            # row would share the upsert key and is retracted. A unique
            # constraint on OTHER columns (e.g. unique email, upsert keyed
            # on doc_id) gets the full check below: staged-internal dups +
            # staged keys vs the SURVIVING parent rows (matched keys are
            # retracted by this commit, so they are excluded).
            from ovalspark.sources.constraints import (
                ConstraintViolationError,
                _all_notnull,
                _enforce_staged,
                _key_cols,
                _unique_violations,
            )

            _enforce_staged(
                spark, root, m_raw, new_files, txn.data_dir, "append",
                kinds=("not_null", "range", "check", "ref", "drift"),
            )
            other_uniques = [
                c
                for c in m_raw["constraints"]
                if c.get("enforce", True)
                and c["kind"] == "unique"
                and key not in _key_cols(c)
            ]
            for c in other_uniques:
                kcols = _key_cols(c)
                missing = [k for k in kcols if k not in df.columns]
                if missing:
                    raise ConstraintViolationError(
                        f"upsert drops constrained column(s) {missing!r} "
                        f"({c['name']}) — drop_constraints first",
                        [{"constraint": c["name"], "violated_rows": 0}],
                    )
                dups = _unique_violations(df, kcols)
                hits = 0
                if not dups:
                    # bounds-prune the parent read to the staged key range —
                    # same shape as the append path's vs-parent probe: a
                    # parent file whose recorded bounds miss the staged range
                    # on any key column cannot hold a collision (pruning is a
                    # superset guarantee; the join is the exact predicate)
                    b = df.agg(
                        *[
                            e
                            for j, x in enumerate(kcols)
                            for e in (F.min(x).alias(f"_l{j}"), F.max(x).alias(f"_h{j}"))
                        ]
                    ).collect()[0]
                    conds = [(x, b[f"_l{j}"], b[f"_h{j}"]) for j, x in enumerate(kcols)]
                    prune = conds if all(lo is not None for _, lo, _hi in conds) else None
                    surviving = (
                        snapshot_read(spark, root, snapshot_id=txn.parent, prune=prune)
                        .join(df.select(key), key, "left_anti")
                        .select(*kcols)
                    )
                    staged_keys = df.select(*kcols).where(_all_notnull(kcols)).distinct()
                    hits = surviving.join(staged_keys, on=kcols, how="inner").count()
                if dups or hits:
                    raise ConstraintViolationError(
                        f"staged data violates enforced constraint(s): "
                        f"{c['name']}={dups or hits} — nothing was committed",
                        [{"constraint": c["name"], "violated_rows": int(dups or hits)}],
                    )
        txn.inherit_indexes(spark, new_files)

        # matched = LIVE old-generation rows being replaced (earlier MoR
        # filters already applied via snapshot_read); per-key counts make
        # the replaced-row total exact even for non-unique old data
        keys_dir = os.path.join(txn.data_dir, "_upsert_keys")
        matched = (
            snapshot_read(spark, root, snapshot_id=txn.parent)
            .join(df.select(key), key, "left_semi")
            .groupBy(key)
            .agg(F.count("*").alias("n_replaced"))
        )
        matched.write.mode("error").parquet(keys_dir)
        matched_rows, n_matched_keys = (  # typed read-back: no inference job
            spark.read.schema(matched.schema).parquet(keys_dir)
            .agg(F.coalesce(F.sum("n_replaced"), F.lit(0)), F.count(F.lit(1))).first()
        )

        segments, inline = txn.spill(m_raw.get("file_segments") or [], m_raw["files"], new_files)
        row_filters = list(m_raw.get("row_filters") or [])
        if matched_rows:
            row_filters.append(
                {
                    "kind": "keys",
                    "key": key,
                    "loc": os.path.relpath(keys_dir, root),
                    "n_keys": int(n_matched_keys),
                    "scope": {
                        "segments": [ref["loc"] for ref in segments],
                        "files": [f["path"] for f in inline],
                    },
                    "sid": txn.sid,
                    "deleted_rows": int(matched_rows),
                }
            )
        sid = txn.commit(
            "upsert",
            inline + new_files,
            segments,
            # the staged schema passed the additive gate: same-or-wider, and
            # like an append the commit records the WIDER shape
            schema=df.schema,
            total_rows=m_raw["total_rows"] - int(matched_rows) + n_staged,
            upsert_key=key,
            upsert_keys={
                "loc": os.path.relpath(keys_dir, root),
                "n_staged": int(n_staged),
                "n_replaced": int(matched_rows),
            },
            row_filters=row_filters or None,
        )
    return _maybe_fold_filters(spark, root, sid, len(row_filters), guard, fold_threshold)


def materialize_deletes(
    spark: SparkSession,
    root: str,
    guard=None,
    target_file_mb: int = 128,
) -> int:
    """Pay the merge-on-read debt: rewrite exactly the files some pending
    row filter applies to (each stratum filtered by ITS filters), carry
    every untouched file/segment by reference, and commit a ``replace``
    snapshot with NO ``row_filters`` — after which compaction, segment
    merging and copy-on-write deletes are available again. Returns the
    new snapshot id (or the parent when no filters are pending). Time
    travel to pre-materialization ids still applies their filters."""
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        m_raw = txn.parent_raw
        filters = m_raw.get("row_filters")
        if not filters:
            return txn.parent
        groups = _filter_groups(root, m_raw, None)
        keep_paths = set(groups.pop((), []))
        # untouched segments (every entry unfiltered) carry by reference;
        # everything else (filtered entries + inline keeps) lands inline
        kept_segs: list[dict[str, Any]] = []
        keep_inline: list[dict[str, Any]] = []
        for ref in m_raw.get("file_segments") or []:
            entries = _read_segment(root, ref["loc"])
            if all(_abs_path(root, e["path"]) in keep_paths for e in entries):
                kept_segs.append(ref)
            else:
                keep_inline.extend(
                    e for e in entries if _abs_path(root, e["path"]) in keep_paths
                )
        keep_inline.extend(f for f in m_raw["files"] if _abs_path(root, f["path"]) in keep_paths)
        new_files: list[dict[str, Any]] = []
        if groups:
            bytes_by_path = {
                _abs_path(root, e["path"]): e["bytes"]
                for e, _ in _expand_with_provenance(root, m_raw)
            }
            # pre-delete sizes: an upper bound, only used to pick a file count
            rewrite_bytes = sum(bytes_by_path[p] for paths in groups.values() for p in paths)
            n_files = max(1, -(-rewrite_bytes // (target_file_mb * 1024 * 1024)))
            rewritten = _read_strata(spark, root, filters, groups, _committed_schema(m_raw))
            new_files = txn.write(rewritten.repartition(n_files), drop_empty=True)
            txn.inherit_indexes(spark, new_files)
        segments, keep = txn.spill(kept_segs, keep_inline, new_files)
        return txn.commit(
            "replace", keep + new_files, segments, materialized_filters=len(filters)
        )


_SKETCH_LGK = 11  # HLL lgConfigK: ~1 KB binary per sketch, ±~2.3% NDV error


def _attach_sketches(
    spark: SparkSession, root: str, new_files: list[dict[str, Any]], cols: list[str] | str
) -> None:
    """Attach per-file HyperLogLog sketches (hex, Apache DataSketches via
    Spark's hll_sketch_agg) to manifest entries — one grouped scan of the
    just-written files; NULLs are not counted (matching count_distinct)."""
    if isinstance(cols, str):
        cols = [cols]
    if not new_files:
        return
    paths = [_abs_path(root, fe["path"]) for fe in new_files]
    rows = (
        spark.read.parquet(*paths)
        .groupBy(F.url_decode(F.input_file_name()).alias("_f"))
        .agg(*[F.hex(F.hll_sketch_agg(c, F.lit(_SKETCH_LGK))).alias(c) for c in cols])
        .collect()
    )
    by_base = {os.path.basename(r["_f"]): r for r in rows}
    for fe in new_files:
        r = by_base.get(os.path.basename(fe["path"]))
        if r is not None:
            fe["hll"] = {c: r[c] for c in cols if r[c] is not None}


_BLOOM_H2_SALT = "ovalspark:bloom:h2"
_BLOOM_FPP = 0.01  # snapshot_write's default bloom_fpp; recorded in an entry only when it differs


def _attach_blooms(
    spark: SparkSession,
    root: str,
    new_files: list[dict[str, Any]],
    cols: list[str] | str,
    fpp: float = _BLOOM_FPP,
) -> None:
    """Attach per-file Bloom membership filters for ``cols`` to manifest
    entries — the equality-probe complement of min/max bounds: a point
    lookup on a column the table is NOT clustered on can still skip
    files from metadata. One grouped Arrow pass over the just-written
    files ships two JVM xxhash64 values per row (Kirsch–Mitzenmacher
    double hashing derives all k probe positions from them); each
    bitmap is built AND written to its ``_blooms/`` sidecar by the
    executor holding the group, so the driver never materializes a
    bitmap — at a 1000-file commit that is 1000 sidecar writes spread
    across the cluster, not a 1 GB driver collect. Sidecars live inside
    the commit's data dir (vacuum/retention lifecycle of the data files
    they describe); the manifest entry records {loc, m, k, dtype} per
    column, ~100 bytes, plus the ``fpp`` it was sized for when that is
    not the default (so a rewrite rebuilds it at the same rate). NULLs
    are excluded (equality never matches
    NULL); an all-NULL file records m=0, which the probe reads as
    "provably absent"."""
    if isinstance(cols, str):
        cols = [cols]
    if not new_files or not cols:
        return
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    paths = [_abs_path(root, fe["path"]) for fe in new_files]
    df = spark.read.parquet(*paths)
    dtypes = {c: df.schema[c].dataType.simpleString() for c in cols}
    sel = [F.url_decode(F.input_file_name()).alias("_f")]
    for i, c in enumerate(cols):
        sel += [
            F.coalesce(F.xxhash64(F.col(c)), F.lit(0)).alias(f"_h1_{i}"),
            F.coalesce(F.xxhash64(F.col(c), F.lit(_BLOOM_H2_SALT)), F.lit(0)).alias(
                f"_h2_{i}"
            ),
            F.col(c).isNull().alias(f"_n_{i}"),
        ]
    hashed = df.select(*sel)
    col_list = list(cols)
    the_fpp = float(fpp)

    def _build(pdf):
        # self-contained closure (cloudpickles by value; executors don't
        # need ovalspark on PYTHONPATH)
        import math
        import os as _os

        import numpy as np
        import pandas as _pd

        path = pdf["_f"].iloc[0]
        if path.startswith("file:"):
            path = _os.path.normpath(path[len("file:"):])
        bloom_dir = _os.path.join(_os.path.dirname(path), "_blooms")
        _os.makedirs(bloom_dir, exist_ok=True)
        base = _os.path.basename(path)
        out = []
        for i, c in enumerate(col_list):
            mask = ~pdf[f"_n_{i}"].to_numpy(dtype=bool)
            h1 = pdf[f"_h1_{i}"].to_numpy(dtype=np.int64)[mask].astype(np.uint64)
            n = int(h1.shape[0])
            if n == 0:
                m, k = 0, 1
                loc = ""
            else:
                m = int(math.ceil(-n * math.log(the_fpp) / (math.log(2) ** 2)))
                m = (m + 63) // 64 * 64
                k = max(1, round(m / n * math.log(2)))
                h2 = pdf[f"_h2_{i}"].to_numpy(dtype=np.int64)[mask].astype(np.uint64)
                bits = np.zeros(m // 8, dtype=np.uint8)
                for j in range(k):
                    pos = (h1 + np.uint64(j) * h2) % np.uint64(m)
                    np.bitwise_or.at(
                        bits,
                        (pos >> np.uint64(3)).astype(np.int64),
                        np.left_shift(
                            np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                        ),
                    )
                loc = _os.path.join(bloom_dir, f"{base}.{c}.bloom")
                tmp = loc + ".tmp"
                with open(tmp, "wb") as f:
                    f.write(bits.tobytes())
                _os.replace(tmp, loc)
            out.append((base, c, loc, m, k, n))
        return _pd.DataFrame(
            out, columns=["file", "col", "loc", "m", "k", "n"]
        )

    rows = (
        hashed.groupBy("_f")
        .applyInPandas(_build, "file string, col string, loc string, m long, k int, n long")
        .collect()
    )
    by_file: dict[str, dict[str, dict[str, Any]]] = {}
    for r in rows:
        by_file.setdefault(r["file"], {})[r["col"]] = {
            "loc": os.path.relpath(r["loc"], root) if r["loc"] else "",
            "m": int(r["m"]),
            "k": int(r["k"]),
            "dtype": dtypes[r["col"]],
            **({} if the_fpp == _BLOOM_FPP else {"fpp": the_fpp}),
        }
    for fe in new_files:
        meta = by_file.get(os.path.basename(fe["path"]))
        if meta:
            fe.setdefault("bloom", {}).update(meta)


def _probe_hashes(spark: SparkSession, value, dtype: str) -> tuple[int, int]:
    """The probe value's (h1, h2) computed by the SAME JVM xxhash64
    expressions the write side used, cast to the column's committed
    type — a Python reimplementation of Spark's hash would be a silent
    correctness cliff. Over a one-row local relation the optimizer folds
    them on the driver: no Spark job."""
    row = (
        _one_row(spark)
        .select(
            F.xxhash64(F.lit(value).cast(dtype)).alias("h1"),
            F.xxhash64(F.lit(value).cast(dtype), F.lit(_BLOOM_H2_SALT)).alias("h2"),
        )
        .collect()[0]
    )
    return int(row["h1"]), int(row["h2"])


def _bloom_might_contain(blob: bytes, m: int, k: int, h1: int, h2: int) -> bool:
    u64 = (1 << 64) - 1
    h1 &= u64
    h2 &= u64
    for j in range(k):
        pos = (h1 + j * h2 & u64) % m
        if not blob[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def point_lookup_files(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    snapshot_id: int | None = None,
) -> list[str]:
    """Absolute paths of the snapshot's data files that MAY contain
    ``col = value``, decided from metadata: min/max bounds first (free),
    then per-file Bloom sidecars for the survivors. On a column the
    table is NOT clustered on, bounds prune nothing and the Bloom layer
    is what turns a needle-in-100-TB probe into O(true matches + fpp ·
    files) file reads. Files without a Bloom for ``col`` always survive
    (absence can cost a scan, never rows — the same contract as absent
    column stats). Probing is distributed when the candidate set is
    large: a Spark job reads sidecars executor-side instead of the
    driver looping over a million small files."""
    if value is None:
        raise ValueError("point lookup on NULL is not an equality probe")
    m_raw = _load_manifest_raw(root, snapshot_id)
    entries = _expand_manifest(root, m_raw)["files"]
    candidates = [fe for fe in entries if _entry_survives(fe, [(col, value, value)])]
    # hashes are computed PER RECORDED DTYPE: xxhash64 hashes the
    # physical type, so a bloom built before an int→bigint promotion
    # only matches a probe hashed at the OLD width — one cached pair per
    # dtype, never a single pair assumed table-wide
    hashes: dict[str, tuple[int, int]] = {}
    probes: list[tuple[str, str, int, int, int, int]] = []  # path, loc, m, k, h1, h2
    out: list[str] = []
    for fe in candidates:
        meta = (fe.get("bloom") or {}).get(col)
        if meta is None:
            out.append(_abs_path(root, fe["path"]))  # no bloom: cannot prune
        elif meta["m"] == 0:
            continue  # all-NULL file: provably absent
        else:
            dt = meta["dtype"]
            if dt not in hashes:
                hashes[dt] = _probe_hashes(spark, value, dt)
            h1, h2 = hashes[dt]
            probes.append(
                (_abs_path(root, fe["path"]), _abs_path(root, meta["loc"]),
                 meta["m"], meta["k"], h1, h2)
            )
    if not probes:
        return out
    if len(probes) <= 64:
        for path, loc, m, k, h1, h2 in probes:
            with open(loc, "rb") as f:
                blob = f.read()
            if _bloom_might_contain(blob, m, k, h1, h2):
                out.append(path)
        return out

    def _probe(it):
        # self-contained closure, executor-side sidecar reads
        import pandas as _pd

        u64 = (1 << 64) - 1
        for pdf in it:
            keep = []
            for path, loc, m, k, h1, h2 in zip(
                pdf["path"], pdf["loc"], pdf["m"], pdf["k"], pdf["h1"], pdf["h2"]
            ):
                with open(loc, "rb") as f:
                    blob = f.read()
                hit = True
                for j in range(int(k)):
                    pos = (int(h1) + j * int(h2) & u64) % int(m)
                    if not blob[pos >> 3] & (1 << (pos & 7)):
                        hit = False
                        break
                if hit:
                    keep.append(path)
            yield _pd.DataFrame({"path": keep})

    pdf = spark.createDataFrame(
        probes, "path string, loc string, m long, k int, h1 long, h2 long"
    )
    out.extend(
        r["path"] for r in pdf.mapInPandas(_probe, "path string").collect()
    )
    return out


def point_lookup(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read exactly the rows with ``col = value``, scanning only the
    files ``point_lookup_files`` could not rule out from metadata."""
    m_raw = _load_manifest_raw(root, snapshot_id)
    if m_raw.get("row_filters"):
        # the stratified MoR read applies scoped filters per file — a
        # path-subset read here would silently resurrect hidden rows
        df = _read_with_filters(spark, root, m_raw, (col, value, value))
        return df.filter(F.col(col) == F.lit(value))
    paths = point_lookup_files(spark, root, col, value, m_raw["snapshot_id"])
    schema = _committed_schema(m_raw)
    if not paths:
        return _empty(spark, schema)
    return (
        spark.read.schema(schema)
        .parquet(*paths)
        .filter(F.col(col) == F.lit(value))
    )


def manifest_ndv(
    spark: SparkSession,
    root: str,
    cols: list[str] | str | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Whole-table approximate-distinct per column from MANIFEST sketches
    alone — zero data files opened: (col, ndv_estimate, rows_covered,
    n_rows, coverage). ``coverage`` < 1.0 means some files carry no
    sketch for that column (committed without ``sketch_cols``) — the
    estimate then covers only the sketched fraction and is reported as
    such, never silently extrapolated. The fold is one tiny Spark job
    over O(files) sketch rows (~1 KB each): at 10⁶ files that is ~1 GB
    of metadata aggregation against a 100-TB scan it replaces."""
    if isinstance(cols, str):
        cols = [cols]
    m = load_manifest(root, snapshot_id)
    if m.get("row_filters"):
        raise ValueError(
            f"table at {root} has merge-on-read delete filter(s) pending — "
            f"file-level sketches describe PHYSICAL rows; materialize first"
        )
    rows = []
    totals: dict[str, int] = {}
    n_rows = m["total_rows"]
    for fe in m["files"]:
        for c, sk in (fe.get("hll") or {}).items():
            if cols is not None and c not in cols:
                continue
            rows.append((c, sk, fe["rows"]))
            totals[c] = totals.get(c, 0) + fe["rows"]
    out_schema = (
        "col string, ndv_estimate long, rows_covered long, n_rows long, coverage double"
    )
    if not rows:
        return _empty(spark, out_schema)
    sdf = spark.createDataFrame(rows, "col string, sk string, file_rows long")
    est = sdf.groupBy("col").agg(
        F.round(
            F.hll_sketch_estimate(F.hll_union_agg(F.unhex("sk"), F.lit(True)))
        ).cast("long").alias("ndv_estimate"),
        F.sum("file_rows").alias("rows_covered"),
    )
    return est.select(
        "col",
        "ndv_estimate",
        "rows_covered",
        F.lit(n_rows).cast("long").alias("n_rows"),
        (F.col("rows_covered") / F.lit(max(n_rows, 1))).alias("coverage"),
    )


def uniqueness_screen(
    spark: SparkSession,
    root: str,
    col: str = "doc_id",
    snapshot_id: int | None = None,
    tolerance: float = 0.05,
) -> dict[str, Any]:
    """Zero-data-scan duplicate PRE-CHECK from manifest sketches: fold
    the per-file HLL union and compare the estimate to the physical row
    count. Verdicts: ``violation`` (rows exceed the estimate by more
    than ``tolerance`` — duplicates are statistically certain; run the
    exact check to name them), ``pass_screen`` (estimate ≈ rows —
    uniqueness PLAUSIBLE; a screen can never certify it, sketches are
    approximate), ``unknown`` (some files unsketched). This is the A1
    'uniqueness via salted groupBy' (operators/uniqueness.py) demoted to
    a metadata triage step: at 100 TB the full shuffle runs only when —
    or where — the screen says it must."""
    row = manifest_ndv(spark, root, cols=[col], snapshot_id=snapshot_id).collect()
    if not row:
        return {"col": col, "verdict": "unknown", "reason": "no sketches recorded"}
    r = row[0]
    if r["coverage"] < 0.999999:
        return {
            "col": col,
            "verdict": "unknown",
            "reason": f"coverage {r['coverage']:.3f} < 1.0 (unsketched files)",
            "ndv_estimate": r["ndv_estimate"],
            "rows_covered": r["rows_covered"],
        }
    dup_excess = r["n_rows"] - r["ndv_estimate"]
    verdict = "violation" if r["n_rows"] > r["ndv_estimate"] * (1 + tolerance) else "pass_screen"
    return {
        "col": col,
        "verdict": verdict,
        "ndv_estimate": int(r["ndv_estimate"]),
        "n_rows": int(r["n_rows"]),
        "duplicate_excess_estimate": int(max(0, dup_excess)),
    }


def _zvalue_expr(scaled: list, bits: int = 16):
    """Interleave the low ``bits`` of each scaled column into one Morton
    (Z-order) value — pure JVM bit expressions, whole-stage-codegen
    friendly. ``scaled`` are long columns already normalized to
    [0, 2^bits)."""
    k = len(scaled)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return z


def sort_rewrite(
    spark: SparkSession,
    root: str,
    sort_by: list[str] | str | None = None,
    target_file_mb: int = 128,
    guard=None,
    zorder: list[str] | None = None,
) -> int:
    """Re-cluster the WHOLE table on ``sort_by`` as one ``replace``
    commit — Iceberg's sort-order rewrite: range-partition + sort, files
    sized to ``target_file_mb``. This is the maintenance op that makes a
    hash-laid-out table point-lookup-able (disjoint per-file bounds →
    ``prune_files`` plans O(selected) files), and it reads through
    ``snapshot_read``, so pending merge-on-read filters are APPLIED and
    cleared — one pass pays materialization and clustering together.
    Deliberately O(table) IO: a full rewrite is the only way to global
    clustering; run it at the cadence the lookup workload justifies.

    ``zorder`` (instead of ``sort_by``) interleaves 2–4 NUMERIC columns
    into a Morton curve and clusters on that: per-file bounds then
    tighten on EVERY interleaved dimension, so range prunes on any one
    of them skip files — the multi-dimensional case lexicographic sort
    cannot serve (its second column's bounds span everything). Columns
    are normalized to ``min(16, 63 // k)`` bits between their p0.1/p99.9
    quantile bounds (outlier-robust; one column-pruned aggregate pass);
    date/timestamp columns z-order through their epoch form."""
    if isinstance(sort_by, str):
        sort_by = [sort_by]
    if (sort_by is None) == (zorder is None):
        raise ValueError("pass exactly one of sort_by or zorder")
    if zorder is not None and not 2 <= len(zorder) <= 4:
        raise ValueError(f"zorder takes 2-4 columns, got {len(zorder)}")
    if target_file_mb < 1:
        raise ValueError(f"target_file_mb must be >= 1, got {target_file_mb}")
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        m_raw = txn.parent_raw
        cluster_cols = list(sort_by or zorder)
        missing = [
            c for c in cluster_cols
            if c not in {f["name"] for f in json.loads(m_raw["schema_json"])["fields"]}
        ]
        if missing:
            raise ValueError(f"cluster column(s) {missing} not in table schema")
        n_files = max(1, -(-m_raw["total_bytes"] // (target_file_mb * 1024 * 1024)))
        df = snapshot_read(spark, root, snapshot_id=txn.parent)
        if zorder is not None:
            for c in zorder:
                if not df.schema[c].dataType.simpleString() in (
                    "tinyint", "smallint", "int", "bigint", "float", "double", "date",
                    "timestamp", "decimal",
                ) and not df.schema[c].dataType.simpleString().startswith("decimal"):
                    raise ValueError(
                        f"zorder column {c!r} is {df.schema[c].dataType.simpleString()} "
                        f"— z-ordering needs ORDERED NUMERIC columns (hashing a "
                        f"string would destroy the locality the curve exists for)"
                    )
            # bits per dimension: bits*k must stay BELOW the long's sign bit
            # (bit 63) — with 4 columns at 16 bits, dimension 3 would shift
            # into position 63 and rows past the midpoint would sort negative,
            # splitting the curve in half. 4 columns therefore get 15 bits.
            bits = min(16, 63 // len(zorder))
            max_code = (1 << bits) - 1
            # temporal columns normalize through an explicit numeric form
            # (Spark cannot cast date to double, and python float() on the
            # collected datetime extremes raises)
            num: dict[str, F.Column] = {}
            for c in zorder:
                t = df.schema[c].dataType.simpleString()
                if t == "date":
                    num[c] = F.datediff(F.col(c), F.to_date(F.lit("1970-01-01"))).cast("double")
                else:  # numerics and timestamp (casts to fractional epoch seconds)
                    num[c] = F.col(c).cast("double")
            # Scale bounds from ONE aggregate pass over the cluster columns
            # only (column-pruned, far below the rewrite's own scan). Bounds
            # are the p0.1/p99.9 quantiles, not global min/max: one extreme
            # outlier row must not collapse the curve's useful resolution for
            # the whole column — values past the bounds clamp to the first /
            # last code, costing locality only for the outliers themselves.
            # Degenerate inner span (heavily-concentrated column) falls back
            # to true min/max.
            aggs = []
            for c in zorder:
                aggs += [
                    F.min(num[c]).alias(f"_mn_{c}"),
                    F.max(num[c]).alias(f"_mx_{c}"),
                    F.percentile_approx(num[c], [0.001, 0.999], 10000).alias(f"_q_{c}"),
                ]
            mm = df.agg(*aggs).collect()[0]
            scaled = []
            for c in zorder:
                mn, mx = mm[f"_mn_{c}"], mm[f"_mx_{c}"]
                q = mm[f"_q_{c}"] or [None, None]
                lo, hi = q[0], q[1]
                if lo is None or hi is None or not float(hi) - float(lo) > 0:
                    lo, hi = mn, mx
                col = num[c]
                span = float(hi) - float(lo) if hi is not None and lo is not None else 0.0
                if span <= 0:
                    scaled.append(F.lit(0).cast("long"))  # constant/NULL column
                else:
                    scaled.append(
                        F.least(
                            F.lit(max_code),
                            F.greatest(
                                F.lit(0),
                                F.floor((col - F.lit(float(lo))) / F.lit(span) * max_code),
                            ),
                        ).cast("long")
                    )
            # NULLs sort first: coalesce scaled NULL to 0 keeps them clustered
            scaled = [F.coalesce(s, F.lit(0).cast("long")) for s in scaled]
            df = (
                df.withColumn("_zv", _zvalue_expr(scaled, bits))
                .repartitionByRange(n_files, "_zv")
                .sortWithinPartitions("_zv")
                .drop("_zv")
            )
        else:
            df = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
                *cluster_cols
            )
        new_files = txn.write(df)
        txn.inherit_indexes(spark, new_files)
        return txn.commit(
            "replace",
            new_files,
            sort_by=None if sort_by is None else list(sort_by),
            zorder=None if zorder is None else list(zorder),
            materialized_filters=len(m_raw["row_filters"]) if m_raw.get("row_filters") else None,
        )


def _layout_dirty_entries(
    root: str, m_raw: dict[str, Any], key: str
) -> list[dict[str, Any]] | None:
    """The manifest entries breaking a sorted layout on ``key`` — greedy
    max-count disjoint selection (classic interval scheduling, sweep by
    right endpoint) keeps the settled run; everything else, plus files
    without usable stats (they can never prove disjointness), is the
    merge set. Returns ``None`` when the layout is settled: fewer than
    two breakers, or the breakers are THEMSELVES pairwise disjoint (the
    previous pass's merged delta run — the LSM fixed point; re-sorting
    one sorted run buys nothing, and without this check maintenance
    never settles)."""
    expanded = _expand_manifest(root, m_raw)["files"]
    statted: list[tuple[Any, Any, dict[str, Any]]] = []
    dirty: list[dict[str, Any]] = []
    for fe in expanded:
        st = (fe.get("col_stats") or {}).get(key)
        if st is not None and _stats_comparable(st["min"], st["max"]):
            statted.append((st["max"], st["min"], fe))
        else:
            dirty.append(fe)
    statted.sort(key=lambda t: (t[0], t[1]))
    running_max = None
    for hi, lo, fe in statted:
        # equal boundary values touch, they don't overlap: a sorted
        # rewrite legitimately splits one key value across adjacent files
        if running_max is None or not lo < running_max:
            running_max = hi
        else:
            dirty.append(fe)
    if len(dirty) < 2:
        return None
    stats = [(fe.get("col_stats") or {}).get(key) for fe in dirty]
    if all(s is not None for s in stats):
        span = sorted(stats, key=lambda st: (st["min"], st["max"]))
        if all(
            not span[i + 1]["min"] < span[i]["max"] for i in range(len(span) - 1)
        ):
            return None
    return dirty


def cluster_incremental(
    spark: SparkSession,
    root: str,
    sort_by: list[str] | str | None = None,
    target_file_mb: int = 128,
    guard=None,
) -> int:
    """Restore point-lookup pruning after unsorted appends by rewriting
    ONLY the files that break the clustered layout — the O(delta)
    counterpart of ``sort_rewrite``'s O(table) pass. At 100 TB a full
    re-sort per ingest cadence is infeasible; this is Iceberg's
    rewrite_data_files(strategy=sort, where=<dirty>) shape: keep the
    largest set of files whose sort-key bounds are already pairwise
    disjoint (the settled run — carried into the child manifest BY
    REFERENCE, zero data movement), and merge everything else (recent
    appends, plus any earlier delta run they overlap) into one freshly
    range-partitioned sorted run.

    The resulting layout converges to an LSM-like fixed point of at most
    TWO runs — the base and one merged delta — so a point lookup plans at
    most one file per run from manifest stats instead of one per unsorted
    append. Repeated calls with no new appends are no-ops (the delta run
    is internally disjoint, so there is nothing left to merge); each pass
    costs O(accumulated delta bytes), and a full ``sort_rewrite`` is only
    worth scheduling when delta/base grows past the read-amplification
    budget. ``sort_by`` defaults to the layout recorded by the last full
    rewrite. Returns the new snapshot id, or CURRENT when the layout is
    already settled."""
    if isinstance(sort_by, str):
        sort_by = [sort_by]
    if target_file_mb < 1:
        raise ValueError(f"target_file_mb must be >= 1, got {target_file_mb}")
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        m_raw = txn.parent_raw
        if m_raw.get("row_filters"):
            # rewriting a filter-scoped file would re-emit its MoR-hidden
            # rows into files outside the filter's scope (resurrection)
            raise ValueError(
                f"table at {root} has merge-on-read delete filter(s) pending — "
                f"run materialize_deletes first, then cluster"
            )
        if sort_by is None:
            sort_by = m_raw.get("sort_by")
        if not sort_by:
            if m_raw.get("zorder"):
                raise ValueError(
                    "z-ordered layout has no single-key run structure to merge "
                    "incrementally — run a full sort_rewrite(zorder=...) instead"
                )
            raise ValueError(
                f"table at {root} records no sort_by layout — pass sort_by "
                f"explicitly or run a full sort_rewrite first"
            )
        sort_by = list(sort_by)
        dirty = _layout_dirty_entries(root, m_raw, sort_by[0])
        if dirty is None:
            return txn.parent
        affected = {os.path.basename(fe["path"]) for fe in dirty}
        kept_segs, keep = _partition_metadata(root, m_raw, affected)
        dirty_bytes = sum(fe["bytes"] for fe in dirty)
        n_files = max(1, -(-dirty_bytes // (target_file_mb * 1024 * 1024)))
        df = spark.read.schema(_committed_schema(m_raw)).parquet(
            *[_abs_path(root, fe["path"]) for fe in dirty]
        )
        new_files = txn.write(
            df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
        )
        txn.inherit_indexes(spark, new_files)
        segments, keep = txn.spill(kept_segs, keep, new_files)
        return txn.commit("replace", keep + new_files, segments, sort_by=sort_by)


def snapshot_compact(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 128,
    guard=None,
) -> int:
    """Rewrite the snapshot's SMALL files (< ``target_file_mb``) into
    target-sized ones as a new snapshot — Iceberg's rewrite_data_files /
    bin-pack compaction re-expressed on the manifest layer. Files already
    at or above target carry over by reference; data is byte-equal (same
    rows, new layout). Small-file debt is what a per-commit append tail
    accumulates at 100 TB — thousands of KB-sized files per day whose
    per-file open/footer cost eventually dominates scans. Returns the
    new id, or CURRENT unchanged when fewer than two files are below
    target (nothing to gain). Operation is recorded as ``replace`` —
    like ``delete``, it never joins an append-only batched span."""
    if target_file_mb < 1:
        raise ValueError(f"target_file_mb must be >= 1, got {target_file_mb}")
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        m = _expand_manifest(root, txn.parent_raw)
        if m.get("row_filters"):
            # the bin-pack rewrite would re-emit MoR-deleted rows into files
            # outside every filter's scope (resurrection); materialization IS
            # the compaction of those files
            raise ValueError(
                f"table at {root} has merge-on-read delete filter(s) pending — "
                f"run materialize_deletes first, then compact"
            )
        threshold = target_file_mb * 1024 * 1024
        small = [f for f in m["files"] if f["bytes"] < threshold]
        if len(small) < 2:
            return txn.parent
        # segments made only of at-target files carry by reference — a
        # compaction of fresh tail debt leaves the table's settled metadata
        # history untouched, like its settled data files
        kept_segs, keep = _partition_metadata(
            root, txn.parent_raw, {os.path.basename(f["path"]) for f in small}
        )
        n_files = max(1, -(-sum(f["bytes"] for f in small) // threshold))
        df = spark.read.schema(_committed_schema(m)).parquet(
            *[_abs_path(root, f["path"]) for f in small]
        )
        new_files = txn.write(df.repartition(n_files))
        txn.inherit_indexes(spark, new_files)
        segments, keep = txn.spill(kept_segs, keep, new_files)
        # bin-pack breaks clustering: the layout declaration resets (the
        # constraint contract carries)
        return txn.commit(
            "replace", keep + new_files, segments, schema=df.schema, reset_layout=True
        )


def merge_segments(root: str, guard=None, target_entries: int | None = None) -> int:
    """Metadata-only maintenance commit — the manifest analog of data
    compaction: rewrite FRAGMENTED file-list segments (refs holding
    fewer than ``target_entries // 2`` entries, the debris left when a
    delete breaks a segment and re-spills its survivors, or when many
    tiny spills accumulate) into full-sized segments. The DATA file set
    is untouched, so the commit is operation ``replace`` with a path set
    identical to its parent's: the tail's replace-equivalence check
    resolves it with ZERO data scans (removed and added are both
    empty), and time travel to pre-merge snapshots still expands their
    own segment refs (old segments stay live until retention drops
    every manifest referencing them — vacuum's membership recipe).
    Expansion ORDER may change (merged entries regroup at the tail of
    the ref list); entry order is not semantic — every consumer treats
    ``files`` as a set. Cost: O(merged entries) metadata bytes; full
    segments carry by reference. Returns the new snapshot id, or the
    parent unchanged when fewer than two segments are mergeable (no
    empty commit)."""
    target = (
        int(target_entries) if target_entries is not None else 8 * _SEGMENT_SPILL_ENTRIES
    )
    if target < 2:
        raise ValueError(f"target_entries must be >= 2, got {target_entries}")
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        raw = txn.parent_raw
        if raw.get("row_filters"):
            # merging rewrites segment LOCS, which row-filter scopes match on
            # — a merged segment mixing scope and non-scope files is not
            # representable, so the reorganization waits for materialization
            raise ValueError(
                f"table at {root} has merge-on-read delete filter(s) pending — "
                f"run materialize_deletes first, then merge_segments"
            )
        refs = raw.get("file_segments") or []
        small_locs = {r["loc"] for r in refs if r["n_files"] < target // 2}
        if len(small_locs) < 2:
            return txn.parent
        entries: list[dict[str, Any]] = []
        for r in refs:  # preserve relative order of the merged entries
            if r["loc"] in small_locs:
                entries.extend(_read_segment(root, r["loc"]))
        new_refs = [txn.segment(entries[i : i + target]) for i in range(0, len(entries), target)]
        return txn.commit(
            "replace", raw["files"], [r for r in refs if r["loc"] not in small_locs] + new_refs
        )


def rollback_table(root: str, to_snapshot_id: int, guard=None) -> int:
    """Undo bad data commits by re-pointing the table at an older
    snapshot's contents AS A NEW COMMIT — history stays dense and the
    bad snapshots stay time-travel readable for forensics (Iceberg's
    rollback-to-snapshot; oval's analog is re-running from the last
    good checkpoint, internal/runner/runner.go resume path — here the
    'checkpoint' is every snapshot ever committed).

    Pure metadata, O(target manifest): the target's file inventory,
    segment refs, pending row filters, layout markers and schema carry
    VERBATIM into the new manifest (operation ``rollback``,
    ``rolled_back_to`` recording the target). Nothing is copied or
    rewritten; shared segments stay shared. The tail observes it as an
    overwrite-class commit (the path-set diff vs the parent names
    exactly the files the rollback retracts/restores).

    The CONSTRAINT contract is the one exception: it carries from the
    CURRENT snapshot, not the target — rollback undoes DATA, and a rule
    attached after the target was committed must not be silently
    un-declared by restoring old bytes (undo a contract change with
    ``set_constraints``/``drop_constraints``, which is explicit and
    validated). Rolling back onto a newer contract is allowed even if
    the restored data would violate it: the audit reports the debt
    (``audit_constraints``), exactly like ``validate=False`` adoption.

    Raises if the target does not resolve (never committed, or its
    manifest was expired by retention — an expired snapshot is gone by
    contract). Rolling back to CURRENT is a no-op returning CURRENT.
    """
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        if to_snapshot_id == txn.parent:
            return txn.parent
        if to_snapshot_id > txn.parent:
            raise ValueError(
                f"cannot roll FORWARD: target {to_snapshot_id} is newer than "
                f"CURRENT {txn.parent}"
            )
        target = _load_manifest_raw(root, to_snapshot_id)  # raises if expired
        return txn.commit(
            "rollback",
            target["files"],
            target.get("file_segments") or [],
            schema=target,
            total_rows=target["total_rows"],
            rolled_back_to=to_snapshot_id,
            **{
                k: target.get(k)
                for k in ("row_filters", "sort_by", "zorder", "upsert_key", "upsert_keys")
            },
        )


def expire_snapshots(
    root: str,
    keep_last: int | None = None,
    guard=None,
    do_vacuum: bool = True,
    min_age_s: float = 3600.0,
    older_than_s: float | None = None,
) -> list[int]:
    """Retention — Iceberg's expire_snapshots for the manifest layer:
    drop old snapshots' manifests, then (``do_vacuum``) reclaim data
    dirs no remaining manifest references. Two criteria, composable
    exactly as Iceberg composes retain-last with expire-older-than:
    ``keep_last`` is the FLOOR (the newest N snapshots never expire;
    defaults to 1 when only ``older_than_s`` is given — the tip is
    always kept), ``older_than_s`` restricts expiry to snapshots whose
    manifest-recorded ``committed_at`` is older than the window
    (pre-round-6 manifests without the field fall back to file mtime).
    At least one criterion must be given.

    Time travel to an expired id raises FileNotFoundError (loudly, same
    as Iceberg), ``snapshot_history`` lists only retained ids, and files
    SHARED with retained snapshots (append chains reference parents'
    files) always survive — vacuum keys liveness off the remaining
    manifests, never off snapshot age. The manifest unlinks run under
    the commit guard so a concurrent writer can't commit into the middle
    of the expiry; the vacuum step instead relies on ``min_age_s``
    (default 1 h) because a LIVE writer's staged-but-uncommitted data
    dir is unreferenced by construction — the guard cannot protect it,
    only the age window can. Pass ``min_age_s=0`` only in a
    single-writer maintenance window. Returns the expired ids. Without
    retention a 100-TB table's history grows monotonically: every
    overwrite/delete keeps its pre-state bytes forever."""
    import time as _time

    if keep_last is None and older_than_s is None:
        raise ValueError("pass keep_last and/or older_than_s")
    if keep_last is None:
        keep_last = 1
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if older_than_s is not None and older_than_s < 0:
        raise ValueError(f"older_than_s must be >= 0, got {older_than_s}")
    from ovalspark.sources.commit_guard import resolve_guard

    g = resolve_guard(guard)
    token = g.acquire(root)
    try:
        cur = current_snapshot_id(root)
        if cur is None:
            return []
        locs = _catalog_manifest_locs(root)
        now = _time.time()
        tagged = set(list_tags(root).values())
        candidates = []  # (sid, manifest_path) passing age + advisory pin
        for sid in range(1, cur - keep_last + 1):
            if sid in tagged:
                continue  # a TAG pins its snapshot against retention
            loc = locs.get(sid)
            p = (
                os.path.join(_manifest_dir(root), loc)
                if loc is not None
                else _manifest_path(root, sid)
            )
            if not os.path.exists(p):
                continue
            if older_than_s is not None:
                with open(p) as f:
                    committed_at = json.load(f).get("committed_at")
                if committed_at is None:
                    committed_at = os.stat(p).st_mtime
                if now - committed_at <= older_than_s:
                    continue  # inside the retention window: keep
            candidates.append((sid, p))
        expired = []
        auth = _refs_authority(root)
        if candidates and auth[0] != "file":
            # Catalog-owned: the tag pin set above was ADVISORY (a tagger
            # on another host may have pinned a candidate since we read
            # it). One catalog transaction re-reads the pins, drops the
            # loc rows of the still-unpinned ids, and leaves an
            # ``expired:<sid>`` tombstone each — so a tag racing the file
            # unlink below lands on the tombstone and is refused instead
            # of pinning a ghost (see ``create_tag``). Only the ids the
            # catalog approved get their manifest FILES unlinked.
            ids = [sid for sid, _ in candidates]
            if auth[0] == "http":
                from ovalspark.sources import http_catalog as hc

                approved = set(hc.client_expire(auth[1], auth[2], ids))
            else:

                def _expire_txn(con):
                    pinned = set()
                    for v in con.execute(
                        r"SELECT val FROM refs WHERE name LIKE 'tag:%'"
                    ).fetchall():
                        pinned.add(int(json.loads(v[0])))
                    ok = [s for s in ids if s not in pinned]
                    con.executemany(
                        "INSERT OR IGNORE INTO refs (name, val) VALUES (?, '1')",
                        [(f"expired:{s}",) for s in ok],
                    )
                    con.executemany(
                        "DELETE FROM manifests WHERE id=?", [(s,) for s in ok]
                    )
                    return set(ok)

                # the sqlite guard's token IS an open transaction on this
                # db — reuse it (a second BEGIN IMMEDIATE would self-
                # deadlock)
                held = token if (g.owns_pointer and g.name == "sqlite") else None
                approved = _sqlite_refs_txn(root, _expire_txn, con=held)
            for sid, p in candidates:
                if sid in approved:
                    os.unlink(p)
                    expired.append(sid)
        elif candidates:
            # file authority: single-host scope, the commit guard already
            # serializes taggers and this sweep
            for sid, p in candidates:
                os.unlink(p)
                expired.append(sid)
    finally:
        g.release(token)
    if do_vacuum:
        vacuum(root, min_age_s=min_age_s)
    return expired


def _tags_path(root: str) -> str:
    return os.path.join(_manifest_dir(root), "TAGS.json")


def _refs_authority(root: str) -> tuple:
    """Where the table's NAMED REFS (tags, branch descriptors) live: the
    SAME store that owns the CURRENT pointer, so ref mutations get the
    pointer's CAS + durability and the retention sweep reads its pin set
    from one consistent source. ``("http", endpoint, key)`` for a
    network-catalog table, ``("sqlite",)`` when the sqlite catalog owns
    the pointer, ``("file",)`` otherwise (root-local ``TAGS.json`` /
    ``BRANCH.json`` — the single-host scope the file pointer itself
    claims). A table adopted into a catalog AFTER refs were created
    file-side keeps serving the old file refs until they are recreated;
    ``migrate_pointer_to_http`` carries sqlite refs across in its freeze
    transaction."""
    d = _catalog_descriptor(root)
    if d is not None and d.get("type") == "http":
        return ("http", d["endpoint"], d["key"])
    p = _catalog_db_path(root)
    if os.path.exists(p):
        import sqlite3

        try:
            con = sqlite3.connect(p, timeout=30.0)
            try:
                row = con.execute(
                    "SELECT id FROM current WHERE k='CURRENT'"
                ).fetchone()
            finally:
                con.close()
        except sqlite3.OperationalError as e:
            if "no such table" not in str(e):
                raise
            row = None  # guard-only catalog.db: pointer never adopted
        if row is not None:
            return ("sqlite",)
    return ("file",)


def _sqlite_refs_txn(root: str, fn, con=None):
    """Run ``fn(con)`` inside a write transaction on the table's
    catalog.db with the ``refs`` table ensured — the local mirror of the
    network catalog's ref semantics (same schema minus the key column:
    catalog.db is per-table). ``con``: a HELD guard transaction to reuse
    (a second BEGIN IMMEDIATE on the same db would self-deadlock);
    reused transactions are left open for the guard's release to
    commit."""
    import sqlite3

    own = con is None
    if own:
        con = sqlite3.connect(_catalog_db_path(root), timeout=30.0)
        try:
            con.execute("BEGIN IMMEDIATE")
        except sqlite3.OperationalError:
            con.close()
            raise
    try:
        con.execute(
            "CREATE TABLE IF NOT EXISTS refs "
            "(name TEXT PRIMARY KEY, val TEXT NOT NULL)"
        )
        out = fn(con)
        if own:
            con.execute("COMMIT")
        return out
    except BaseException:
        if own:
            con.execute("ROLLBACK")
        raise
    finally:
        if own:
            con.close()


def _sqlite_refs_all(root: str, prefix: str, con=None) -> dict[str, str]:
    """Read-only ref listing. Deliberately NOT a write transaction: a
    caller may hold the sqlite guard's open BEGIN IMMEDIATE (a second
    write transaction would deadlock), and SQLite's RESERVED lock still
    admits plain readers."""
    import sqlite3

    pat = prefix.replace("\\", r"\\").replace("%", r"\%").replace("_", r"\_") + "%"
    q = r"SELECT name, val FROM refs WHERE name LIKE ? ESCAPE '\'"
    try:
        if con is not None:
            return dict(con.execute(q, (pat,)).fetchall())
        c = sqlite3.connect(_catalog_db_path(root), timeout=30.0)
        try:
            return dict(c.execute(q, (pat,)).fetchall())
        finally:
            c.close()
    except sqlite3.OperationalError as e:
        if "no such table" in str(e):
            return {}
        raise


def _ref_get(root: str, name: str) -> str | None:
    """Current value of one catalog ref (``tag:…`` / ``branch:…``), or
    None. Callers must have checked ``_refs_authority(root)[0] !=
    'file'`` — file-authority tables keep their refs in root-local JSON
    and never reach this."""
    auth = _refs_authority(root)
    if auth[0] == "http":
        from ovalspark.sources import http_catalog as hc

        kind = name.split(":", 1)[0]
        return hc.client_refs(auth[1], auth[2], kind).get(name)
    if auth[0] == "sqlite":
        import sqlite3

        try:
            con = sqlite3.connect(_catalog_db_path(root), timeout=30.0)
            try:
                row = con.execute(
                    "SELECT val FROM refs WHERE name=?", (name,)
                ).fetchone()
            finally:
                con.close()
        except sqlite3.OperationalError as e:
            if "no such table" in str(e):
                return None
            raise
        return None if row is None else row[0]
    raise ValueError(f"table at {root} has no catalog ref store (file authority)")


def _ref_cas(root: str, name: str, old: str | None, new: str | None) -> tuple[bool, str | None]:
    """Conditional put on the table's catalog ref store: ``old -> new``
    iff the stored value equals ``old`` (None = absent / delete).
    Returns ``(won, current_value_after)``; a replay that finds the
    state already AT ``new`` wins idempotently (values are semantically
    unique — a branch descriptor's full JSON, a tag's sid)."""
    auth = _refs_authority(root)
    if auth[0] == "http":
        from ovalspark.sources import http_catalog as hc

        return hc.client_ref_cas(auth[1], auth[2], name, old, new)
    if auth[0] == "sqlite":

        def _cas(con):
            row = con.execute(
                "SELECT val FROM refs WHERE name=?", (name,)
            ).fetchone()
            cur = None if row is None else row[0]
            if cur == new and old != new:
                return True, cur  # lost-reply replay of OUR transition
            if cur != old:
                return False, cur
            if new is None:
                con.execute("DELETE FROM refs WHERE name=?", (name,))
            else:
                con.execute(
                    "INSERT INTO refs (name, val) VALUES (?, ?) "
                    "ON CONFLICT(name) DO UPDATE SET val=excluded.val",
                    (name, new),
                )
            return True, new

        return _sqlite_refs_txn(root, _cas)
    raise ValueError(f"table at {root} has no catalog ref store (file authority)")


def _refs_kind(root: str, kind: str) -> dict[str, str]:
    """All refs of one kind, names WITHOUT the ``kind:`` prefix."""
    auth = _refs_authority(root)
    pre = f"{kind}:"
    if auth[0] == "http":
        from ovalspark.sources import http_catalog as hc

        raw = hc.client_refs(auth[1], auth[2], kind)
    elif auth[0] == "sqlite":
        raw = _sqlite_refs_all(root, pre)
    else:
        raise ValueError(
            f"table at {root} has no catalog ref store (file authority)"
        )
    return {n[len(pre):]: v for n, v in raw.items()}


def list_tags(root: str) -> dict[str, int]:
    """name -> snapshot id for every tag on the table (empty if none).
    Resolution follows the table's pointer authority (file / sqlite
    catalog / network catalog) — see ``_refs_authority``."""
    auth = _refs_authority(root)
    if auth[0] == "http":
        from ovalspark.sources import http_catalog as hc

        raw = hc.client_refs(auth[1], auth[2], "tag")
        return {n[len("tag:"):]: int(json.loads(v)) for n, v in raw.items()}
    if auth[0] == "sqlite":
        raw = _sqlite_refs_all(root, "tag:")
        return {n[len("tag:"):]: int(json.loads(v)) for n, v in raw.items()}
    p = _tags_path(root)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {k: int(v) for k, v in json.load(f).items()}


def resolve_tag(root: str, name: str) -> int:
    tags = list_tags(root)
    if name not in tags:
        raise KeyError(f"no tag {name!r} at {root} (have: {sorted(tags)})")
    return tags[name]


def create_tag(root: str, name: str, snapshot_id: int | None = None, guard=None) -> int:
    """TAG a snapshot: an immutable named ref (Iceberg tags) that (a)
    resolves by name (``resolve_tag`` / ``snapshot_read(..., tag=)``)
    and (b) PINS its snapshot against ``expire_snapshots`` — the audited
    /published/regulatory states a table must keep while ordinary
    history ages out. Defaults to CURRENT. Tags are immutable: re-tagging
    a taken name raises (delete first). The update runs under the commit
    guard so concurrent taggers serialize with writers; the tag file is
    root-local metadata (one small JSON), same locality class as
    segments. Returns the tagged id."""
    import re as _re

    if not _re.match(r"^[A-Za-z0-9][A-Za-z0-9._-]*$", name):
        raise ValueError(f"invalid tag name {name!r}")
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"cannot tag {root}: table has no snapshots")
    _load_manifest_raw(root, sid)  # expired/never-committed ids raise here
    auth = _refs_authority(root)
    if auth[0] != "file":
        # catalog-owned refs: the store TRANSACTION is the serialization
        # (insert-if-absent + expired-tombstone check commit atomically),
        # so the table commit guard is not taken — acquiring the sqlite
        # guard here and then opening a second write transaction on the
        # same catalog.db would self-deadlock, and the http path needs no
        # lease for a single conditional put. The tombstone check closes
        # the expire-vs-tag race airtight: expiry leaves ``expired:<sid>``
        # rows behind in the SAME transaction that drops the loc rows, so
        # a tagger that validated the manifest just before the sweep
        # unlinked it lands on the tombstone and is refused instead of
        # pinning a ghost.
        if auth[0] == "http":
            from ovalspark.sources import http_catalog as hc

            won, reason = hc.client_tag_create(auth[1], auth[2], name, int(sid))
        else:

            def _create(con):
                cur = con.execute(
                    "SELECT val FROM refs WHERE name=?", (f"tag:{name}",)
                ).fetchone()
                if cur is not None:
                    return json.loads(cur[0]) == int(sid), "exists"
                if con.execute(
                    "SELECT 1 FROM refs WHERE name=?", (f"expired:{int(sid)}",)
                ).fetchone():
                    return False, "expired"
                con.execute(
                    "INSERT INTO refs (name, val) VALUES (?, ?)",
                    (f"tag:{name}", json.dumps(int(sid))),
                )
                return True, "ok"

            won, reason = _sqlite_refs_txn(root, _create)
        if not won:
            if reason == "expired":
                raise ValueError(
                    f"cannot tag snapshot {sid} at {root}: it was expired "
                    f"by retention (tombstoned in the catalog)"
                )
            raise ValueError(
                f"tag {name!r} already points at snapshot "
                f"{list_tags(root).get(name)} — tags are immutable; "
                f"delete_tag first"
            )
        return int(sid)
    from ovalspark.sources.commit_guard import resolve_guard

    g = resolve_guard(guard)
    token = g.acquire(root)
    try:
        tags = list_tags(root)
        if name in tags:
            raise ValueError(
                f"tag {name!r} already points at snapshot {tags[name]} — "
                f"tags are immutable; delete_tag first"
            )
        tags[name] = int(sid)
        _atomic_write(_tags_path(root), json.dumps(tags, indent=1, sort_keys=True))
        return int(sid)
    finally:
        g.release(token)


def delete_tag(root: str, name: str, guard=None) -> None:
    """Drop a tag; its snapshot becomes expirable again."""
    auth = _refs_authority(root)
    if auth[0] == "http":
        from ovalspark.sources import http_catalog as hc

        cur = hc.client_refs(auth[1], auth[2], "tag").get(f"tag:{name}")
        if cur is None:
            raise KeyError(f"no tag {name!r} at {root}")
        hc.client_ref_cas(auth[1], auth[2], f"tag:{name}", cur, None)
        return
    if auth[0] == "sqlite":

        def _delete(con):
            gone = con.execute(
                "DELETE FROM refs WHERE name=?", (f"tag:{name}",)
            ).rowcount
            return gone == 1

        if not _sqlite_refs_txn(root, _delete):
            raise KeyError(f"no tag {name!r} at {root}")
        return
    from ovalspark.sources.commit_guard import resolve_guard

    g = resolve_guard(guard)
    token = g.acquire(root)
    try:
        tags = list_tags(root)
        if name not in tags:
            raise KeyError(f"no tag {name!r} at {root}")
        del tags[name]
        _atomic_write(_tags_path(root), json.dumps(tags, indent=1, sort_keys=True))
    finally:
        g.release(token)


def vacuum(root: str, min_age_s: float = 0.0) -> list[str]:
    """Reclaim commit debris: data dirs not referenced by any committed
    manifest, and manifests past CURRENT (torn commits). Returns the
    removed paths.

    ``min_age_s`` makes vacuum safe against IN-FLIGHT commits: a live
    writer's staged-but-uncommitted data dir is indistinguishable from a
    dead writer's debris by content, but not by AGE — anything younger
    than the window is skipped. Set it comfortably above the longest
    data-write a commit can take (e.g. 3600); the default 0 keeps the
    eager behavior for single-writer maintenance windows where no commit
    can be in flight."""
    import time

    cur = current_snapshot_id(root)
    now = time.time()

    def _old_enough(path: str) -> bool:
        try:
            return now - os.stat(path).st_mtime >= min_age_s
        except OSError:
            return False  # vanished mid-scan: nothing to reclaim

    removed: list[str] = []
    live_dirs: set[str] = set()
    live_manifests: set[str] = set()
    live_segments: set[str] = set()

    def _collect_live(r: str) -> None:
        c = current_snapshot_id(r)
        if c is None:
            return
        for sid in range(1, c + 1):
            p = _resolve_manifest_path(r, sid)
            if not os.path.exists(p):
                continue
            live_manifests.add(os.path.normpath(p))
            with open(p) as f:
                m = json.load(f)
            entries = list(m["files"])
            for ref in m.get("file_segments") or []:
                # a segment referenced by ANY retained manifest is
                # live, and so are the data dirs of its entries
                live_segments.add(
                    os.path.normpath(os.path.join(_manifest_dir(r), ref["loc"]))
                )
                entries.extend(_read_segment(r, ref["loc"]))
            for fe in entries:
                live_dirs.add(os.path.dirname(os.path.normpath(_abs_path(r, fe["path"]))))
            exp = m.get("expect")
            if exp is not None:
                # an EMPTY append that recorded a promise references
                # its data dir only through the expect sidecar —
                # that promise (= every doc LOST) must survive vacuum
                live_dirs.add(
                    os.path.dirname(os.path.normpath(_abs_path(r, exp["loc"])))
                )
            dd = m.get("deleted_docs")
            if dd is not None:
                # same carve-out for the delete sidecar: a delete
                # that removed every row of its rewritten files has
                # no new_files entry pointing at its data dir
                live_dirs.add(
                    os.path.dirname(os.path.normpath(_abs_path(r, dd["loc"])))
                )
            uk = m.get("upsert_keys")
            if uk is not None:
                live_dirs.add(
                    os.path.dirname(os.path.normpath(_abs_path(r, uk["loc"])))
                )
            for rf in m.get("row_filters") or []:
                # a carried keys-filter's sidecar must outlive the files
                # of the commit that wrote it (materialization can
                # rewrite them while older manifests still filter by it)
                if rf.get("kind") == "keys":
                    live_dirs.add(
                        os.path.dirname(os.path.normpath(_abs_path(r, rf["loc"])))
                    )

    _collect_live(root)
    # branch-aware sweep: a table's branches (sources/branches) stage
    # their data UNDER this root, and a PUBLISH re-references it from
    # main's manifests — liveness is therefore the union of main's and
    # every live branch's references, and data dirs of dropped/expired
    # branches that nothing references anymore are debris like any other
    branch_data_globs: list[str] = []
    bdir = os.path.join(root, "_branches")
    if os.path.isdir(bdir):
        for bname in sorted(os.listdir(bdir)):
            broot = os.path.join(bdir, bname)
            if os.path.isdir(broot):
                _collect_live(broot)
                branch_data_globs.append(os.path.join(broot, "data", "snap-*"))
    # debris = any manifest file that is not the resolved path of a
    # committed id: torn commits past CURRENT, CAS losers' unique-named
    # files, retention leftovers — membership, not filename parsing
    for mp in glob.glob(os.path.join(_manifest_dir(root), "v*.json")):
        if os.path.normpath(mp) not in live_manifests and _old_enough(mp):
            os.unlink(mp)
            removed.append(mp)
    # segment debris: CAS losers' spills, torn commits, and segments whose
    # every referencing manifest was expired — same membership recipe
    for sp in glob.glob(os.path.join(_manifest_dir(root), "seg-*.json")):
        if os.path.normpath(sp) not in live_segments and _old_enough(sp):
            os.unlink(sp)
            removed.append(sp)
    for g in [os.path.join(root, "data", "snap-*")] + branch_data_globs:
        for dd in glob.glob(g):
            if os.path.normpath(dd) not in live_dirs and _old_enough(dd):
                shutil.rmtree(dd, ignore_errors=True)
                removed.append(dd)
    return sorted(removed)


def manifest_column_stats(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """Whole-table per-column statistics — (col_name, min_v, max_v,
    n_nulls, n_rows, kind) — computed ENTIRELY from manifest metadata:
    zero data files are opened (the returned frame has no file inputs at
    all). This is the A1 column-profile fast path a 100-TB table needs:
    min/max/null-count/row-count in milliseconds from KB of manifest,
    instead of a full scan.

    A column appears only if EVERY data file recorded stats for it (one
    statless file makes the fold unknowable). ``kind`` is the honesty
    flag: ``exact`` for integer/boolean stats (parquet stores them
    full-fidelity), ``bound`` for strings and floats — parquet writers
    may truncate long binary min/max into prefix bounds, which are
    correct as BOUNDS (pruning stays sound) but not necessarily the
    exact extreme values. ``n_nulls`` is NULL when any file's footer
    omitted null_count (optional in the parquet spec) — unknown is
    reported as unknown, never as 0. Values are rendered as strings so one frame
    carries mixed column types; integer renderings are exact
    (gate query q59 value-checks the ``exact`` rows against SQL)."""
    m = load_manifest(root, snapshot_id)
    files = m["files"]
    rows: list[tuple] = []
    if files:
        common = set(files[0].get("col_stats") or {})
        for fe in files[1:]:
            common &= set(fe.get("col_stats") or {})
        for col in sorted(common):
            sts = [fe["col_stats"][col] for fe in files]
            mins = [s["min"] for s in sts]
            maxs = [s["max"] for s in sts]
            kind = "exact" if all(type(v) in (int, bool) for v in mins + maxs) else "bound"
            # any file with unknown null_count (None) poisons the sum —
            # report NULL, never a fabricated count
            per_file_nulls = [s.get("nulls") for s in sts]
            n_nulls = None if any(v is None for v in per_file_nulls) else sum(per_file_nulls)
            rows.append(
                (
                    col,
                    str(min(mins)),
                    str(max(maxs)),
                    n_nulls,
                    m["total_rows"],
                    kind,
                )
            )
    return spark.createDataFrame(
        rows,
        "col_name string, min_v string, max_v string, n_nulls long, n_rows long, kind string",
    )


def snapshot_read(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    prune: list[tuple] | tuple | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read a table AS OF a snapshot (default: latest). The file list is
    immutable once committed, so this read is repeatable byte-for-byte no
    matter how many overwrites commit after it — oval's
    read-before-overwrite verification re-expressed as time travel
    (worker.go:43-75: verify the pre-state, then write).

    ``prune``: ``(col, lo, hi)`` or a list of them — manifest-level file
    skipping (``prune_files``): only files whose recorded column bounds
    overlap every range are handed to Spark at all. The caller still
    applies the actual row filter; pruning is a superset guarantee, never
    a substitute for the predicate.

    The read passes the COMMITTED schema explicitly (all fields
    nullable): parquet matches columns by name per file, so files
    committed before an additive schema evolution read their missing
    columns as NULL — and column presence never depends on which file
    Spark happens to sample for inference."""
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or tag, not both")
        snapshot_id = resolve_tag(root, tag)
    # raw first: schema + id are top-level, and a PRUNED read must not
    # pay the full segment expansion prune_files exists to avoid
    m = _load_manifest_raw(root, snapshot_id)
    if m.get("row_filters"):
        # pending merge-on-read deletes: the stratified read applies each
        # filter to exactly the files in its scope (see _snapshot_delete_mor)
        return _read_with_filters(spark, root, m, prune)
    if prune is not None:
        # pin to the resolved id: CURRENT may flip between the two
        # manifest reads, and a prune against a newer snapshot would
        # silently mix file lists
        paths = prune_files(root, m["snapshot_id"], prune)
    else:
        paths = [_abs_path(root, f["path"]) for f in _expand_manifest(root, m)["files"]]
    schema = _committed_schema(m)
    if not paths:
        return _empty(spark, schema)
    return spark.read.schema(schema).parquet(*paths)


def _committed_schema(manifest: dict):
    """The manifest's recorded schema with every top-level field forced
    nullable — the honest read contract: pre-evolution files NULL-fill
    added columns, and parquet round-trips flip nullability anyway."""
    from pyspark.sql.types import StructField, StructType

    s = StructType.fromJson(json.loads(manifest["schema_json"]))
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in s.fields])


def manifest_diff(root: str, from_id: int | None, to_id: int | None = None) -> list[str]:
    """Absolute paths of the data files ADDED between two snapshots: in
    ``to_id``'s file list (default: CURRENT) but not ``from_id``'s
    (``from_id=None`` → everything in ``to_id``). Pure manifest metadata —
    no data is listed or scanned; this is what lets incremental validation
    scope a plan to O(new data) instead of O(corpus) per commit."""
    to_raw = _load_manifest_raw(root, to_id)
    from_raw = None if from_id is None else _load_manifest_raw(root, from_id)
    return _manifest_diff_raw(root, from_raw, to_raw)


def _manifest_diff_raw(
    root: str, from_raw: dict[str, Any] | None, to_raw: dict[str, Any]
) -> list[str]:
    """``manifest_diff`` over ALREADY-LOADED raw manifests — the shape a
    caller walking a commit span wants: consecutive commits share their
    parent manifest, so loading each raw manifest once and diffing dicts
    turns a k-commit catch-up from ~3k manifest reads (one per commit
    plus two inside each diff) into k+1 (``stream_source`` reader)."""
    to_segs = to_raw.get("file_segments") or []
    if from_raw is None:
        # full bootstrap: expand segments directly (inherently O(to_id's
        # inventory) — there is no settled history to skip)
        full: list[dict[str, Any]] = []
        for ref in to_segs:
            full.extend(_read_segment(root, ref["loc"]))
        full.extend(to_raw["files"])
        return [_abs_path(root, f["path"]) for f in full]
    from_segs = from_raw.get("file_segments") or []
    # segments SHARED by both manifests (by immutable loc) contribute no
    # additions and need no expansion — a tail diffing consecutive append
    # commits reads O(inline + changed segments), not O(table history)
    common = {r["loc"] for r in from_segs} & {r["loc"] for r in to_segs}
    base = {f["path"] for f in from_raw["files"]}
    for ref in from_segs:
        if ref["loc"] not in common:
            base.update(e["path"] for e in _read_segment(root, ref["loc"]))
    cand: list[dict[str, Any]] = []
    for ref in to_segs:
        if ref["loc"] not in common:
            cand.extend(_read_segment(root, ref["loc"]))
    cand.extend(to_raw["files"])
    return [_abs_path(root, f["path"]) for f in cand if f["path"] not in base]


def snapshot_files(spark: SparkSession, root: str, snapshot_id: int | None = None) -> DataFrame:
    """The ``.files`` metadata table: (path, rows, bytes) per data file of
    a snapshot — the reconciliation source for V9 (count manifests vs
    count data, s3client.go:253-275) without scanning any data."""
    m = load_manifest(root, snapshot_id)
    return spark.createDataFrame(
        [(_abs_path(root, f["path"]), f["rows"], f["bytes"]) for f in m["files"]],
        "path string, rows long, bytes long",
    )


def snapshot_history(spark: SparkSession, root: str) -> DataFrame:
    """The ``.snapshots`` metadata table: one row per COMMITTED snapshot.
    Manifests past CURRENT (in-flight or torn commits) are excluded — an
    id that appears in history must stay resolvable, and only the CURRENT
    flip makes that durable."""
    rows = []
    sid = current_snapshot_id(root)
    for s in range(1, (sid or 0) + 1):
        # resolve each id through the committed chain (catalog loc or
        # v<id>.json) — never by globbing, which would surface loser
        # debris whose id collides with a committed one
        try:
            m = _load_manifest_raw(root, s)
        except FileNotFoundError:
            continue  # expired by retention
        rows.append(
            (
                m["snapshot_id"],
                m["parent_id"],
                m["operation"],
                m["total_rows"],
                m["total_bytes"],
                # from refs + inline — history over a segmented table
                # never expands segment files just to count entries
                sum(r["n_files"] for r in m.get("file_segments") or []) + len(m["files"]),
                m["snapshot_id"] == sid,
                # committed_at recorded since round 6; older manifests
                # surface NULL rather than a fabricated time
                float(m["committed_at"]) if m.get("committed_at") is not None else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, operation string, total_rows long, "
        "total_bytes long, n_files long, is_current boolean, committed_at double",
    )


def reconcile_counts(spark: SparkSession, root: str, snapshot_id: int | None = None) -> DataFrame:
    """V9 through metadata: per-file manifest row counts vs actual parquet
    row counts of the same files — one row per file that disagrees (a
    torn/corrupted data file), in the engine's common violation schema.
    The actual counts come from a real distributed scan (COUNT(*) over the
    snapshot's file list with per-file grouping), the expected from the
    commit-time footers."""
    m = load_manifest(root, snapshot_id)
    # join on the part-file BASENAME (globally unique — Spark embeds a
    # per-write UUID), not the full path: the manifest stores OS paths
    # while input_file_name() yields file: URIs whose root/encoding
    # (relative roots, %20 for spaces) need not match textually
    base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    expected = snapshot_files(spark, root, snapshot_id).select(
        "path", base(F.col("path")).alias("_f"), F.col("rows").alias("expected_n")
    )
    paths = [_abs_path(root, f["path"]) for f in m["files"]]
    if not paths:
        return expected.limit(0).select(
            F.lit(None).cast("int").alias("partition_id"),
            F.col("path").alias("doc_id"),
            F.lit(None).cast("int").alias("span_idx"),
            F.lit("file_rows").alias("field"),
            F.col("expected_n").cast("string").alias("expected"),
            F.lit("0").alias("actual"),
            F.lit("COUNT_MISMATCH").alias("violation_class"),
            F.lit(None).cast("int").alias("writer_id"),
            F.lit(None).cast("timestamp").alias("written_at"),
        )
    actual = (
        spark.read.parquet(*paths)
        .select(F.input_file_name().alias("_uri"))
        .groupBy("_uri")
        .agg(F.count("*").alias("actual_n"))
        # input_file_name yields a URI; URL-decode so %XX escapes match
        # the raw basename stored in the manifest
        .select(base(F.url_decode(F.col("_uri"))).alias("_f"), "actual_n")
    )
    j = expected.join(actual, "_f", "full_outer").select(
        F.coalesce("path", F.col("_f")).alias("path"),
        F.coalesce("expected_n", F.lit(0)).alias("expected_n"),
        F.coalesce("actual_n", F.lit(0)).alias("actual_n"),
    )
    return j.filter(F.col("expected_n") != F.col("actual_n")).select(
        F.lit(None).cast("int").alias("partition_id"),
        F.col("path").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit("file_rows").alias("field"),
        F.col("expected_n").cast("string").alias("expected"),
        F.col("actual_n").cast("string").alias("actual"),
        F.lit("COUNT_MISMATCH").alias("violation_class"),
        F.lit(None).cast("int").alias("writer_id"),
        F.lit(None).cast("timestamp").alias("written_at"),
    )
