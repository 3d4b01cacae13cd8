"""Spark Python Data Source over the snapshot log — batch and streaming.

This is the Spark-native front door to ``sources/snapshots.py``: after
``register_snapshot_source(spark)`` the versioned table is a first-class
format, so ANY Spark query — including Structured Streaming with
watermarks, windowed aggregation, and ``foreachBatch`` — can consume it
without knowing the manifest layout:

    spark.read.format("ovalspark_snapshots").option("path", root).load()
    spark.readStream.format("ovalspark_snapshots").option("path", root).load()
    df.writeStream.format("ovalspark_snapshots").option("path", root)...

and the table is simultaneously a streaming SINK: each micro-batch
commits as one snapshot through the same guarded CAS as every other
writer (``_SnapshotStreamWriter`` — exactly-once via a per-table
``stream_batch_id`` ledger in the manifest), so a streaming pipeline's
output is immediately time-travelable and tail-validatable.

Batch reads serve the committed file list AS OF a snapshot (option
``snapshot_id``; default CURRENT). With ``.option("pushdown", "true")``
they additionally wire Spark's own filter pushdown (``pushFilters``,
Spark 4.1) into the manifest layer's two-level pruning:
range/equality/IN conditions on top-level columns become ``prune_files``
conditions, so a selective filter plans only the files — and reads only
the manifest segments — whose folded bounds overlap. Pruning is a
superset guarantee; every filter is returned to Spark to re-apply, so a
missing stat can only cost a scan, never rows. Pushdown is opt-in
because Spark 4.1 caches a Python source's planned partitions on the
``load()``-scoped table and only re-plans for queries that push filters
— see ``_PruningBatchReader`` for the measured semantics and the
one-load()-per-query usage rule.

The stream reader is the validate-every-PUT tail (oval's worker loop,
``/root/reference/internal/runner/worker.go:100-118``) re-expressed in
Spark's own offset protocol: offsets are commit ids (``{"snapshot_id":
N}``), ``latestOffset`` is one CURRENT-pointer read, and a micro-batch's
partitions are exactly the files its commit span ADDED (``manifest_diff``
per append — O(changed) metadata, never an inventory expansion). The
engine's checkpoint gives exactly-once replay for free: the same offset
range always plans the same immutable file list. Commit semantics:
appends emit their added files; an overwrite emits the new table
generation in full; delete/replace commits advance the offset emitting
nothing by default (an append feed — deletions are the VALIDATOR's
concern, `operators/incremental.py`). ``.option("cdc", "true")`` opts
into a CHANGE feed instead: rows carry ``_op``/``_commit_id`` and
deletes/overwrites emit retractions, so a downstream mirror can fold
the feed into an exact copy of the table (``_SnapshotStreamReader``).

Executor-side reads go through pyarrow: parquet batches are yielded as
Arrow RecordBatches aligned to the query schema (missing columns
NULL-filled, the additive-evolution read contract of ``snapshot_read``;
extra columns dropped; physical types cast to the committed types, which
also serves int->long / float->double promoted tables). No per-row
Python anywhere: Arrow batches cross the boundary whole. Measured cost
(BASELINE.md round-7): ~2.2x a native ``snapshot_read`` scan on a 4M-row
aggregate — a constant factor, not a scaling cliff (partitions scale
with files). Keep hot BATCH paths on ``snapshot_read``; this format's
value is the streaming offset protocol and Spark-surface interop.
Column pruning: pass ``.schema("doc_id string")`` (a subset of the
committed columns) and the executor-side pyarrow read opens only those
columns — the alignment logic treats a user schema exactly like an
evolved one.

Deployment: the DataSource class pickles BY REFERENCE, so executors must
be able to import ``ovalspark`` — true under ``spark-submit --py-files``
(tools/make_pyfiles.py) and in repo-rooted local runs.
``register_snapshot_source`` makes it true everywhere else by shipping a
content-addressed source zip via ``addPyFile`` (same deterministic
recipe as make_pyfiles) when the package lives on a real filesystem.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ovalspark.sources import snapshots as sn

FORMAT_NAME = "ovalspark_snapshots"


class _FilePartition(InputPartition):
    """One data file — the scheduling granule, like the parquet file
    source's splits (manifest files are written at bounded target size,
    so file == split is the right granule here). ``op``/``commit_id``
    are only meaningful to the CDC stream reader: the row operation this
    file's rows represent and the commit that performed it."""

    def __init__(self, path: str, schema_json: str, op: str = "insert", commit_id=None):
        self.path = path
        self.schema_json = schema_json
        self.op = op
        self.commit_id = commit_id


def _partitions_or_empty_sentinel(paths, schema_json):
    """Spark's Python runner calls read(None) when partitions() returns
    an empty sequence — an empty table / delete-only micro-batch must
    instead plan ONE sentinel partition whose read yields nothing."""
    if not paths:
        return [_FilePartition(None, schema_json)]
    return [_FilePartition(p, schema_json) for p in paths]


def _read_aligned(path: str | None, schema_json: str):
    """Yield a file's rows as Arrow RecordBatches aligned to the query
    schema: committed column order, missing columns NULL-filled
    (pre-evolution files), extra columns dropped (post-evolution files
    under an older declared schema), physical types cast to the declared
    ones (type-promoted tables store narrow pre-promotion files).
    Self-contained: runs on executors, imports everything it needs."""
    if path is None:
        return  # empty-sentinel partition: the table/batch has no files
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType as _St

    target = to_arrow_schema(_St.fromJson(json.loads(schema_json)))
    pf = pq.ParquetFile(path)
    have = [n for n in target.names if n in set(pf.schema_arrow.names)]
    for batch in pf.iter_batches(columns=have):
        arrays = []
        for field in target:
            if field.name in have:
                arr = batch.column(have.index(field.name))
                if arr.type != field.type:
                    arr = arr.cast(field.type)
            else:
                arr = pa.nulls(batch.num_rows, type=field.type)
            arrays.append(arr)
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


def _parse_prune(spec: str | None) -> list[tuple] | None:
    """``"col:lo:hi"`` (";"-separated for conjunctions; empty bound =
    open; numeric bounds coerced, else compared as strings) → the
    ``prune_files`` condition list. Option-string form of
    ``snapshot_read(prune=...)`` — fixed at load() time, so it composes
    safely with Spark's per-load partition caching."""
    if not spec:
        return None

    def coerce(s: str):
        if s == "":
            return None
        for typ in (int, float):
            try:
                return typ(s)
            except ValueError:
                continue
        return s

    conds = []
    for part in spec.split(";"):
        pieces = part.split(":")
        if len(pieces) != 3 or not pieces[0]:
            raise ValueError(
                f'prune option must be "col:lo:hi[;col:lo:hi...]", got {spec!r}'
            )
        conds.append((pieces[0], coerce(pieces[1]), coerce(pieces[2])))
    return conds


def _mor_pending(root: str, sid: int) -> ValueError:
    # raw file scans cannot apply the stratified merge-on-read filters:
    # serving a pending snapshot's physical rows would resurrect deleted ones
    return ValueError(
        f"snapshot {sid} of {root} has merge-on-read delete filter(s) "
        f"pending — read it via snapshot_read (stratified MoR read), or run "
        f"materialize_deletes first"
    )


class _SnapshotBatchReader(DataSourceReader):
    """The default batch reader: full committed file list, no
    ``pushFilters`` (deliberately NOT implemented — works on sessions
    without ``spark.sql.python.filterPushdown.enabled``, and the scan is
    identical for every query so Spark's table-level read-info cache can
    never serve one query a listing planned for another)."""

    def __init__(
        self,
        root: str,
        snapshot_id: int | None,
        schema: StructType,
        prune: list[tuple] | None = None,
    ):
        self.root = root
        self.snapshot_id = snapshot_id
        self.schema_json = json.dumps(schema.jsonValue())
        # load-scoped explicit prune (option "prune"): fixed at load()
        # time, so Spark's cached partitions always match it — the
        # cache-safe way to get two-level pruning without pushdown
        self.prune = prune

    def partitions(self):
        m = sn._load_manifest_raw(self.root, self.snapshot_id)
        if m.get("row_filters"):
            raise _mor_pending(self.root, m["snapshot_id"])
        if self.prune:
            paths = sn.prune_files(self.root, m["snapshot_id"], self.prune)
        else:
            paths = [
                sn._abs_path(self.root, f["path"])
                for f in sn._expand_manifest(self.root, m)["files"]
            ]
        return _partitions_or_empty_sentinel(paths, self.schema_json)

    def read(self, partition):
        yield from _read_aligned(partition.path, partition.schema_json)


class _PruningBatchReader(_SnapshotBatchReader):
    """Opt-in (``.option("pushdown", "true")``): Spark's pushed conjuncts
    become two-level manifest pruning. ALL filters are returned for
    Spark to re-apply — pruning is a superset, a missing stat can only
    cost a scan, never rows.

    Why opt-in: Spark caches a Python source's planned (readFunc,
    partitions) on the TABLE object a ``load()`` created, and only
    re-plans for queries that push filters (measured on 4.1.2: filtered
    query → correct re-plan every time; UNFILTERED query on the same
    load() after a filtered one → served the cached PRUNED listing).
    With pushdown on, use one load() per logical query — the natural
    pattern everywhere in this repo — or stay on the default reader."""

    def pushFilters(self, filters):
        scalars = (int, float, str)
        bounds: dict[str, list] = {}

        def bound(col, lo=None, hi=None):
            b = bounds.setdefault(col, [None, None])
            if lo is not None and (b[0] is None or lo > b[0]):
                b[0] = lo
            if hi is not None and (b[1] is None or hi < b[1]):
                b[1] = hi

        for f in filters:
            if not hasattr(f, "attribute") or len(f.attribute) != 1:
                continue
            col = f.attribute[0]
            if isinstance(f, EqualTo) and isinstance(f.value, scalars):
                bound(col, f.value, f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and isinstance(
                f.value, scalars
            ):
                bound(col, lo=f.value)  # strict > kept inclusive: superset
            elif isinstance(f, (LessThan, LessThanOrEqual)) and isinstance(
                f.value, scalars
            ):
                bound(col, hi=f.value)
            elif isinstance(f, In):
                vals = [v for v in f.value if isinstance(v, scalars)]
                if vals and len(vals) == len(f.value):
                    try:
                        bound(col, min(vals), max(vals))
                    except TypeError:
                        pass
        self._conditions = [(c, lo, hi) for c, (lo, hi) in bounds.items()]
        return filters

    def partitions(self):
        conds = getattr(self, "_conditions", None)
        if not conds:
            return super().partitions()
        m = sn._load_manifest_raw(self.root, self.snapshot_id)
        if m.get("row_filters"):
            raise _mor_pending(self.root, m["snapshot_id"])
        paths = sn.prune_files(
            self.root, m["snapshot_id"], conds + (self.prune or [])
        )
        return _partitions_or_empty_sentinel(paths, self.schema_json)


CDC_OP_COL = "_op"
CDC_COMMIT_COL = "_commit_id"


def _cdc_schema(base: StructType) -> StructType:
    from pyspark.sql.types import LongType, StringType, StructField

    return StructType(
        list(base.fields)
        + [StructField(CDC_OP_COL, StringType()), StructField(CDC_COMMIT_COL, LongType())]
    )


class _SnapshotStreamReader(DataSourceStreamReader):
    """Offsets are commit ids; a micro-batch's partitions are exactly the
    files its commit span changed. Two feeds share the machinery:

    * default (append feed): appends emit their added files, an
      overwrite emits the new generation in full, delete/replace advance
      the offset emitting nothing — the validator's view of history.
    * ``cdc`` (``.option("cdc", "true")``): every row carries ``_op``
      ('insert' | 'delete') and ``_commit_id``, and state CHANGES are
      emitted too, so a downstream mirror folding the feed converges to
      the table instead of silently diverging at the first delete (the
      LIST-reconciliation honesty oval's worker applies to mirrors,
      internal/runner/worker.go:163-177). Per commit kind: appends →
      insert rows; Column-predicate deletes → delete rows keyed by the
      ``_deleted`` sidecar (``doc_id`` populated, other columns NULL —
      key-delete semantics, exact for this library's doc_id-keyed data
      model); overwrites → delete rows for the ENTIRE parent generation
      followed by insert rows for the new one (truncate-and-load, the
      only faithful row-level reading); replace (compaction) → nothing
      (layout change, no row change). A SQL-string delete commit has no
      recorded row set, so the CDC feed REFUSES it loudly rather than
      silently skipping a retraction — use Column predicates (which
      persist the sidecar) on CDC-fed tables."""

    def __init__(self, root: str, after_id: int, schema: StructType, cdc: bool = False):
        self.root = root
        self.after_id = after_id
        self.cdc = cdc
        if cdc:
            data_fields = [
                f for f in schema.fields if f.name not in (CDC_OP_COL, CDC_COMMIT_COL)
            ]
            self.schema_json = json.dumps(StructType(data_fields).jsonValue())
            self.full_schema_json = json.dumps(schema.jsonValue())
        else:
            self.schema_json = json.dumps(schema.jsonValue())
            self.full_schema_json = self.schema_json

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.after_id}

    def latestOffset(self) -> dict:
        cur = sn.current_snapshot_id(self.root)
        # never regress below the stream's own start
        return {"snapshot_id": max(cur or 0, self.after_id)}

    def _sidecar_parts(self, m: dict, sid: int) -> list[InputPartition]:
        import glob as _glob

        dd = m.get("deleted_docs")
        if dd is None:
            if int(m.get("deleted_rows") or 0) == 0:
                return []  # no-op delete: nothing was removed
            raise RuntimeError(
                f"cdc feed of {self.root}: delete commit {sid} recorded no "
                f"deleted-docs sidecar (SQL-string predicate "
                f"{m.get('delete_predicate')!r}) — its retraction cannot be "
                f"emitted. Use Column-predicate deletes on CDC-fed tables; "
                f"they persist the matched doc_id set"
            )
        files = sorted(
            _glob.glob(os.path.join(sn._abs_path(self.root, dd["loc"]), "part-*.parquet"))
        )
        return [_FilePartition(p, self.schema_json, "delete", sid) for p in files]

    def partitions(self, start: dict, end: dict):
        parts: list[InputPartition] = []
        # one raw-manifest load per commit in the span (plus the span's
        # entry parent): consecutive appends diff against the PREVIOUS
        # iteration's raw dict instead of re-loading both sides per
        # commit — a k-commit catch-up after downtime plans with k+1
        # manifest reads, not ~3k
        prev: tuple[int, dict] | None = None

        def load_raw(sid: int) -> dict:
            try:
                return sn._load_manifest_raw(self.root, sid)
            except FileNotFoundError:
                raise RuntimeError(
                    f"snapshot {sid} of {self.root} expired before the stream "
                    "consumed it — size retention (expire_snapshots keep_last/"
                    "older_than_s) above the stream's maximum lag"
                ) from None

        def diff_added(m: dict) -> list[str]:
            pid = m["parent_id"]
            if pid is None:
                from_raw = None
            elif prev is not None and prev[0] == pid:
                from_raw = prev[1]
            else:
                from_raw = load_raw(pid)
            return sn._manifest_diff_raw(self.root, from_raw, m)

        for sid in range(start["snapshot_id"] + 1, end["snapshot_id"] + 1):
            m = load_raw(sid)
            if m["operation"] == "append":
                files = diff_added(m)
            elif m["operation"] == "upsert":
                # the staged generation streams as inserts (both modes);
                # in CDC mode the replaced generation is retracted first
                # from the commit's matched-keys sidecar
                if self.cdc:
                    uk = m.get("upsert_keys")
                    if uk and int(uk.get("n_replaced") or 0) > 0:
                        import glob as _glob

                        side = sorted(
                            _glob.glob(
                                os.path.join(
                                    sn._abs_path(self.root, uk["loc"]), "part-*.parquet"
                                )
                            )
                        )
                        parts.extend(
                            _FilePartition(p, self.schema_json, "delete", sid)
                            for p in side
                        )
                files = diff_added(m)
            elif m["operation"] in ("overwrite", "rollback"):
                # rollback is an overwrite-class commit (rollback_table
                # restores an earlier generation as new table state): in
                # CDC mode retract the undone parent generation, then
                # emit the restored generation — otherwise consumers
                # silently diverge from the table across a rollback.
                # Both legs stream raw files: neither side may carry
                # pending MoR filters (rollback copies the target's)
                if m.get("row_filters"):
                    raise _mor_pending(self.root, sid)
                if self.cdc and m.get("parent_id") is not None:
                    # truncate-and-load: retract the parent generation...
                    if prev is not None and prev[0] == m["parent_id"]:
                        pm = prev[1]
                    else:
                        try:
                            pm = sn._load_manifest_raw(self.root, m["parent_id"])
                        except FileNotFoundError:
                            raise RuntimeError(
                                f"cdc feed of {self.root}: overwrite commit {sid}'s "
                                f"parent {m['parent_id']} expired — its retraction "
                                f"cannot be emitted (retention outran the stream)"
                            ) from None
                    if pm.get("row_filters"):
                        raise _mor_pending(self.root, m["parent_id"])
                    parts.extend(
                        _FilePartition(
                            sn._abs_path(self.root, f["path"]), self.schema_json, "delete", sid
                        )
                        for f in sn._expand_manifest(self.root, pm)["files"]
                    )
                # ...then (both modes) emit the new generation in full
                files = [
                    sn._abs_path(self.root, f["path"])
                    for f in sn._expand_manifest(self.root, m)["files"]
                ]
            elif m["operation"] == "delete" and self.cdc:
                parts.extend(self._sidecar_parts(m, sid))
                files = []
            else:  # delete (append feed) / replace: no appended rows
                files = []
            parts.extend(_FilePartition(p, self.schema_json, "insert", sid) for p in files)
            prev = (sid, m)
        if not parts:
            # delete/replace-only span: the offset advances, no rows —
            # one sentinel partition, because read(None) is what the
            # engine does with an empty sequence
            return _partitions_or_empty_sentinel([], self.schema_json)
        return parts

    def read(self, partition):
        if not self.cdc:
            yield from _read_aligned(partition.path, partition.schema_json)
            return
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _St

        full = to_arrow_schema(_St.fromJson(json.loads(self.full_schema_json)))
        op = getattr(partition, "op", "insert")
        cid = getattr(partition, "commit_id", None)
        for batch in _read_aligned(partition.path, partition.schema_json):
            arrays = []
            for field in full:
                if field.name == CDC_OP_COL:
                    arrays.append(pa.repeat(pa.scalar(op, type=field.type), batch.num_rows))
                elif field.name == CDC_COMMIT_COL:
                    arrays.append(pa.repeat(pa.scalar(cid, type=field.type), batch.num_rows))
                else:
                    arrays.append(batch.column(field.name))
            yield pa.RecordBatch.from_arrays(arrays, schema=full)

    def commit(self, end: dict) -> None:
        pass  # the engine's offset log is the source of truth

    def stop(self) -> None:
        pass


class _StagedFiles(WriterCommitMessage):
    """One task's staged output: the parquet file it wrote (or None for
    an empty task) and the per-task dir that owns its lifecycle."""

    def __init__(self, path: str | None, dir: str | None):
        self.path = path
        self.dir = dir


class _SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """writeStream INTO a snapshot table: each micro-batch commits as ONE
    snapshot (append mode; ``outputMode("complete")`` maps to overwrite
    commits), so every stream write is time-travelable, tail-validatable,
    and guarded by the same commit CAS as any other writer.

    Exactly-once: executors stage each task's rows as a parquet file in
    a private ``data/snap-st-*`` dir (the same unreferenced-until-commit
    lifecycle as ``snapshot_write``'s data dirs — vacuum reclaims
    orphans by membership+age); the driver commits them with
    ``commit_staged_files`` recording ``stream_batch_id`` (and
    ``stream_epoch``) in the manifest. A replayed batch (engine crash
    between sink commit and offset-log write) finds its id already
    committed and discards its re-staged files instead of
    double-committing.

    The replay ledger is TWO records that cross-check each other:

    * the manifest property — written atomically WITH the commit, so it
      is authoritative for every commit that still resolves;
    * ``manifest/stream_ledger.json`` — a tiny tmp+rename file updated
      AFTER each batch, recording (epoch, batch id, checked_through).
      It makes the lookup O(commits since the previous batch) instead of
      O(interleaved commits since the last stream commit) — the walk
      stops at ``checked_through``, a snapshot id at or below which every
      manifest has already been examined — and it keeps the ledger
      READABLE after retention expires the manifests that carried it
      (previously a replayed batch would double-commit there, silently).
      A crash between commit and ledger write is covered by the walk
      (the un-ledgered commit sits above ``checked_through``).

    Checkpoint resets are refused, not silently absorbed: a batch id
    BELOW the ledger within the same epoch can only come from a NEW
    query on a fresh checkpoint (a healthy restart replays exactly the
    last batch), and discarding its batches would be silent data loss —
    the sink raises with the remedy (``.option("ledger_epoch", n)``, a
    deliberate epoch bump that starts a fresh id sequence while keeping
    replay protection within each epoch). One streaming writer per table
    per epoch: a stale writer from an older epoch raises too."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        overwrite: bool,
        guard: str | None,
        epoch: int = 0,
    ):
        self.root = root
        self.schema = schema
        self.overwrite = overwrite
        self.guard = guard
        self.epoch = epoch

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        task_dir = os.path.join(self.root, "data", f"snap-st-{uuid.uuid4().hex[:12]}")
        path = None
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    os.makedirs(task_dir, exist_ok=True)
                    path = os.path.join(task_dir, f"part-0-{uuid.uuid4().hex[:8]}.parquet")
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        return _StagedFiles(path, task_dir if path else None)

    def _ledger_path(self) -> str:
        return os.path.join(sn._manifest_dir(self.root), "stream_ledger.json")

    def _write_ledger(self, epoch: int, batch: int, checked_through: int) -> None:
        sn._atomic_write(
            self._ledger_path(),
            json.dumps(
                {
                    "stream_epoch": int(epoch),
                    "stream_batch_id": int(batch),
                    "checked_through": int(checked_through),
                }
            ),
        )

    def _last_stream_state(self) -> tuple[tuple[int, int] | None, int | None]:
        """((epoch, batch) of the newest stream commit, CURRENT id).
        Ledger file + bounded manifest walk: only manifests ABOVE the
        ledger's ``checked_through`` are loaded (the crash window between
        a commit and its ledger write), so interleaved non-stream commits
        are each examined once ever, and retention expiring ledgered
        manifests no longer blinds the sink. (None, cur) means "no prior
        stream batch provable" — only reachable on a pre-ledger table
        whose history retention already expired."""
        ledger = None
        try:
            with open(self._ledger_path()) as f:
                ledger = json.load(f)
        except FileNotFoundError:
            pass
        floor = int(ledger["checked_through"]) if ledger else 0
        best: tuple[int, int] | None = (
            (int(ledger["stream_epoch"]), int(ledger["stream_batch_id"])) if ledger else None
        )
        cur = sn.current_snapshot_id(self.root)
        sid = cur
        while sid and sid > floor:
            try:
                m = sn._load_manifest_raw(self.root, sid)
            except FileNotFoundError:
                if ledger is not None:
                    break  # the ledger already covers the expired span
                # pre-ledger table with expired history: unknowable —
                # the same retention-ahead-of-checkpoint operator error
                # the stream READER diagnoses loudly
                return None, cur
            b = (m.get("properties") or {}).get("stream_batch_id")
            if b is not None:
                # newest stream commit on the chain; the ledger can only
                # be at or behind it (written after the commit)
                e = int((m.get("properties") or {}).get("stream_epoch", 0))
                found = (e, int(b))
                best = found if best is None or found > best else best
                break
            sid = m["parent_id"]
        return best, cur

    def commit(self, messages, batchId: int) -> None:
        import shutil

        dirs = [m.dir for m in messages if m is not None and m.dir]
        paths = [m.path for m in messages if m is not None and m.path]
        best, cur = self._last_stream_state()
        if best is not None:
            last_epoch, last_batch = best
            if self.epoch < last_epoch:
                raise ValueError(
                    f"stream sink for {self.root}: this query writes epoch "
                    f"{self.epoch} but the table's ledger is at epoch "
                    f"{last_epoch} — a newer query owns this table (one "
                    f"streaming writer per table per epoch)"
                )
            if self.epoch == last_epoch and batchId < last_batch:
                # a healthy restart replays exactly the LAST batch; a
                # smaller id means a fresh checkpoint restarted the id
                # sequence — silently discarding its batches would be
                # silent data loss, so refuse with the remedy
                raise ValueError(
                    f"stream sink for {self.root}: batch {batchId} is below "
                    f"the table's committed stream batch {last_batch} (epoch "
                    f"{last_epoch}) — this looks like a NEW query on a fresh "
                    f"checkpoint. To start a new id sequence deliberately, "
                    f'set .option("ledger_epoch", {last_epoch + 1}) on the sink'
                )
            if self.epoch == last_epoch and batchId == last_batch:
                # replayed batch (crash between sink commit and offset-log
                # write): already durably committed — drop the re-staged
                # files, never double-commit; advance checked_through so
                # the walk above stays amortized O(changed)
                for d in dirs:
                    shutil.rmtree(d, ignore_errors=True)
                if cur is not None:
                    self._write_ledger(last_epoch, last_batch, cur)
                return
        if not paths:
            return  # empty micro-batch: no snapshot, nothing staged
        sid = sn.commit_staged_files(
            self.root,
            paths,
            self.schema,
            mode="overwrite" if self.overwrite else "append",
            properties={"stream_batch_id": int(batchId), "stream_epoch": int(self.epoch)},
            guard=self.guard,
        )
        # ledger write AFTER the commit: a crash here leaves the commit
        # above checked_through, where the next walk finds it
        self._write_ledger(self.epoch, batchId, sid)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        for m in messages:
            if m is not None and m.dir:
                shutil.rmtree(m.dir, ignore_errors=True)


class SnapshotDataSource(DataSource):
    """``format("ovalspark_snapshots")`` — options:

    - ``path`` (required): table root
    - ``snapshot_id`` (batch): time travel to a specific commit
    - ``tag`` (batch): time travel to a NAMED snapshot (snapshots.create_tag)
    - ``pushdown`` (batch): "true" routes pushed filters into two-level
      manifest pruning (one load() per query — ``_PruningBatchReader``)
    - ``prune`` (batch): "col:lo:hi[;col:lo:hi...]" — explicit load-scoped
      two-level pruning (cache-safe: fixed at load() time); the caller
      still applies the row filter, exactly like ``snapshot_read(prune=)``
    - ``after_id`` (stream read): start after this commit id (default 0
      = from table birth, the file-source convention)
    - ``cdc`` (stream read): "true" emits a change feed instead of the
      append feed — every row carries ``_op`` ('insert'|'delete') and
      ``_commit_id``, deletes/overwrites emit retractions (see
      ``_SnapshotStreamReader``), so a mirror folding the feed converges
      to the table
    - ``guard`` (stream write): commit-guard name for the sink's
      snapshot commits (default: the ``OVALSPARK_COMMIT_GUARD`` env)
    - ``ledger_epoch`` (stream write): replay-ledger epoch (default 0).
      Bump it when deliberately restarting a query on a FRESH checkpoint
      against a table with prior stream commits — the sink refuses a
      rewound batch-id sequence within an epoch rather than silently
      discarding the new query's batches
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                f'{FORMAT_NAME} requires .option("path", <table root>) or .load(<table root>)'
            )
        return root

    def _cdc(self) -> bool:
        return str(self.options.get("cdc", "")).lower() == "true"

    def _sid(self) -> int | None:
        """Resolve the batch time-travel target: explicit ``snapshot_id``,
        a named ``tag``, or CURRENT."""
        sid = self.options.get("snapshot_id")
        tag = self.options.get("tag")
        if sid is not None and tag is not None:
            raise ValueError('pass option "snapshot_id" or "tag", not both')
        if tag is not None:
            return sn.resolve_tag(self._root(), tag)
        return int(sid) if sid is not None else None

    def schema(self) -> StructType:
        m = sn._load_manifest_raw(self._root(), self._sid())
        base = sn._committed_schema(m)
        return _cdc_schema(base) if self._cdc() else base

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._cdc():
            raise ValueError(
                'option "cdc" is a STREAMING read option — a batch read of '
                "table state has no row operations to report (use readStream, "
                "or drop the option)"
            )
        sid = self._sid()
        cls = (
            _PruningBatchReader
            if str(self.options.get("pushdown", "")).lower() == "true"
            else _SnapshotBatchReader
        )
        return cls(
            self._root(),
            sid,
            schema,
            prune=_parse_prune(self.options.get("prune")),
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SnapshotStreamReader(
            self._root(),
            int(self.options.get("after_id") or 0),
            schema,
            cdc=self._cdc(),
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _SnapshotStreamWriter(
            self._root(),
            schema,
            overwrite,
            self.options.get("guard"),
            epoch=int(self.options.get("ledger_epoch") or 0),
        )


def _package_zip() -> str | None:
    """Content-addressed source zip of the installed ovalspark package
    (the make_pyfiles recipe: sorted members, zeroed timestamps). None
    when the package isn't a real directory — i.e. it already arrived
    via --py-files, so executors have it by the same mechanism."""
    import hashlib
    import tempfile
    import zipfile

    import ovalspark

    pkg = os.path.dirname(os.path.abspath(ovalspark.__file__))
    if not os.path.isdir(pkg):
        return None
    members = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                arc = os.path.join("ovalspark", os.path.relpath(full, pkg))
                with open(full, "rb") as f:
                    members.append((arc, f.read()))
    digest = hashlib.sha256(b"".join(d for _, d in members)).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"ovalspark-src-{digest}.zip")
    if not os.path.exists(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for arc, data in members:
                info = zipfile.ZipInfo(arc, date_time=(1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                zf.writestr(info, data, zipfile.ZIP_DEFLATED)
        os.replace(tmp, out)
    return out


def register_snapshot_source(spark) -> None:
    """Register the format and make it importable on executors: the
    DataSource class pickles by reference, so workers that didn't get
    the package via --py-files or a shared filesystem path get it as an
    addPyFile'd source zip (idempotent: content-addressed name, Spark
    dedups repeated adds).

    STREAMING caveat on foreign sessions: the streaming source runner is
    a driver-side subprocess that resolves imports from the JVM's env
    PYTHONPATH — addPyFile does not reach it. ``get_spark`` exports the
    package path before the JVM launches and ``spark-submit --py-files``
    covers it natively; a session built some other way must have had
    PYTHONPATH set (or the package pip-installed) before JVM start for
    readStream/writeStream — batch reads work regardless."""
    z = _package_zip()
    if z is not None:
        spark.sparkContext.addPyFile(z)
    spark.dataSource.register(SnapshotDataSource)


__all__ = ["SnapshotDataSource", "register_snapshot_source", "FORMAT_NAME"]
