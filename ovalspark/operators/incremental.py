"""Delta-scoped (incremental) validation over the snapshot layer.

oval validates every PUT's read-back immediately, object by object
(``internal/runner/worker.go:100-118`` in /root/reference: each worker
GETs what it just wrote and verifies the pattern before moving on). The
batch analog at 100 TB is NOT re-validating the corpus per commit — it is
validating exactly the files a new snapshot ADDED, discovered from a
manifest file-list diff (pure metadata, ``sources/snapshots.manifest_diff``)
and handed to Spark as an explicit parquet file list. The plan's input is
therefore O(new data): a 1 GB append onto a 100 TB table reads 1 GB, and
pre-existing files are provably never opened (``DataFrame.inputFiles`` is
asserted in tests/test_incremental.py).

The caller supplies the expected-state catalog for the delta — the same
knowledge oval's writer has about what it PUT. Against that catalog the
full per-doc constraint set runs unchanged (span sequence, size,
generation, media refs via ``validate_spans``; LOST/PHANTOM via
``check_existence``), so delta validation is value-identical to full
validation restricted to the added documents (gate query q53 checks this
against the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ovalspark.functions import spans as sp
from ovalspark.operators.existence import check_existence
from ovalspark.operators.spans import VIOLATION_SCHEMA, validate_spans
from ovalspark.session import _empty
from ovalspark.sources.snapshots import _committed_schema, _load_manifest_raw, manifest_diff


def validate_snapshot_delta(
    spark: SparkSession,
    root: str,
    catalog: DataFrame,
    n_assets: int = sp.DEFAULT_N_ASSETS,
    from_id: int | None = None,
    to_id: int | None = None,
    broadcast_catalog: bool = True,
    added: list[str] | None = None,
) -> DataFrame:
    """Validate ONLY the files added between two snapshots of the table at
    ``root`` (``from_id`` exclusive → ``to_id`` inclusive; ``to_id=None``
    = CURRENT) against ``catalog``, the expected state of the documents in
    that delta. Returns VIOLATION_SCHEMA rows. ``added`` lets a caller
    that already diffed the manifests (the tail loop) pass the file list
    instead of diffing again.

    Existence semantics are delta-scoped: every catalog entry with
    ``exists`` must appear in the ADDED files (else LOST_DOC) and every
    added document must be in the catalog (else PHANTOM_DOC) — i.e. the
    catalog describes the append, not the whole table, exactly as oval's
    worker verifies its own PUTs and nothing else. An empty diff (e.g.
    from_id == to_id) validates nothing and returns no rows — unless the
    catalog expects documents, which are then all LOST.
    """
    if added is None:
        added = manifest_diff(root, from_id, to_id)
    if not added:
        import pyspark.sql.functions as F

        # no files added: everything the catalog expected is lost (the
        # LOST leg of check_existence needs no docs side at all)
        return _empty(spark, VIOLATION_SCHEMA).unionByName(
            catalog.filter(F.col("exists")).select(
                F.col("partition_id").cast("int").alias("partition_id"),
                "doc_id",
                F.lit(None).cast("int").alias("span_idx"),
                F.lit("existence").alias("field"),
                F.lit("present").alias("expected"),
                F.lit("missing").alias("actual"),
                F.lit("LOST_DOC").alias("violation_class"),
                F.col("writer_id").cast("int").alias("writer_id"),
                F.lit(None).cast("timestamp").alias("written_at"),
            )
        )
    # read at to_id's committed schema (snapshot_read's read contract):
    # no schema-inference job, column presence never depends on a file
    docs = spark.read.schema(_committed_schema(_load_manifest_raw(root, to_id))).parquet(*added)
    return validate_spans(docs, catalog, n_assets, broadcast_catalog).unionByName(
        check_existence(docs, catalog)
    )


def validate_delete(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    predicate: str | None = None,
    full_scan: bool = False,
) -> DataFrame:
    """Read-back verification of a DELETE commit — oval's
    delete-then-verify loop (a deleted object must read back as absent,
    ``internal/runner/worker.go`` delete + existence re-check) at table
    granularity: scan the commit's REWRITTEN files and emit a
    ``DELETE_SURVIVOR`` violation row for every row still matching the
    delete predicate. Scope is O(affected files) by default — the files
    the delete did NOT touch were proven match-free by the commit's own
    discovery scan; ``full_scan=True`` re-verifies that proof too
    (O(table), for audits that trust nothing).

    ``predicate`` defaults to the one recorded in the manifest
    (SQL-string deletes record it). A Column delete records None — but
    persists the matched doc_id set as a ``_deleted`` sidecar
    (``snapshots.read_deleted_docs``), so verification falls back to a
    semi-join of survivors against that set: a rewritten file smuggling
    a promised-deleted doc back still raises DELETE_SURVIVOR, fully
    self-contained. Only a pre-sidecar Column-delete commit (or a
    doc_id-less table) needs the predicate re-supplied. Returns
    VIOLATION_SCHEMA rows — an empty result is a verified delete."""
    import pyspark.sql.functions as F

    from ovalspark.sources.snapshots import _load_manifest_raw, manifest_diff, read_deleted_docs

    # raw form: every field this needs is top-level; only the full_scan
    # audit expands the file list (a tail at 10⁶ files must not pay an
    # O(table) segment expansion to read one commit's operation tag)
    m = _load_manifest_raw(root, snapshot_id)
    if m["operation"] != "delete":
        raise ValueError(
            f"snapshot {m['snapshot_id']} at {root} is {m['operation']!r}, not a delete commit"
        )
    pred_sql = predicate if predicate is not None else m.get("delete_predicate")
    if pred_sql is None and m.get("deleted_docs") is None:
        raise ValueError(
            "delete commit recorded no predicate (Column deletes cannot be "
            "serialized) and no deleted-docs sidecar — pass `predicate` "
            "explicitly to verify"
        )
    from ovalspark.sources.snapshots import _abs_path  # scoped file list

    if m.get("mor"):
        # a merge-on-read delete rewrote nothing: visibility is a READ
        # property, so the read-back verifies the stratified read itself
        # — survivors hunted over snapshot_read at the delete id. Cost is
        # O(scope) with the predicate pushed into each stratum's scan
        # (not the CoW path's O(rewritten)); MoR tables pay it until
        # materialize_deletes folds the filters away.
        from ovalspark.sources.snapshots import snapshot_read

        df = snapshot_read(spark, root, m["snapshot_id"])
    else:
        if full_scan:
            from ovalspark.sources.snapshots import _expand_manifest

            files = [_abs_path(root, f["path"]) for f in _expand_manifest(root, m)["files"]]
        else:
            files = manifest_diff(root, m["parent_id"], m["snapshot_id"])
        if not files:
            return _empty(spark, VIOLATION_SCHEMA)  # delete rewrote everything away: nothing can survive
        df = spark.read.parquet(*files)
    doc_id = F.col("doc_id").cast("string") if "doc_id" in df.columns else F.lit(None).cast("string")
    if pred_sql is not None:
        # survivor hunt selects predicate-TRUE rows: plain filter pushes
        # down (a coalesce wrapper would empty PushedFilters — measured)
        survivors = df.filter(F.expr(pred_sql))
        actual = F.lit(f"present (matches: {pred_sql})")
        field = F.lit("delete_predicate")
    else:
        # sidecar form: survivor = a row whose doc_id the commit promised
        # to delete. Semi-join keyed on a string — shuffles O(survivors +
        # deleted set), never O(table); AQE broadcasts small sets
        promised = read_deleted_docs(spark, root, m["snapshot_id"])
        survivors = df.join(
            promised.withColumnRenamed("doc_id", "_del_doc"),
            F.col("doc_id").cast("string") == F.col("_del_doc"),
            "left_semi",
        )
        actual = F.lit("present (doc_id in recorded delete set)")
        field = F.lit("deleted_docs")
    return survivors.select(
        F.lit(None).cast("int").alias("partition_id"),
        doc_id.alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        field.alias("field"),
        F.lit("deleted").alias("expected"),
        actual.alias("actual"),
        F.lit("DELETE_SURVIVOR").alias("violation_class"),
        F.lit(None).cast("int").alias("writer_id"),
        F.lit(None).cast("timestamp").alias("written_at"),
    )


def validate_upsert(
    spark: SparkSession,
    root: str,
    snapshot_id: int,
) -> "DataFrame":
    """Read-back verification of a MERGE commit
    (``snapshots.snapshot_upsert``): after the upsert, every staged key
    must resolve to EXACTLY ONE row — its new generation. Two failure
    shapes, both in VIOLATION_SCHEMA: ``UPSERT_STALE_GENERATION`` (a
    staged key resolves to >1 row: the keys-filter failed to hide the
    replaced generation) and ``UPSERT_LOST`` (a staged key resolves to
    none: a filter over-matched and swallowed the new row). Staged keys
    come from the commit's own added files (``manifest_diff`` — O(added)
    discovery, read at the committed schema); the multiplicity check
    reads the table AS OF the upsert id ONCE, through the same
    stratified read users get. Staged keys are unique (the upsert
    contract), so both legs are one match count per staged key: 0 is
    LOST, more than 1 is STALE. Empty result = a verified merge."""
    import pyspark.sql.functions as F

    from ovalspark.sources.snapshots import snapshot_read

    m = _load_manifest_raw(root, snapshot_id)
    if m["operation"] != "upsert":
        raise ValueError(
            f"snapshot {m['snapshot_id']} at {root} is {m['operation']!r}, not an upsert commit"
        )
    key = m["upsert_key"]
    added = manifest_diff(root, m["parent_id"], m["snapshot_id"])
    if not added:  # zero staged rows never commit; defensive
        return _empty(spark, VIOLATION_SCHEMA)
    # the commit enforced key-unique staging: no distinct() needed
    staged = spark.read.schema(_committed_schema(m)).parquet(*added).select(key)
    counts = (
        snapshot_read(spark, root, m["snapshot_id"])
        .select(key)
        .join(staged, key, "left_semi")
        .groupBy(key)
        .agg(F.count("*").alias("_n"))
    )
    n = F.coalesce(F.col("_n"), F.lit(0))
    return staged.join(counts, key, "left").filter(n != 1).select(
        F.lit(None).cast("int").alias("partition_id"),
        F.col(key).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit("upsert_key").alias("field"),
        F.lit("exactly one generation").alias("expected"),
        F.when(n == 0, F.lit("absent"))
        .otherwise(F.concat(F.lit("present "), n.cast("string"), F.lit(" times")))
        .alias("actual"),
        F.when(n == 0, F.lit("UPSERT_LOST"))
        .otherwise(F.lit("UPSERT_STALE_GENERATION"))
        .alias("violation_class"),
        F.lit(None).cast("int").alias("writer_id"),
        F.lit(None).cast("timestamp").alias("written_at"),
    )


def validate_replace(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Equivalence verification of a REPLACE (compaction) commit: the
    rewritten files must carry EXACTLY the rows of the files they
    replaced — same count, same unordered content hash — because a
    compaction is a layout change, not a data change. This is what lets
    the tail treat a compact commit as a cheap flat hash pass over the
    rewritten bytes instead of an O(table) re-run of the full constraint
    suite against a catalog that describes no new data.

    Both sides hash every row with ``xxhash64`` over all committed
    columns (order-independent SUM, widened to decimal so ANSI mode
    cannot overflow), reading removed files at the PARENT's committed
    schema and added files at the commit's; a fold (parent with pending
    ``row_filters``) reads its removed side through the parent's filters
    — a compaction that dropped,
    duplicated, or mutated any row shifts count and/or hashsum. Returns
    VIOLATION_SCHEMA rows: empty = verified; one ``REPLACE_MISMATCH``
    row otherwise. Hash collisions (a mutation set whose xxhash64 sum
    cancels exactly) are the standard multiset-hash residual risk —
    vanishing in practice, and any count change is caught exactly."""
    import pyspark.sql.functions as F

    from ovalspark.sources.snapshots import _abs_path, _filter_groups, _read_segment, _read_strata

    m = _load_manifest_raw(root, snapshot_id)
    if m["operation"] != "replace":
        raise ValueError(
            f"snapshot {m['snapshot_id']} at {root} is {m['operation']!r}, not a replace commit"
        )
    try:
        pm = _load_manifest_raw(root, m["parent_id"])
    except FileNotFoundError:
        # age-based retention can expire the parent between the compaction
        # and the tail catching up — equivalence is then genuinely
        # unverifiable. A diagnosable row beats an unexplained crash: the
        # consumer sees WHICH commit could not be verified and why, and
        # can re-run after restoring history or accept the gap.
        return spark.createDataFrame(
            [
                (
                    None,
                    f"snapshot={m['snapshot_id']}",
                    None,
                    "replace_equivalence",
                    f"parent manifest {m['parent_id']} resolvable",
                    "parent snapshot expired/missing (retention ran before the tail)",
                    "REPLACE_UNVERIFIED",
                    None,
                    None,
                )
            ],
            VIOLATION_SCHEMA,
        )
    # segment refs shared by parent and child (same immutable loc) hold
    # identical paths on both sides — they cancel in the set difference
    # without expansion, and the table's duplicate-free-paths invariant
    # (property-tested) guarantees a path inside a shared segment cannot
    # ALSO appear loose or in a non-shared segment. So the diff reads
    # O(changed metadata): a compaction of fresh tail debt, or a
    # metadata-only merge_segments commit, never expands the settled
    # history to prove itself equivalent.
    m_segs = m.get("file_segments") or []
    pm_segs = pm.get("file_segments") or []
    common = {r["loc"] for r in m_segs} & {r["loc"] for r in pm_segs}

    def _paths(raw, segs):
        out = {f["path"] for f in raw["files"]}
        for ref in segs:
            if ref["loc"] not in common:
                out.update(e["path"] for e in _read_segment(root, ref["loc"]))
        return out

    new_paths = _paths(m, m_segs)
    old_paths = _paths(pm, pm_segs)
    removed = [_abs_path(root, p) for p in sorted(old_paths - new_paths)]
    added = [_abs_path(root, p) for p in sorted(new_paths - old_paths)]

    def _sig(raw, paths):
        if not paths:
            return (0, 0)
        if raw.get("row_filters"):  # the strata, restricted to ``paths``
            wanted = set(paths)
            strata = {
                sig: kept
                for sig, ps in _filter_groups(root, raw, None).items()
                if (kept := [p for p in ps if p in wanted])
            }
            df = _read_strata(spark, root, raw["row_filters"], strata, _committed_schema(raw))
        else:
            df = spark.read.schema(_committed_schema(raw)).parquet(*paths)
        h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
        return (row["n"], int(row["h"] or 0))

    want = _sig(pm, removed)
    got = _sig(m, added)
    if want == got:
        return _empty(spark, VIOLATION_SCHEMA)
    return spark.createDataFrame(
        [
            (
                None,
                f"snapshot={m['snapshot_id']}",
                None,
                "replace_equivalence",
                f"rows={want[0]} hashsum={want[1]}",
                f"rows={got[0]} hashsum={got[1]}",
                "REPLACE_MISMATCH",
                None,
                None,
            )
        ],
        VIOLATION_SCHEMA,
    )


def stored_catalog_for(spark: SparkSession, table_root: str):
    """A ``catalog_for`` callable for tailers WITHOUT the writer's
    in-memory expected sets, deriving each commit's expectation from the
    stored state (the CLI tail's mode). Per commit, in preference order:

    1. The commit's manifest-recorded EXPECTED doc set
       (``snapshot_write(..., expect=...)`` / ``TableSet.save`` sidecar):
       the stored catalog semi-joined on the ids the writer PROMISED —
       full coverage including LOST_DOC (a promised doc that was never
       written has an expectation row but no doc row, so the existence
       anti-join reports it), self-contained from the manifest alone.
    2. Fallback for commits that recorded no expectation: the stored
       catalog semi-joined on the ids the commit actually WROTE — every
       span/field violation and PHANTOM_DOC, but structurally no
       LOST_DOC (an unwritten doc has no row to join on).

    The catalog is re-read PER COMMIT, never frozen at startup: a
    long-running tailer that cached it would validate later commits
    against a stale catalog — their legitimately new docs all
    false-PHANTOM and their span checks silently skipped. When the docs
    commit PINS a catalog generation (``TableSet.save`` records
    ``catalog_snapshot_id`` in the manifest), the read time-travels to
    that id: a tail that wakes up N saves behind validates each docs
    commit against the catalog that described IT, not whatever is
    latest — and the two-commit save's crash window (catalog landed,
    docs didn't... next save's catalog lands) stops being observable.
    A pin that retention has since expired falls back to latest with a
    warning — the pre-pin behavior, not a crash."""
    from ovalspark.sources import read_table
    from ovalspark.sources.snapshots import _load_manifest_raw, read_expected_docs

    docs_root = f"{table_root}/documents"

    def catalog_for(sid: int):
        m = _load_manifest_raw(docs_root, sid)  # properties are top-level
        pin = (m.get("properties") or {}).get("catalog_snapshot_id")
        try:
            catalog = read_table(
                spark, f"{table_root}/catalog", fmt="snapshot", snapshot_id=pin
            )
        except FileNotFoundError:
            if pin is None:
                raise
            import logging

            logging.getLogger("ovalspark").warning(
                "docs commit %s pins catalog snapshot %s which retention "
                "expired — validating against the latest catalog instead",
                sid,
                pin,
            )
            catalog = read_table(spark, f"{table_root}/catalog", fmt="snapshot")
        exp = read_expected_docs(spark, docs_root, sid)
        if exp is not None:
            return catalog.join(exp.select("doc_id"), "doc_id", "semi")
        parent = m["parent_id"]
        added = manifest_diff(docs_root, parent if parent else None, sid)
        if not added:
            # empty commit (no-op append): nothing claimed, nothing
            # expected — validate_snapshot_delta handles the empty scope
            return catalog.limit(0)
        ids = spark.read.parquet(*added).select("doc_id")
        return catalog.join(ids, "doc_id", "semi")

    return catalog_for


def iter_commit_batches(
    root: str,
    after_id: int = 0,
    timeout_s: float = 10.0,
    poll_interval_s: float = 0.2,
):
    """Yield LISTS of pending committed snapshot ids — everything that
    landed since the last poll, in one batch — until no new commit lands
    within ``timeout_s``. A tailer that wakes up N commits behind sees
    them as ONE list and can validate the whole backlog in one job
    instead of N (the backlog-batching lever).

    The CURRENT pointer is the single visibility boundary (the same
    contract ``load_manifest`` enforces), so a torn commit — a manifest
    file at CURRENT+1 whose writer died before the flip — is never
    yielded: this only ever walks ids ≤ CURRENT. The poll is one small
    file read; no Spark work happens here — but on a REMOTE filesystem
    each poll is still a round-trip open+read, so size
    ``poll_interval_s`` to the deployment (the 0.2 s default suits local
    disk; seconds-to-minutes is right for NFS/object-store gateways,
    where commit cadence, not poll latency, bounds freshness anyway).
    """
    import time as _time

    from ovalspark.sources.snapshots import current_snapshot_id

    last = after_id
    deadline = _time.monotonic() + timeout_s
    while True:
        cur = current_snapshot_id(root)
        if cur is not None and cur > last:
            yield list(range(last + 1, cur + 1))
            last = cur
            deadline = _time.monotonic() + timeout_s  # activity resets the clock
            continue
        if _time.monotonic() >= deadline:
            return
        _time.sleep(poll_interval_s)


def iter_committed_snapshots(
    root: str,
    after_id: int = 0,
    timeout_s: float = 10.0,
    poll_interval_s: float = 0.2,
):
    """Yield committed snapshot ids after ``after_id`` one at a time, in
    commit order (``iter_commit_batches`` flattened)."""
    for batch in iter_commit_batches(root, after_id, timeout_s, poll_interval_s):
        yield from batch


def validate_snapshot_tail(
    spark: SparkSession,
    root: str,
    catalog_for,
    n_assets: int = sp.DEFAULT_N_ASSETS,
    after_id: int = 0,
    timeout_s: float = 10.0,
    poll_interval_s: float = 0.2,
    broadcast_catalog: bool = True,
    batch_commits: bool = False,
):
    """Continuously validate a snapshot table as commits land — the living
    form of oval's validate-every-PUT loop (worker.go:100-118: each worker
    verifies what it just wrote before moving on). Yields
    ``(snapshot_id, violations)`` for every snapshot committed after
    ``after_id``, in commit order, where ``violations`` is the
    delta-scoped validation of exactly the files that snapshot added
    (``validate_snapshot_delta`` — the plan is O(new data) per commit,
    pre-existing files are never re-opened).

    ``catalog_for(snapshot_id)`` supplies the expected-state catalog for
    that commit's delta — the writer-side knowledge oval's worker has
    about its own PUTs. Each delta validates against ITS OWN snapshot's
    parent (read from the manifest), so a tailer that starts at
    ``after_id > 0`` resumes mid-table without re-validating history:
    persist the last yielded id and pass it back as ``after_id`` —
    commit-id lineage, the same resume contract as the batch runner's
    checkpoint manifest.

    The generator ends when no commit lands within ``timeout_s`` (pass
    ``float("inf")`` for a true daemon). Laziness caveat: consume each
    yielded DataFrame (collect/write) before advancing if you need
    results ordered with respect to later overwrites — the yielded plan
    reads the delta's immutable file list, so it stays byte-stable even
    after subsequent commits, but vacuum of overwritten files invalidates
    plans held across an overwrite.

    ``batch_commits=True`` changes the yield shape to ``(snapshot_ids,
    violations)`` with ``snapshot_ids`` a LIST: a k-commit backlog that
    passes the safety checks (appends-only span, disjoint per-commit doc
    sets — ``_tail_deltas``) arrives as ONE item whose single delta job
    spans the whole backlog, instead of k jobs at the measured ~2 s/job
    floor; unsafe spans fall back to per-commit items of length-1 lists.
    """
    for sids, files, v in _tail_deltas(
        spark,
        root,
        catalog_for,
        n_assets,
        after_id,
        timeout_s,
        poll_interval_s,
        broadcast_catalog,
        batch_commits,
    ):
        yield (sids, v) if batch_commits else (sids[0], v)


def _span_catalog(spark, catalog_for, sids):
    """Union of the per-commit expected sets for a span, each entry
    TAGGED with its commit id (``_sid``). Every span join keys on
    (doc_id, _sid), so the same doc_id MAY appear under different
    commits (a delete commit's survivors re-describe docs an earlier
    append introduced); what must hold is per-commit uniqueness — one
    expectation per doc WITHIN each commit — checked here in ONE tiny
    aggregation over the span's catalogs (O(delta docs), not O(corpus)).
    Returns (tagged_catalog, per_commit_unique)."""
    from functools import reduce

    from pyspark.sql import functions as F

    cats = [catalog_for(s).withColumn("_sid", F.lit(int(s))) for s in sids]
    union = reduce(lambda a, b: a.unionByName(b), cats).localCheckpoint()
    dup = (
        union.groupBy("_sid")
        .agg((F.count("*") != F.countDistinct("doc_id")).alias("dup"))
        .filter("dup")
        .count()
    )
    return union, dup == 0


def _validate_span(
    spark, root, span, manifests, cat_tagged, per_added, n_assets, broadcast_catalog
):
    """ONE Spark job validating a batched span of appends AND deletes,
    row-identical to the per-commit concatenation. The scope is the
    UNION OF PER-COMMIT DIFFS, not the span's end-state diff: a file
    appended by commit i and rewritten away by a later delete j is still
    read (snapshots are immutable — manifest i references it), tagged
    with commit i, and validated against i's expectation, exactly as the
    per-commit tail would have before the delete landed.

    Every join keys on (doc_id, _sid) — the tag comes from a broadcast
    file→commit map — which both preserves the misplacement attribution
    (a doc expected by commit i but written by commit j reports
    LOST_DOC(i) + PHANTOM_DOC(j) instead of cancelling in an untagged
    union) and lets the same doc_id legitimately carry different
    expectations in different commits (its pre- and post-delete state).
    Delete commits additionally ride their read-back obligation on the
    SAME tagged scan: rows of commit j's rewritten files still matching
    the recorded predicate emit DELETE_SURVIVOR(j), byte-identical to
    ``validate_delete``'s output."""
    import os

    from pyspark.sql import functions as F

    from ovalspark.sources.snapshots import _file_basename

    files = [p for s in span for p in per_added[s]]
    if not files:
        # no docs anywhere in the span: misplacement is impossible and
        # every exists-entry is LOST — identical per commit and batched
        return validate_snapshot_delta(
            spark, root, cat_tagged.drop("_sid"), n_assets, added=[]
        )
    fmap_rows = [
        (os.path.basename(p), int(s)) for s in span for p in per_added[s]
    ]
    fmap = spark.createDataFrame(fmap_rows, "_f string, _sid int")
    # read at the span's LAST committed schema — within an append/delete
    # run schemas only ever widen (additive evolution), so the last is
    # the union: pre-evolution files NULL-fill added columns instead of
    # the span failing analysis when a delete predicate names an evolved
    # column and inference happened to sample a pre-evolution file
    from ovalspark.sources.snapshots import _committed_schema

    docs = spark.read.schema(_committed_schema(manifests[span[-1]])).parquet(*files)
    docs_t = (
        docs.withColumn("_f", _file_basename(F.input_file_name()))
        .join(F.broadcast(fmap), "_f")
        .drop("_f")
    )
    v_fields = validate_spans(
        docs_t, cat_tagged, n_assets, broadcast_catalog, key=("doc_id", "_sid")
    )
    v_exist = check_existence(docs_t, cat_tagged, key=("doc_id", "_sid"))
    v = v_fields.unionByName(v_exist)
    for s in span:
        m = manifests[s]
        if m["operation"] == "delete" and m.get("delete_predicate"):
            pred_sql = m["delete_predicate"]
            doc_id = (
                F.col("doc_id").cast("string")
                if "doc_id" in docs.columns
                else F.lit(None).cast("string")
            )
            v = v.unionByName(
                docs_t.filter((F.col("_sid") == int(s)) & F.expr(pred_sql)).select(
                    F.lit(None).cast("int").alias("partition_id"),
                    doc_id.alias("doc_id"),
                    F.lit(None).cast("int").alias("span_idx"),
                    F.lit("delete_predicate").alias("field"),
                    F.lit("deleted").alias("expected"),
                    F.lit(f"present (matches: {pred_sql})").alias("actual"),
                    F.lit("DELETE_SURVIVOR").alias("violation_class"),
                    F.lit(None).cast("int").alias("writer_id"),
                    F.lit(None).cast("timestamp").alias("written_at"),
                )
            )
    return v


def _tail_deltas(
    spark,
    root,
    catalog_for,
    n_assets,
    after_id,
    timeout_s,
    poll_interval_s,
    broadcast_catalog,
    batch_commits=False,
):
    """Shared tail loop: yields (sids, added_files, violations) with the
    manifests loaded and diffed ONCE per item — the public tail reduces
    ``sids`` for its yield shape, the checkpointed tail records the whole
    span in its lineage.

    ``batch_commits=True`` batches a k-commit backlog into as FEW items
    as provable equivalence allows: maximal runs of consecutive
    APPEND/DELETE commits become ONE spanning job each (``_validate_span``
    — union of per-commit diffs, every join keyed (doc_id, commit), so a
    doc may carry different expectations pre- and post-delete and a doc
    written by the wrong commit reports LOST + PHANTOM exactly as
    per-commit validation would, never cancelling), while OVERWRITE and
    REPLACE commits break the run and go through as singletons (their
    diffs redefine the whole table; replace singletons verify by
    equivalence, see below) — so one periodic compaction inside an
    append backlog no longer forces the whole backlog per-commit. A run
    whose per-commit expected sets are not unique within each commit
    falls back to per-commit items — correctness first, the batching is
    purely an optimization. The table's very first commit (parent None)
    may lead a run even though it is an overwrite (nothing precedes it
    to be dropped). Equivalence is asserted in tests/test_incremental.py
    (batched backlog == concatenated per-commit runs, row-for-row,
    including misplaced-doc and interleaved-delete cases)."""
    # RAW manifests throughout: the tail dispatches on operation /
    # parent_id / delete fields and reads schemas from the top level —
    # it must never pay the O(table) segment expansion per poll just to
    # route a commit (the file lists it scans come from manifest_diff,
    # which already skips shared segments)
    from ovalspark.sources.snapshots import _load_manifest_raw, manifest_diff

    for pending in iter_commit_batches(root, after_id, timeout_s, poll_interval_s):
        manifests: dict = {}
        # (span, tagged_catalog_or_None) work items, in commit order
        items: list[tuple[list[int], object]] = [([s], None) for s in pending]
        if batch_commits and len(pending) > 1:
            manifests = {s: _load_manifest_raw(root, s) for s in pending}
            runs: list[list[int]] = []
            cur: list[int] = []
            for s in pending:
                if (
                    manifests[s]["operation"] in ("append", "delete")
                    or manifests[s]["parent_id"] is None
                ):
                    cur.append(s)
                else:
                    if cur:
                        runs.append(cur)
                        cur = []
                    runs.append([s])
            if cur:
                runs.append(cur)
            items = []
            for run in runs:
                if len(run) > 1:
                    cat_tagged, per_commit_unique = _span_catalog(spark, catalog_for, run)
                    if per_commit_unique:
                        items.append((run, cat_tagged))
                        continue
                    items.extend(([s], None) for s in run)
                else:
                    items.append((run, None))
        for span, cat_tagged in items:
            first, last = span[0], span[-1]
            m_first = manifests.get(first) or _load_manifest_raw(root, first)
            manifests[first] = m_first
            parent = m_first["parent_id"]
            from_id = parent if parent else None
            if len(span) > 1:
                # union of per-commit diffs, NOT the end-state diff: a
                # file appended then delete-rewritten inside the span
                # must still be validated under its own commit
                per_added = {
                    s: manifest_diff(
                        root, manifests[s]["parent_id"] or None, s
                    )
                    for s in span
                }
                files = [p for s in span for p in per_added[s]]
                v = _validate_span(
                    spark, root, span, manifests, cat_tagged, per_added, n_assets, broadcast_catalog
                )
            elif m_first["operation"] == "replace":
                # a compaction is a LAYOUT change, not a data change: its
                # manifest diff is the whole rewritten set, so delta
                # validation here would re-run the full constraint suite
                # over O(table) against a catalog describing no new data.
                # Verify EQUIVALENCE instead — one flat count+hashsum
                # pass over removed vs added files; a compaction that
                # silently drops/mutates a row is still caught
                files = manifest_diff(root, from_id, last)
                v = validate_replace(spark, root, first)
            else:
                files = manifest_diff(root, from_id, last)
                v = validate_snapshot_delta(
                    spark,
                    root,
                    catalog_for(first),
                    n_assets,
                    from_id=from_id,
                    to_id=last,
                    broadcast_catalog=broadcast_catalog,
                    added=files,
                )
                # a DELETE commit carries its own read-back obligation:
                # no surviving row in the rewritten files may match the
                # recorded predicate (oval's delete-then-verify). Rides
                # the same yielded plan over the same files — the scan is
                # shared, only the predicate filter is extra. Column
                # deletes record no predicate but DO persist the matched
                # doc set as a _deleted sidecar, which validate_delete
                # semi-joins against — every delete the writer can make
                # is read-back verified by the tail, self-contained.
                if m_first["operation"] == "delete" and (
                    m_first.get("delete_predicate") or m_first.get("deleted_docs")
                ):
                    v = v.unionByName(
                        validate_delete(spark, root, first, m_first.get("delete_predicate"))
                    )
                # a MERGE carries its own read-back obligation: each
                # staged key resolves to exactly its new generation
                if m_first["operation"] == "upsert":
                    v = v.unionByName(validate_upsert(spark, root, first))
            yield span, files, v


class TailState:
    """Durable tail checkpoint: the commit-id lineage of a continuous
    validation loop — which snapshot ids have been validated, with what
    result (violation count, files read), so a killed tailer resumes at
    the exact next commit and never re-validates or skips one.

    Write shape is O(1) per commit, not O(history): the per-snapshot
    lineage records go to an APPEND-ONLY ``<path>.lineage.jsonl`` (one
    line per validated snapshot) and only a tiny position file at
    ``path`` is atomically rewritten (tmp+rename, the batch runner's
    checkpoint-manifest recipe) — a tail that has followed 10⁶ commits
    appends one line and rewrites ~60 bytes, it does not re-serialize a
    million-entry dict. Ordering makes the crash contract: the lineage
    line is flushed BEFORE the position flip, so a torn record at the
    jsonl tail belongs to a snapshot the position file does not yet
    claim — it is re-validated and re-appended on resume, and
    ``snapshots`` keeps the last record per id (later lines win).

    READ stays bounded by periodic compaction: once the jsonl grows past
    ``rollup_bytes`` a record() folds it into
    ``<path>.lineage.rollup.json`` (the resolved id→record dict, written
    tmp+rename) and truncates the log — so inspection parses one compact
    JSON document plus at most ``rollup_bytes`` of tail lines, never a
    million-line log. The rollup trigger is a single O(1) stat, the
    rollup itself O(rollup_bytes), amortized over the lines that grew
    it. Crash anywhere between the rollup rename and the truncate leaves
    lines that are ALSO in the rollup — the overlay keys by id, so
    re-reading converges (jsonl wins, same records)."""

    def __init__(self, path: str, rollup_bytes: int = 4 * 1024 * 1024):
        import json
        import os

        self.path = path
        self.lineage_path = path + ".lineage.jsonl"
        self.rollup_path = path + ".lineage.rollup.json"
        self.rollup_bytes = rollup_bytes
        self.last_validated_id = 0
        if os.path.exists(path):
            with open(path) as f:
                self.last_validated_id = json.load(f)["last_validated_id"]

    @property
    def snapshots(self) -> dict[str, dict]:
        """Lineage records keyed by snapshot id: the compacted rollup
        overlaid with the jsonl tail (later wins — read path only; the
        write path never loads either)."""
        import json
        import os

        out: dict[str, dict] = {}
        if os.path.exists(self.rollup_path):
            with open(self.rollup_path) as f:
                out.update(json.load(f))
        out.update(self._tail_records())
        return out

    def _tail_records(self) -> dict[str, dict]:
        """The not-yet-compacted jsonl lines, resolved to id→record."""
        import json
        import os

        out: dict[str, dict] = {}
        if os.path.exists(self.lineage_path):
            with open(self.lineage_path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue  # torn tail line: unclaimed, superseded on resume
                    if rec["snapshot_id"] <= self.last_validated_id:
                        # a span record resolves for EVERY id it covered
                        for s in rec.get("snapshot_ids", [rec["snapshot_id"]]):
                            out[str(s)] = rec
        return out

    def _maybe_rollup(self) -> None:
        """Fold the jsonl into the rollup snapshot once it outgrows
        ``rollup_bytes``. Ordering: merged rollup lands via tmp+rename
        FIRST, truncate second — a crash between the two only duplicates
        records the overlay already dedups by id."""
        import json
        import os
        import tempfile

        try:
            if os.path.getsize(self.lineage_path) < self.rollup_bytes:
                return
        except OSError:
            return  # no log yet: nothing to compact
        merged = self.snapshots  # rollup + tail, resolved
        d = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".tailrollup-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(merged, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.rollup_path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        open(self.lineage_path, "w").close()  # truncate: lines live in the rollup now

    def record(
        self,
        snapshot_id: int,
        n_violations: int,
        files: list[str],
        span: list[int] | None = None,
    ) -> None:
        """``span`` (backlog batching): the full list of snapshot ids one
        batched delta job covered — recorded as ONE lineage line listing
        them all (``snapshot_ids``), with the position advancing to the
        last. ``snapshots`` then resolves every id in the span to that
        record."""
        import json
        import os
        import tempfile

        rec = {
            "snapshot_id": int(snapshot_id),
            "snapshot_ids": [int(s) for s in (span or [snapshot_id])],
            "n_violations": int(n_violations),
            "n_files": len(files),
            "files": sorted(os.path.basename(p) for p in files),
        }
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            f.flush()
            os.fsync(f.fileno())
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".tailstate-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"last_validated_id": int(snapshot_id)}, f)
            os.replace(tmp, self.path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        self.last_validated_id = int(snapshot_id)
        self._maybe_rollup()


def validate_snapshot_tail_checkpointed(
    spark: SparkSession,
    root: str,
    catalog_for,
    state_path: str,
    sink_dir: str | None = None,
    n_assets: int = sp.DEFAULT_N_ASSETS,
    timeout_s: float = 10.0,
    poll_interval_s: float = 0.2,
    broadcast_catalog: bool = True,
    batch_commits: bool = False,
):
    """``validate_snapshot_tail`` with durable resume: the tail's position
    and per-snapshot results live in a ``TailState`` checkpoint, written
    atomically AFTER each snapshot's violations are fully materialized —
    so a tailer killed mid-snapshot re-validates that snapshot on restart
    (at-least-once, same as the batch runner re-running a partition whose
    mark never committed) and a tailer killed between snapshots resumes
    at exactly the next commit. With ``sink_dir`` the violations are also
    written to ``<sink_dir>/snapshot=<id>`` parquet BEFORE the state
    records the snapshot — the sink is idempotent per snapshot id
    (overwrite), so the crash-recovery rerun converges to the same bytes.

    Yields ``(snapshot_id, n_violations)`` after each durable step.

    ``batch_commits=True``: a backlog that passes the safety checks
    (``_tail_deltas``) is validated by ONE spanning delta job; the sink
    partition and the yielded id are the span's LAST snapshot, and the
    lineage records the full id list, so resume after a mid-span crash
    re-runs the whole span (at-least-once, same contract as single
    commits). Batched-mode convergence: the sink partition key is the
    span's last id, which is TIMING-dependent — a crash between the sink
    write (partition snapshot=K) and the state advance, with more
    commits landing during downtime, makes the rerun form a LONGER span
    ending K' > K, and a plain overwrite of snapshot=K' would leave the
    orphaned snapshot=K partition double-counting its commits. Because
    the rerun span restarts from the same un-advanced position, it
    always COVERS every id a crashed attempt could have keyed a
    partition by — so each write first deletes the sink partitions of
    ALL ids in its span, making the rerun converge to the same bytes as
    an uninterrupted run regardless of where the crash fell.
    """
    import shutil

    state = TailState(state_path)
    for sids, files, v in _tail_deltas(
        spark,
        root,
        catalog_for,
        n_assets,
        state.last_validated_id,
        timeout_s,
        poll_interval_s,
        broadcast_catalog,
        batch_commits,
    ):
        sid = sids[-1]
        if sink_dir is not None:
            v = v.localCheckpoint()  # one execution feeds sink AND count
            for s in sids:
                # crashed-attempt partitions keyed by ANY id this span
                # covers (see docstring) — remove before writing ours
                shutil.rmtree(f"{sink_dir}/snapshot={s}", ignore_errors=True)
            v.write.mode("overwrite").parquet(f"{sink_dir}/snapshot={sid}")
            n = v.count()
        else:
            n = v.count()
        state.record(sid, n, files, span=sids)
        yield sid, n
