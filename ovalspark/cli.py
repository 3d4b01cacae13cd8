"""Command-line entry point — the ``spark-submit --py-files`` surface.

Mirrors oval's CLI lifecycle (/root/reference/internal/cmd/root.go):
argument parsing with the same constraint checks (U6: n_writers < 256,
docs ≤ 2^24 — root.go:170-183), a span-range parser in the spirit of the
size parser (U1, argparser/size.go: "1-16" → bounds), fault-mix parsing in
the spirit of the ope-ratio parser (U2), and the run lifecycle: generate
(init buckets, S6) → validate (Run) → resume (--load, O3).

Usage:
    spark-submit --py-files ovalspark.zip -m ovalspark.cli generate --root /data/world --docs-per-writer 1000
    spark-submit --py-files ovalspark.zip -m ovalspark.cli validate --root /data/world --out /data/run1 [--resume] [--fail-fast]
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def parse_span_range(s: str) -> tuple[int, int]:
    """"1-16" → (1, 16). The analog of oval's size parser (U1)."""
    m = re.fullmatch(r"([1-9][0-9]*)-([1-9][0-9]*)", s)
    if not m:
        raise argparse.ArgumentTypeError(f"invalid span range {s!r}; want e.g. 1-16")
    lo, hi = int(m.group(1)), int(m.group(2))
    if lo > hi:
        raise argparse.ArgumentTypeError(f"min {lo} > max {hi}")
    return lo, hi


def parse_fault_mix(s: str) -> dict[str, float]:
    """"WRONG_KIND=0.02,LOST_DOC=0.01" → dict (the ope-ratio analog, U2)."""
    out: dict[str, float] = {}
    if not s:
        return out
    for part in s.split(","):
        k, _, v = part.partition("=")
        try:
            out[k.strip()] = float(v)
        except ValueError as e:
            raise argparse.ArgumentTypeError(f"bad fault entry {part!r}") from e
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ovalspark")
    # plain|json event lines on stderr (U7; oval logger.go:17-42 analog) —
    # stdout stays the machine report channel
    p.add_argument("--log-format", choices=("plain", "json"), default="plain")
    p.add_argument("--log-level", choices=("debug", "info", "warn", "error"), default="info")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="materialize a synthetic world (catalog+documents+assets)")
    g.add_argument("--root", required=True)
    g.add_argument("--runners", type=int, default=1)
    g.add_argument("--writers", type=int, default=4)
    g.add_argument("--docs-per-writer", type=int, default=1000)
    g.add_argument("--spans", type=parse_span_range, default=(1, 16), metavar="MIN-MAX")
    g.add_argument("--hot-shard-factor", type=int, default=1)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--faults", type=parse_fault_mix, default={}, metavar="CLASS=FRAC,...")
    g.add_argument("--phantom-fraction", type=float, default=0.0)
    g.add_argument(
        "--table-format",
        choices=("parquet", "snapshot"),
        default="parquet",
        help="snapshot = versioned-manifest tables (sources/snapshots.py): overwrites keep history, validate --snapshot-id reads it",
    )

    v = sub.add_parser("validate", help="run the validation plan")
    v.add_argument("--root", required=True)
    v.add_argument("--out", required=True)
    v.add_argument("--manifest", default=None, help="default: <out>/manifest.json")
    v.add_argument("--resume", action="store_true", help="reuse an existing manifest (O3); without it a fresh run refuses to overwrite")
    v.add_argument("--fail-fast", action="store_true", help="abort on first dirty constraint (V12)")
    v.add_argument("--run-id", default="run-0")
    v.add_argument(
        "--sink-format",
        choices=("json", "parquet"),
        default="json",
        help="violation sink: json (debug-friendly) or parquet (cheaper encode for high-violation runs)",
    )
    v.add_argument(
        "--table-format",
        choices=("auto", "parquet", "snapshot"),
        default="auto",
        help="how to read the world tables; snapshot enables --snapshot-id",
    )
    v.add_argument(
        "--snapshot-id",
        type=int,
        default=None,
        help="validate the DOCS table as of this snapshot (V8 read-before-overwrite; requires --table-format snapshot)",
    )
    v.add_argument(
        "--spans",
        type=parse_span_range,
        default=None,
        metavar="MIN-MAX",
        help="generator span bounds; enables the DIST_DRIFT distribution constraint",
    )

    t = sub.add_parser(
        "tail",
        help="continuously validate a snapshot-format world as commits land "
        "(delta-scoped per commit; durable resume via --state). Expected "
        "sets: commits that recorded their promise in the manifest "
        "(snapshot_write(expect=...) / TableSet.save — the default for "
        "worlds written by this engine) get FULL coverage including "
        "LOST_DOC, self-contained from the stored state. Commits without "
        "a recorded expectation fall back to the stored catalog scoped to "
        "the docs actually written — every span/field violation and "
        "PHANTOM_DOC, but structurally no LOST_DOC (an unwritten doc has "
        "no row to join on); for those use the API with writer-supplied "
        "sets (validate_snapshot_tail(catalog_for=...)) or a batch validate",
    )
    t.add_argument("--root", required=True, help="TableSet root written with --table-format snapshot")
    t.add_argument("--out", required=True, help="violations sink dir (parquet, one subdir per snapshot)")
    t.add_argument("--state", default=None, help="tail checkpoint path (default: <out>/tail_state.json)")
    t.add_argument("--timeout", type=float, default=10.0, help="stop after this many idle seconds")
    t.add_argument("--poll", type=float, default=0.5, help="CURRENT poll interval (seconds)")
    t.add_argument("--broadcast-catalog", action="store_true")
    t.add_argument(
        "--batch",
        action="store_true",
        help="batch a multi-commit backlog into as few spanning delta "
        "jobs as provable equivalence allows: runs of appends AND "
        "predicate deletes become one commit-attributed job each "
        "(delete read-backs ride the same scan); compaction commits "
        "verify by count+hashsum equivalence; overwrites go per-commit "
        "— the sink partition and reported id are each span's last "
        "snapshot",
    )
    t.add_argument(
        "--audit-constraints",
        action="store_true",
        help="additionally run the table's constraint contract against "
        "each tailed commit's DELTA (O(new data), audit_commit_delta): "
        "catches debt landing through the raw/unenforced commit path; "
        "per-commit debt rides the JSON report as constraint_debt",
    )

    m = sub.add_parser(
        "maintain",
        help="snapshot-table lifecycle from spark-submit: predicate delete "
        "(rewrites only affected files, then read-back verifies), "
        "compaction, retention, vacuum — each action commits a new "
        "snapshot or reclaims debris; combine freely, actions run in the "
        "order delete → compact → merge-segments → expire → vacuum",
    )
    m.add_argument("--root", required=True, help="snapshot table root (e.g. <world>/documents)")
    m.add_argument("--delete-where", default=None, metavar="SQL", help="predicate: rows to DELETE")
    m.add_argument(
        "--delete-strategy",
        choices=["copy-on-write", "merge-on-read"],
        default="copy-on-write",
        help="merge-on-read commits the delete as metadata only (a scoped "
        "row filter applied at read; zero files rewritten) — pair with a "
        "later --materialize-deletes to pay the rewrite off the hot path",
    )
    m.add_argument(
        "--materialize-deletes",
        action="store_true",
        help="rewrite exactly the files pending merge-on-read filters "
        "apply to and clear the filters (runs before --compact-target-mb, "
        "which refuses while filters are pending)",
    )
    m.add_argument(
        "--sort-rewrite",
        default=None,
        metavar="COL[,COL...]",
        help="re-cluster the WHOLE table on these columns as one replace "
        "commit (O(table) IO; makes point/range prunes plan O(selected) "
        "files; also applies + clears pending merge-on-read filters)",
    )
    m.add_argument(
        "--doctor",
        action="store_true",
        help="print the table's ordered maintenance plan (pure metadata, "
        "no commits): pending MoR filters, layout-breaking files, "
        "small-file debt, fragmented segments",
    )
    m.add_argument(
        "--heal",
        action="store_true",
        help="execute the --doctor plan until the table is healthy "
        "(materialize -> cluster -> compact -> merge_segments, each op's "
        "own no-op guard respected); idempotent",
    )
    m.add_argument(
        "--rollback",
        type=int,
        default=None,
        metavar="SNAPSHOT_ID",
        help="undo bad commits: re-point the table at this older snapshot "
        "as a NEW metadata-only commit (history stays dense; the undone "
        "snapshots remain time-travel readable)",
    )
    m.add_argument(
        "--set-constraint",
        action="append",
        default=None,
        metavar="JSON",
        help='attach a constraint to the table\'s contract, e.g. '
        '\'{"name":"pk","kind":"unique","column":"doc_id"}\' — kinds: '
        "not_null, range (lo/hi), check (expr), unique. Repeatable; "
        "commits ONE metadata-only snapshot (mode=add). Existing data is "
        "audited first and the commit refuses on violations unless "
        "--allow-dirty",
    )
    m.add_argument(
        "--drop-constraint",
        action="append",
        default=None,
        metavar="NAME",
        help="remove named constraint(s) from the contract (repeatable; "
        "one metadata-only commit)",
    )
    m.add_argument(
        "--allow-dirty",
        action="store_true",
        help="with --set-constraint: attach without auditing existing "
        "data (the audit then reports the debt instead of the commit "
        "refusing it)",
    )
    m.add_argument(
        "--audit-constraints",
        action="store_true",
        help="audit the table against its contract: per-constraint "
        "violation counts, decided from manifest stats where possible "
        "(zero data reads on a clean clustered table)",
    )
    m.add_argument(
        "--cluster-incremental",
        nargs="?",
        const="",
        default=None,
        metavar="COL[,COL...]",
        help="merge ONLY the files breaking the sorted layout into one "
        "fresh sorted run (O(delta) IO; settled files carry by reference; "
        "converges to base+delta, two files per point lookup). Columns "
        "default to the layout recorded by the last --sort-rewrite",
    )
    m.add_argument(
        "--zorder-rewrite",
        default=None,
        metavar="COL,COL[,COL...]",
        help="re-cluster the WHOLE table on a Morton curve over 2-4 "
        "numeric columns: range prunes on ANY of them skip files "
        "(lexicographic --sort-rewrite serves only its leading column)",
    )
    m.add_argument(
        "--upsert-from",
        default=None,
        metavar="PARQUET_DIR",
        help="MERGE the rows of this parquet dir into the table by key "
        "(--upsert-key): staged rows insert, matched keys' previous "
        "generation is hidden — one O(staged) commit, read-back verified",
    )
    m.add_argument("--upsert-key", default="doc_id", help="merge key column (default doc_id)")
    m.add_argument(
        "--tag",
        default=None,
        metavar="NAME[:SID]",
        help="tag a snapshot (default CURRENT; NAME:7 tags id 7): an "
        "immutable named ref that pins its snapshot against retention",
    )
    m.add_argument(
        "--delete-tag", default=None, metavar="NAME", help="drop a tag (releases its retention pin)"
    )
    m.add_argument(
        "--delete-discovery-cap",
        type=int,
        default=None,
        help="cap on affected-file names collected to the driver during "
        "delete discovery (default max(1000, half the scanned files)); "
        "overflow switches to a full rewrite of the scanned files",
    )
    m.add_argument(
        "--compact-target-mb", type=int, default=None, help="bin-pack files smaller than this"
    )
    m.add_argument(
        "--merge-segments",
        action="store_true",
        help="metadata-only commit: merge fragmented manifest file-list "
        "segments into full-sized ones (the manifest analog of "
        "--compact-target-mb; the tail verifies it with zero data scans)",
    )
    m.add_argument(
        "--segment-target-entries",
        type=int,
        default=None,
        help="merge target (entries per segment; default 8x the spill threshold)",
    )
    m.add_argument(
        "--expire-keep-last", type=int, default=None, help="retention: keep newest N snapshots"
    )
    m.add_argument(
        "--expire-older-than",
        type=float,
        default=None,
        metavar="SECONDS",
        help="retention by AGE: expire only snapshots committed more than "
        "this many seconds ago (composable with --expire-keep-last as the "
        "floor; alone, the newest snapshot is always kept)",
    )
    m.add_argument("--vacuum", action="store_true", help="reclaim unreferenced data/debris")
    m.add_argument(
        "--adopt-catalog",
        action="store_true",
        help="move the table's CURRENT pointer into the sqlite catalog: "
        "commits then flip it via a conditional catalog update (the "
        "object-store-safe commit; no atomic-rename dependency) and the "
        "CURRENT file becomes a read cache; idempotent",
    )
    m.add_argument(
        "--migrate-catalog",
        default=None,
        metavar="ENDPOINT",
        help="move a sqlite-owned pointer (plus tags/branches/tombstones) "
        "into the network catalog at ENDPOINT — quiesced two-phase, "
        "idempotent re-run; file-pointered tables attach instead "
        "(attach_http_catalog semantics, chosen automatically)",
    )
    m.add_argument(
        "--detach-catalog",
        action="store_true",
        help="move an http-owned pointer (plus refs) BACK into the local "
        "sqlite catalog: server state tombstoned atomically, stale "
        "writers get 410 and reroute; idempotent re-run",
    )
    m.add_argument(
        "--recover-from-journal",
        default=None,
        metavar="PATH",
        help="disaster recovery: the catalog service is gone — rebuild "
        "pointer/locs/refs locally from its sqlite journal file "
        "(maintenance window only; nothing fences live writers)",
    )
    m.add_argument(
        "--min-age-s",
        type=float,
        default=3600.0,
        help="vacuum/expire safety window: never reclaim data younger than this "
        "(a live writer's staging is unreferenced by construction; 0 only in a "
        "single-writer maintenance window)",
    )
    m.add_argument("--guard", default=None, help="commit guard: flock|dirlock|sqlite (default env/flock)")

    b = sub.add_parser(
        "branch",
        help="write-audit-publish branches: create a staging branch main's "
        "readers cannot see, publish it with one metadata-only commit "
        "(optionally gated on a zero-violation validation of the staged "
        "rows), or drop it",
    )
    b.add_argument("--root", required=True, help="snapshot table root")
    b.add_argument("--create", default=None, metavar="NAME", help="create a branch off CURRENT")
    b.add_argument("--publish", default=None, metavar="NAME", help="publish a branch to main")
    b.add_argument(
        "--mode",
        choices=["append", "overwrite"],
        default="append",
        help="publish shape: append adds the branch's files; overwrite replaces main's state",
    )
    b.add_argument(
        "--allow-divergent-base",
        action="store_true",
        help="rebase an APPEND publish onto a main that moved past the branch base",
    )
    b.add_argument(
        "--audit-unique-key",
        default=None,
        metavar="COL",
        help="publish gate: refuse (exit 1) unless COL is unique across the "
        "post-publish view (base + staged) — the WAP audit as a flag",
    )
    b.add_argument("--drop", default=None, metavar="NAME", help="drop a branch")
    b.add_argument("--force", action="store_true", help="drop even with unpublished commits")
    b.add_argument("--list", action="store_true", dest="list_refs",
                   help="print the table's branches (descriptors) and tags")
    b.add_argument("--guard", default=None, help="commit guard for the publish CAS")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from ovalspark.logging import RunLogger
    from ovalspark.session import get_spark

    log = RunLogger(fmt=args.log_format, level=args.log_level)
    spark = get_spark(app_name=f"ovalspark-{args.cmd}")
    if args.cmd == "generate":
        from ovalspark.datagen import GenSpec, generate_assets, generate_catalog, generate_documents, inject_faults
        from ovalspark.sources import TableSet

        mn, mx = args.spans
        spec = GenSpec(
            n_runners=args.runners,
            n_writers=args.writers,
            docs_per_writer=args.docs_per_writer,
            min_spans=mn,
            max_spans=mx,
            hot_shard_factor=args.hot_shard_factor,
            seed=args.seed,
        )
        cat = generate_catalog(spark, spec)
        docs = generate_documents(cat, spec)
        if args.faults or args.phantom_fraction:
            docs, _ = inject_faults(docs, cat, spec, args.faults, args.phantom_fraction)
        log.info("generate.start", root=args.root, shards=spec.n_shards, docs_per_writer=spec.docs_per_writer)
        fmt = "snapshot" if args.table_format == "snapshot" else "auto"
        TableSet(docs=docs, catalog=cat, assets=generate_assets(spark, spec)).save(args.root, fmt=fmt)
        log.info("generate.done", root=args.root)
        print(json.dumps({"generated": args.root, "shards": spec.n_shards}))
        return 0

    if args.cmd == "validate":
        import os

        from ovalspark.plans import default_plan, run_plan
        from ovalspark.plans.runner import ValidationFailure
        from ovalspark.sources import TableSet

        manifest = args.manifest or f"{args.out}/manifest.json"
        if os.path.exists(manifest) and not args.resume:
            print(f"manifest {manifest} exists; pass --resume to continue it", file=sys.stderr)
            return 2
        if args.snapshot_id is not None and args.table_format != "snapshot":
            print("--snapshot-id requires --table-format snapshot", file=sys.stderr)
            return 2
        ts = TableSet.load(spark, args.root, fmt=args.table_format, snapshot_id=args.snapshot_id)
        plan = default_plan(span_bounds=args.spans)
        try:
            res = run_plan(
                plan, ts.docs, ts.catalog, ts.assets, args.out, manifest,
                run_id=args.run_id, fail_fast=args.fail_fast, logger=log,
                sink_format=args.sink_format,
            )
        except ValidationFailure as e:
            print(json.dumps({"passed": False, "aborted": str(e)}))
            return 1
        report = {
            "passed": res.passed,
            "verdicts": {str(k): v for k, v in sorted(res.verdicts.items())},
            "totals": res.totals,
        }
        print(json.dumps(report, sort_keys=True))
        return 0 if res.passed else 1

    if args.cmd == "tail":
        from ovalspark.operators.incremental import (
            stored_catalog_for,
            validate_snapshot_tail_checkpointed,
        )

        docs_root = f"{args.root}/documents"
        catalog_for = stored_catalog_for(spark, args.root)
        log.info("tail.start", root=args.root, out=args.out)
        n_snapshots = 0
        state = args.state or f"{args.out}/tail_state.json"
        for sid, n in validate_snapshot_tail_checkpointed(
            spark,
            docs_root,
            catalog_for,
            state,
            sink_dir=args.out,
            timeout_s=args.timeout,
            poll_interval_s=args.poll,
            broadcast_catalog=args.broadcast_catalog,
            batch_commits=args.batch,
        ):
            n_snapshots += 1
            row = {"snapshot_id": sid, "violations": n}
            if args.audit_constraints:
                from ovalspark.sources.constraints import audit_commit_delta

                sids = sid if isinstance(sid, list) else [sid]
                debt = {
                    s: d for s in sids if (d := audit_commit_delta(spark, docs_root, s))
                }
                if debt:
                    log.info("tail.constraint_debt", commits=list(debt))
                    row["constraint_debt"] = debt
            log.info("tail.snapshot", snapshot_id=sid, violations=n)
            print(json.dumps(row))
        print(json.dumps({"tailed": n_snapshots, "state": state}))
        return 0

    if args.cmd == "maintain":
        from ovalspark.operators.incremental import validate_delete
        from ovalspark.sources.snapshots import (
            current_snapshot_id,
            expire_snapshots,
            snapshot_compact,
            snapshot_delete,
            vacuum,
        )

        report: dict = {"root": args.root}
        if args.adopt_catalog:
            from ovalspark.sources.snapshots import adopt_catalog_pointer

            adopted = adopt_catalog_pointer(args.root, guard=args.guard)
            log.info("maintain.adopt_catalog", snapshot_id=adopted)
            report["adopt_catalog"] = {"snapshot_id": adopted}
        if args.migrate_catalog:
            from ovalspark.sources.http_catalog import (
                attach_http_catalog,
                migrate_pointer_to_http,
            )
            from ovalspark.sources.snapshots import _catalog_current

            owned, _ = _catalog_current(args.root)
            if owned:
                mid = migrate_pointer_to_http(args.root, args.migrate_catalog)
            else:
                mid = attach_http_catalog(args.root, args.migrate_catalog)
            log.info("maintain.migrate_catalog", snapshot_id=mid)
            report["migrate_catalog"] = {"snapshot_id": mid}
        if args.detach_catalog:
            from ovalspark.sources.http_catalog import detach_http_catalog

            did = detach_http_catalog(args.root)
            log.info("maintain.detach_catalog", snapshot_id=did)
            report["detach_catalog"] = {"snapshot_id": did}
        if args.recover_from_journal:
            from ovalspark.sources.http_catalog import recover_table_from_journal

            rid = recover_table_from_journal(args.recover_from_journal, args.root)
            log.info("maintain.recover_from_journal", snapshot_id=rid)
            report["recover_from_journal"] = {"snapshot_id": rid}
        if args.delete_where:
            prev = current_snapshot_id(args.root)
            sid = snapshot_delete(
                spark, args.root, args.delete_where, guard=args.guard,
                discovery_cap=args.delete_discovery_cap,
                strategy=args.delete_strategy,
            )
            # sid == prev means the predicate matched nothing (no commit)
            n_surv = validate_delete(spark, args.root, sid).count() if sid != prev else None
            log.info("maintain.delete", snapshot_id=sid, delete_survivors=n_surv)
            report["delete"] = {"snapshot_id": sid, "survivors": n_surv}
            if n_surv:
                print(json.dumps(report))
                return 1  # read-back verification failed: rows matched post-delete
        if args.materialize_deletes:
            from ovalspark.sources.snapshots import materialize_deletes

            sid = materialize_deletes(spark, args.root, guard=args.guard)
            log.info("maintain.materialize_deletes", snapshot_id=sid)
            report["materialize_deletes"] = {"snapshot_id": sid}
        if args.upsert_from:
            from ovalspark.operators.incremental import validate_upsert
            from ovalspark.sources.snapshots import snapshot_upsert

            prev = current_snapshot_id(args.root)
            sid = snapshot_upsert(
                spark, args.root, spark.read.parquet(args.upsert_from),
                key=args.upsert_key, guard=args.guard,
            )
            from ovalspark.sources.snapshots import _load_manifest_raw

            is_upsert = sid != prev and _load_manifest_raw(args.root, sid)["operation"] == "upsert"
            n_bad = validate_upsert(spark, args.root, sid).count() if is_upsert else None
            log.info("maintain.upsert", snapshot_id=sid, upsert_violations=n_bad)
            report["upsert"] = {"snapshot_id": sid, "violations": n_bad}
            if n_bad:
                print(json.dumps(report))
                return 1  # read-back failed: a staged key != exactly one generation
        if args.sort_rewrite:
            from ovalspark.sources.snapshots import sort_rewrite

            cols = [c.strip() for c in args.sort_rewrite.split(",") if c.strip()]
            sid = sort_rewrite(spark, args.root, cols, guard=args.guard)
            log.info("maintain.sort_rewrite", snapshot_id=sid, sort_by=cols)
            report["sort_rewrite"] = {"snapshot_id": sid, "sort_by": cols}
        if args.zorder_rewrite:
            from ovalspark.sources.snapshots import sort_rewrite

            cols = [c.strip() for c in args.zorder_rewrite.split(",") if c.strip()]
            sid = sort_rewrite(spark, args.root, zorder=cols, guard=args.guard)
            log.info("maintain.zorder_rewrite", snapshot_id=sid, zorder=cols)
            report["zorder_rewrite"] = {"snapshot_id": sid, "zorder": cols}
        if args.rollback is not None:
            from ovalspark.sources.snapshots import rollback_table

            sid = rollback_table(args.root, args.rollback, guard=args.guard)
            log.info("maintain.rollback", snapshot_id=sid, rolled_back_to=args.rollback)
            report["rollback"] = {"snapshot_id": sid, "rolled_back_to": args.rollback}
        if args.set_constraint:
            from ovalspark.sources.constraints import set_constraints

            cons = [json.loads(s) for s in args.set_constraint]
            sid = set_constraints(
                args.root,
                cons,
                mode="add",
                guard=args.guard,
                spark=spark,
                validate=not args.allow_dirty,
            )
            log.info("maintain.set_constraints", snapshot_id=sid, n=len(cons))
            report["set_constraints"] = {
                "snapshot_id": sid,
                "added": [c["name"] for c in cons],
            }
        if args.drop_constraint:
            from ovalspark.sources.constraints import drop_constraints

            sid = drop_constraints(args.root, args.drop_constraint, guard=args.guard)
            log.info("maintain.drop_constraints", snapshot_id=sid)
            report["drop_constraints"] = {
                "snapshot_id": sid,
                "dropped": args.drop_constraint,
            }
        if args.audit_constraints:
            from ovalspark.sources.constraints import audit_constraints

            rep_df, detail = audit_constraints(spark, args.root)
            log.info(
                "maintain.audit_constraints",
                constraints=len(detail["rows"]),
                files_scanned=detail["files_scanned"],
            )
            report["audit_constraints"] = {
                "rows": detail["rows"],
                "files_scanned": detail["files_scanned"],
                "pending_row_filters": detail["pending_row_filters"],
            }
        if args.doctor:
            from ovalspark.sources.doctor import diagnose

            plan = diagnose(args.root, spark=spark)
            log.info("maintain.doctor", findings=len(plan))
            report["doctor"] = plan
        if args.heal:
            from ovalspark.sources.doctor import heal

            executed = heal(spark, args.root, guard=args.guard)
            log.info("maintain.heal", executed=len(executed))
            report["heal"] = executed
        # `is not None`, never truthiness: the bare flag form means "use
        # the table's recorded sort layout", which must still run
        if args.cluster_incremental is not None:
            from ovalspark.sources.snapshots import cluster_incremental

            cols = [c.strip() for c in args.cluster_incremental.split(",") if c.strip()]
            sid = cluster_incremental(
                spark, args.root, cols or None, guard=args.guard
            )
            log.info("maintain.cluster_incremental", snapshot_id=sid, sort_by=cols or None)
            report["cluster_incremental"] = {"snapshot_id": sid, "sort_by": cols or None}
        # `is not None`, never truthiness: a user passing 0 must reach the
        # library's loud ValueError, not silently skip the step and walk
        # away believing retention/compaction ran
        if args.compact_target_mb is not None:
            sid = snapshot_compact(spark, args.root, args.compact_target_mb, guard=args.guard)
            log.info("maintain.compact", snapshot_id=sid)
            report["compact"] = {"snapshot_id": sid}
        if args.merge_segments:
            from ovalspark.sources.snapshots import merge_segments

            sid = merge_segments(
                args.root, guard=args.guard, target_entries=args.segment_target_entries
            )
            log.info("maintain.merge_segments", snapshot_id=sid)
            report["merge_segments"] = {"snapshot_id": sid}
        if args.tag:
            from ovalspark.sources.snapshots import create_tag

            name, _, sid_s = args.tag.partition(":")
            tagged = create_tag(
                args.root, name, snapshot_id=int(sid_s) if sid_s else None, guard=args.guard
            )
            log.info("maintain.tag", name=name, snapshot_id=tagged)
            report["tag"] = {"name": name, "snapshot_id": tagged}
        if args.delete_tag:
            from ovalspark.sources.snapshots import delete_tag

            delete_tag(args.root, args.delete_tag, guard=args.guard)
            log.info("maintain.delete_tag", name=args.delete_tag)
            report["delete_tag"] = args.delete_tag
        if args.expire_keep_last is not None or args.expire_older_than is not None:
            expired = expire_snapshots(
                args.root, args.expire_keep_last, guard=args.guard,
                do_vacuum=False,  # the single vacuum below covers it
                older_than_s=args.expire_older_than,
            )
            log.info("maintain.expire", expired=len(expired))
            report["expired"] = expired
        if args.vacuum or args.expire_keep_last is not None or args.expire_older_than is not None:
            removed = vacuum(args.root, min_age_s=args.min_age_s)
            log.info("maintain.vacuum", removed=len(removed))
            report["vacuumed"] = len(removed)
        print(json.dumps(report))
        return 0
    if args.cmd == "branch":
        from ovalspark.sources import branches as br

        report = {"root": args.root}
        if args.create:
            broot = br.create_branch(args.root, args.create)
            log.info("branch.create", name=args.create, branch_root=broot)
            report["create"] = {"name": args.create, "branch_root": broot}
        if args.publish:
            if args.audit_unique_key:
                import pyspark.sql.functions as F

                key = args.audit_unique_key
                sid, violations = br.validate_then_publish(
                    spark,
                    args.root,
                    args.publish,
                    lambda df: df.groupBy(key).count().filter(F.col("count") > 1),
                    mode=args.mode,
                    guard=args.guard,
                    allow_divergent_base=args.allow_divergent_base,
                    audit_merged=True,
                )
                if sid is None:
                    n = violations.count()
                    log.error("branch.publish_refused", name=args.publish, duplicate_keys=n)
                    report["publish"] = {"name": args.publish, "refused": True, "duplicate_keys": n}
                    print(json.dumps(report))
                    return 1
            else:
                sid = br.publish_branch(
                    args.root,
                    args.publish,
                    mode=args.mode,
                    guard=args.guard,
                    allow_divergent_base=args.allow_divergent_base,
                )
            log.info("branch.publish", name=args.publish, snapshot_id=sid)
            report["publish"] = {"name": args.publish, "snapshot_id": sid}
        if args.drop:
            br.drop_branch(args.root, args.drop, force=args.force)
            log.info("branch.drop", name=args.drop)
            report["drop"] = args.drop
        if args.list_refs:
            from ovalspark.sources.snapshots import list_tags

            report["branches"] = br.list_branches(args.root)
            report["tags"] = list_tags(args.root)
        print(json.dumps(report))
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
