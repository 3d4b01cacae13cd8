"""``commit_tail``: writes beside reads, as in oval's PUT → verify → GET loop.

The operation mix is oval's CI workload shape, ``--ope_ratio 8,8,8,1``
(put, get, delete, list; recorded in BASELINE.md), applied, as SURVEY.md
W2 maps it, to the mutations committed between validations:

- puts and deletes are equally frequent, so each cycle commits one put
  and one merge-on-read ``snapshot_delete`` of live docs;
- oval's puts pick any key of a fixed keyspace while its deletes pick
  live keys, so at equal rates half the keyspace is live and half the
  puts overwrite a live object: puts alternate between a
  ``snapshot_write`` append of new docs (with ``expect=`` and a doc_id
  Bloom filter) and a ``snapshot_upsert`` of live docs at generation + 1;
- gets are as frequent as puts: one ``point_lookup`` per cycle, on a doc
  the put wrote, an untouched live doc, a doc the delete removed or an
  absent doc, in turn;
- one list per eight puts: a full read of the table's ids.

Every commit is followed by its tail verifier, whose rows are collected
and checked: ``validate_snapshot_delta`` for an append (must equal the
injector's golden rows exactly), ``validate_upsert`` / ``validate_delete``
for the others (must be empty). Upserts and merge-on-read deletes each
leave a pending row filter; when a commit reaches the program's fold
threshold (the ``fold_threshold`` default of ``snapshot_delete``), the
committing call also folds the filters with ``materialize_deletes``, so a
run pays that rewrite as part of its commit latency. The verifier then
checks the commit itself (the id before the fold), and the folded
snapshot is read back in full after the measured loop.

Every staged batch is generated, corrupted and written to parquet during
set-up, one file per batch, so a commit never pays for data generation
and the files each commit adds cannot depend on adaptive coalescing.
"""

from __future__ import annotations

import inspect
import json
import os
from collections import Counter

OPE_RATIO = {"put": 8, "get": 8, "delete": 8, "list": 1}
PUT_KINDS = ("append", "upsert")  # alternating: half the puts overwrite
GETS_PER_CYCLE = OPE_RATIO["get"] // OPE_RATIO["put"]
LIST_EVERY = OPE_RATIO["put"] // OPE_RATIO["list"]  # cycles per list
LIST_PHASE = 3  # the cycle of each LIST_EVERY that lists
N_WRITERS = 4
DOCS_PER_WRITER = 200  # keyspace slots per writer shard and append batch
BASE_RUNNERS = 2  # runner ids whose docs form the initial snapshot
MAX_CYCLES = 10  # staged cycles; the measured loop never outruns them
ROWS_PER_UPSERT = 40
ROWS_PER_DELETE = 40
FAULTS = {"WRONG_TEXT": 0.01, "WRONG_KIND": 0.01, "STALE_GENERATION": 0.01, "SIZE_MISMATCH": 0.01, "LOST_DOC": 0.01}
PHANTOM_FRACTION = 0.02
COMMIT_SPAN = {"append": "snapshots.write", "upsert": "snapshots.upsert", "delete": "snapshots.delete"}
VCOLS = ("partition_id", "doc_id", "span_idx", "field", "expected", "actual", "violation_class", "writer_id", "written_at")


def _row_key(r) -> tuple:
    return tuple("" if r[c] is None else str(r[c]) for c in VCOLS)


def fold_threshold() -> int:
    """Pending row filters at which a merge-on-read commit folds them:
    the default of the public ``fold_threshold`` argument."""
    from ovalspark.sources import snapshot_delete

    return inspect.signature(snapshot_delete).parameters["fold_threshold"].default


def fold_points(puts: list[str], fold_at: int) -> set[tuple[int, str]]:
    """The (cycle, commit kind) pairs whose commit reaches ``fold_at``
    pending row filters and so also folds them: each upsert and each
    merge-on-read delete leaves one filter, and a fold clears them."""
    pending, out = 0, set()
    for i, put in enumerate(puts):
        for kind in (put, "delete"):
            if kind != "append":
                pending += 1
                if pending >= fold_at:
                    out.add((i, kind))
                    pending = 0
    return out


class CommitTail:
    name = "commit_tail"
    warmup_cycles = len(PUT_KINDS)  # one cycle of each put kind
    round_cycles = len(PUT_KINDS)
    round_s = 8.0
    traced_rounds = 2  # the traced phase sees a folding and a plain commit of each kind
    max_cycles = MAX_CYCLES

    def __init__(self, run):
        self.run = run
        self.seed = run.seed
        self.puts = [PUT_KINDS[i % len(PUT_KINDS)] for i in range(MAX_CYCLES)]
        self.appends = [i for i, kind in enumerate(self.puts) if kind == "append"]
        self.n_runners = BASE_RUNNERS + len(self.appends)
        self.fold_points = fold_points(self.puts, fold_threshold())
        self.folds: list[tuple[int, dict]] = []  # (folded snapshot id, live docs then)
        self.fingerprint: dict[str, list] = {"files_added": [], "manifest_bytes": [], "violations": [], "files_scanned": []}
        self.manifest_sizes: list[int] = []  # bytes on disk per commit
        self.scanned_share: list[float] = []  # files kept ÷ live files per lookup

    # -- set-up ----------------------------------------------------------
    def build(self) -> None:
        """Generate the keyspace, stage every batch the run can commit and
        commit the clean base snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ovalspark.datagen import GenSpec, generate_catalog, generate_documents, inject_faults
        from ovalspark.sources import snapshot_write

        spark = self.run.spark
        self.stage = self.run.path("stage")
        self.root = self.run.path("table")
        spec = self.spec = GenSpec(
            n_runners=self.n_runners, n_writers=N_WRITERS, docs_per_writer=DOCS_PER_WRITER, max_spans=8, seed=self.seed
        )
        # the append cycle of each runner beyond the base (-1: the base)
        runner = (F.col("partition_id") / N_WRITERS).cast("int")
        cycles = F.create_map(*[F.lit(x) for n, i in enumerate(self.appends) for x in (BASE_RUNNERS + n, i)])
        cycle_of = F.coalesce(cycles[runner], F.lit(-1))

        cat = generate_catalog(spark, spec).localCheckpoint()
        slots = cat.collect()
        base_slots = [r for r in slots if r["partition_id"] // N_WRITERS < BASE_RUNNERS]
        self.live = {r["doc_id"]: r["generation"] for r in base_slots if r["exists"]}
        self.absent = sorted(r["doc_id"] for r in base_slots if not r["exists"])
        base_ids = sorted(self.live)
        self.deleted: set[str] = set()

        # each append cycle's catalog slice, written without Spark
        arrow = {"string": pa.string(), "boolean": pa.bool_(), "int": pa.int32(), "bigint": pa.int64()}
        fields = [(f.name, arrow[f.dataType.simpleString()]) for f in cat.schema.fields]
        by_cycle: dict[int, list] = {i: [] for i in self.appends}
        for r in slots:
            n = r["partition_id"] // N_WRITERS - BASE_RUNNERS
            if n >= 0:
                by_cycle[self.appends[n]].append(r)
        for i, rows in by_cycle.items():
            os.makedirs(f"{self.stage}/catalog/batch={i}")
            cols = {n: pa.array([r[n] for r in rows], t) for n, t in fields}
            pq.write_table(pa.table(cols), f"{self.stage}/catalog/batch={i}/part-0.parquet")

        # upserts restage live base docs at generation + 1; deletes name
        # live base docs by id; disjoint slices of the base, and some base
        # docs stay untouched for the lookups
        self.upserted: dict[int, list[str]] = {}
        self.removed: dict[int, list[str]] = {}
        pos = 0
        for i, kind in enumerate(self.puts):
            if kind == "upsert":
                self.upserted[i] = base_ids[pos : pos + ROWS_PER_UPSERT]
                pos += ROWS_PER_UPSERT
            self.removed[i] = base_ids[pos : pos + ROWS_PER_DELETE]
            pos += ROWS_PER_DELETE
        self.untouched = base_ids[pos:]
        if len(self.untouched) < ROWS_PER_DELETE:
            raise RuntimeError(f"base snapshot too small: {len(base_ids)} live docs for {pos} staged targets")
        up_cycle = {d: i for i, ids in self.upserted.items() for d in ids}
        up_cat = cat.filter(F.col("doc_id").isin(list(up_cycle))).withColumn("generation", F.col("generation") + 1)
        upserts = generate_documents(up_cat, spec).withColumn(
            "batch", F.create_map(*[F.lit(x) for kv in up_cycle.items() for x in kv])[F.col("doc_id")]
        )

        # appends: a runner's docs with injected faults. Generated docs are
        # materialized before injection, which references each span field
        # (generator→injector in one lazy plan re-expands the generator per
        # reference); one file per staged batch
        app_cat = cat.filter(cycle_of >= 0)
        docs = generate_documents(app_cat, spec).localCheckpoint()
        bad, expected = inject_faults(docs, app_cat, spec, FAULTS, PHANTOM_FRACTION, inject_seed=self.seed + 1)
        staged = bad.withColumn("batch", cycle_of).unionByName(upserts)
        staged.repartition("batch").write.partitionBy("batch").parquet(f"{self.stage}/docs")
        self.expected_viol: dict[int, Counter] = {i: Counter() for i in self.appends}
        for r in expected.collect():
            self.expected_viol[self.appends[r["partition_id"] // N_WRITERS - BASE_RUNNERS]][_row_key(r)] += 1
        self.staged_live: dict[int, dict[str, int]] = {i: {} for i in self.appends}
        for r in pq.read_table(f"{self.stage}/docs", columns=["doc_id", "generation", "batch"]).to_pylist():
            if int(r["batch"]) in self.staged_live:
                self.staged_live[int(r["batch"])][r["doc_id"]] = r["generation"]

        snapshot_write(generate_documents(cat.filter(cycle_of < 0), spec), self.root, mode="overwrite", bloom_cols=["doc_id"])

    # -- one cycle ---------------------------------------------------------
    def cycle(self, i: int) -> None:
        run = self.run
        self._commit(i, self.puts[i])
        self._commit(i, "delete")

        probes = self._probes(i)
        with run.span("lookup_block", op=i):
            results = []
            for doc_id, _ in probes:
                with run.span("snapshots.point_lookup", op=i):
                    results.append(self._lookup(doc_id))
        for (doc_id, want_gen), got_rows in zip(probes, results):
            got_gens = sorted(r["generation"] for r in got_rows)
            want_gens = [] if want_gen is None else [want_gen]
            run.check(got_gens == want_gens, f"lookup {doc_id} in cycle {i}: generations {got_gens}, expected {want_gens}")
        self.last_probes = probes

        if i % LIST_EVERY == LIST_PHASE:
            from ovalspark.sources import snapshot_read

            with run.span("snapshots.list", op=i):
                rows = snapshot_read(run.spark, self.root).select("doc_id").collect()
            got = Counter(r["doc_id"] for r in rows)
            run.check(got == Counter(self.live.keys()), f"list in cycle {i}: {sum(got.values())} ids, expected {len(self.live)}")

    def _commit(self, i: int, kind: str) -> None:
        """Commit cycle ``i``'s batch of ``kind``, run that commit's tail
        verifier and check both."""
        from ovalspark.operators.incremental import validate_delete, validate_snapshot_delta, validate_upsert
        from ovalspark.sources import current_snapshot_id, snapshot_delete, snapshot_upsert, snapshot_write

        run, spark, root = self.run, self.run.spark, self.root
        parent = current_snapshot_id(root)
        folds = (i, kind) in self.fold_points
        with run.span("commit.verdict", op=i):
            with run.span(COMMIT_SPAN[kind], op=i):
                if kind == "append":
                    staged = spark.read.parquet(f"{self.stage}/docs/batch={i}")
                    expect = spark.read.parquet(f"{self.stage}/catalog/batch={i}").filter("exists")
                    sid = snapshot_write(staged, root, mode="append", expect=expect, bloom_cols=["doc_id"])
                elif kind == "upsert":
                    sid = snapshot_upsert(spark, root, spark.read.parquet(f"{self.stage}/docs/batch={i}"))
                else:
                    ids = ", ".join(f"'{d}'" for d in self.removed[i])
                    sid = snapshot_delete(spark, root, f"doc_id IN ({ids})", strategy="merge-on-read")
            verifier = {"append": "incremental.delta", "upsert": "incremental.upsert_check", "delete": "incremental.delete_check"}
            with run.span(verifier[kind], op=i):
                if kind == "append":
                    cat = spark.read.parquet(f"{self.stage}/catalog/batch={i}")
                    rows = validate_snapshot_delta(spark, root, cat, self.spec.n_assets, from_id=parent, to_id=sid).collect()
                elif kind == "upsert":
                    rows = validate_upsert(spark, root, parent + 1).collect()
                else:
                    rows = validate_delete(spark, root, parent + 1).collect()
        got = Counter(_row_key(r) for r in rows)
        want = self.expected_viol[i] if kind == "append" else Counter()
        run.check(got == want, f"cycle {i} {kind} verdict: {sum(got.values())} rows, expected {sum(want.values())}")
        run.check(sid == parent + 1 + folds, f"cycle {i} {kind} returned snapshot {sid} after {parent}, fold expected: {folds}")
        ops = [self._manifest(s)[1].get("operation") for s in range(parent + 1, sid + 1)]
        run.check(ops == [kind] + ["replace"] * folds, f"cycle {i} {kind} committed {ops}")
        self._apply(i, kind)
        if folds:
            self.folds.append((sid, dict(self.live)))
        self._record_commit(parent, sid, len(rows))

    def _lookup(self, doc_id: str):
        from ovalspark.sources import point_lookup

        return point_lookup(self.run.spark, self.root, "doc_id", doc_id).select("doc_id", "generation").collect()

    def _apply(self, i: int, kind: str) -> None:
        if kind == "append":
            self.live.update(self.staged_live[i])
        elif kind == "upsert":
            for d in self.upserted[i]:
                self.live[d] += 1
        else:
            for d in self.removed[i]:
                self.live.pop(d, None)
                self.deleted.add(d)

    def _probes(self, i: int) -> list[tuple[str, int | None]]:
        """This cycle's gets, rotating over a doc the put wrote, an
        untouched live doc, a doc the delete removed and an absent doc."""
        put = sorted(self.staged_live[i]) if self.puts[i] == "append" else self.upserted[i]
        pools = (put, self.untouched, self.removed[i], self.absent)
        ids = [pools[(i + g) % len(pools)][(i * 7 + g) % len(pools[(i + g) % len(pools)])] for g in range(GETS_PER_CYCLE)]
        return [(d, self.live.get(d)) for d in ids]

    def _manifest(self, sid: int) -> tuple[str, dict]:
        path = os.path.join(self.root, "manifest", f"v{sid}.json")
        with open(path, encoding="utf-8") as f:
            raw = f.read()
        return raw, json.loads(raw)

    def _record_commit(self, parent: int, sid: int, n_rows: int) -> None:
        from ovalspark.sources import manifest_diff

        raw, m = self._manifest(sid)
        m.pop("committed_at", None)
        self.fingerprint["files_added"].append(len(manifest_diff(self.root, parent, sid)))
        self.fingerprint["manifest_bytes"].append(len(json.dumps(m, sort_keys=True)))
        self.fingerprint["violations"].append(n_rows)
        self.manifest_sizes.append(len(raw.encode("utf-8")))

    def trace_extra(self) -> None:
        """Traced phase only, outside the cycle: time file pruning alone
        for the cycle's probes and count the files each one keeps."""
        from ovalspark.sources import load_manifest, point_lookup_files

        live_files = len(load_manifest(self.root)["files"])
        for doc_id, _ in self.last_probes:
            with self.run.span("snapshots.lookup_files"):
                n = len(point_lookup_files(self.run.spark, self.root, "doc_id", doc_id))
            self.fingerprint["files_scanned"].append(n)
            self.scanned_share.append(n / live_files)

    # -- reporting ---------------------------------------------------------
    def report(self, run, since: int) -> dict[str, float]:
        from stats import summarize

        samples = {
            "commit_s": [s.seconds for s in run.spans[since:] if s.name in COMMIT_SPAN.values()],
            "verdict_lag_s": run.seconds_of("commit.verdict", since),
            "lookup_block_s": run.seconds_of("lookup_block", since),
        }
        out = {}
        for name, values in samples.items():
            for k, v in summarize(values).items():
                if k != "n":
                    out[f"{name}_{k}"] = v
        return out

    def layers(self, run, since: int) -> dict[str, float]:
        from stats import median

        out: dict[str, float] = {}
        folding_spans = {(i, COMMIT_SPAN[kind]) for i, kind in self.fold_points}
        spans = [s for s in run.spans[since:] if (s.op, s.name) not in folding_spans]
        for name in (*COMMIT_SPAN.values(), "snapshots.lookup_files", "snapshots.list",
                     "incremental.delta", "incremental.upsert_check", "incremental.delete_check"):
            v = [s.seconds for s in spans if s.name == name]
            if v:
                out[f"{name}_s"] = median(v)
        folding = [s.seconds for s in run.spans[since:] if (s.op, s.name) in folding_spans]
        if folding:
            out["snapshots.folding_commit_s"] = median(folding)
        out["snapshots.manifest_bytes_per_commit"] = median(self.manifest_sizes)
        if self.scanned_share:
            out["snapshots.files_scanned_per_lookup"] = median(self.scanned_share)
        return out

    def verify(self) -> None:
        """Untimed: every folded snapshot, read back in full, holds
        exactly the live docs of its moment, and so does the final table."""
        from ovalspark.sources import current_snapshot_id, snapshot_read

        for sid, live in [*self.folds, (current_snapshot_id(self.root), self.live)]:
            rows = snapshot_read(self.run.spark, self.root, snapshot_id=sid).select("doc_id", "generation").collect()
            got = Counter((r["doc_id"], r["generation"]) for r in rows)
            want = Counter(live.items())
            self.run.check(got == want, f"snapshot {sid}: {sum(got.values())} rows, expected {sum(want.values())} live docs")
