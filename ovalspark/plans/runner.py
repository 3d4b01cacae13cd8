"""Resumable plan runner — executes a ValidationPlan partition-aware.

The engine analog of oval's runner (``internal/runner/runner.go:176-225``
in /root/reference): where oval runs one goroutine per worker over a
disjoint key range and folds per-worker verdicts (A2/A3), this runner lets
Spark schedule tasks over partition_id shards and folds per-partition
verdicts from the manifest. Resume (O2/O3) works at (constraint, partition)
granularity: partitions already recorded under the same constraint version
are not re-read or re-published — re-running a completed partition is a
no-op (oval's idempotent follower /start, O8).

Passes: the plan is a list of passes, each one frame whose rows carry the
``constraint`` they belong to (the default plan's core pass computes
span_sequence, existence, partition_counts and uniqueness from one
docs⋈catalog join; a standalone constraint is a pass of one). Each pass
runs as ONE Spark write into ``<out>/_pass``, partitioned by (constraint,
partition_id). Its rows are then published constraint by constraint, in
plan order: for each of the constraint's todo partitions the old
``<out>/<constraint>/partition_id=<p>`` directory is removed and the new
one, if the pass produced any rows there, is renamed into its place. Then
the constraint's counts, manifest record, ``constraint.start``/``.done``
events and fail-fast check follow, exactly as for a constraint run alone
(the first member's start/done pair spans the pass's computation). On
fail-fast, publishing stops at the first dirty constraint. A staging
directory left by a killed run is removed by the next pass.

Resume rule: a pass reads every partition when a member that is not
partition-local (uniqueness) has todo partitions; otherwise it reads only
the union of its members' todo partitions, so a resume with one straggler
partition does not re-read the world. Each member keeps, and publishes,
only its own todo partitions' rows.

Determinism: violation output is written one JSON-lines file per
(constraint, partition), fully sorted by every column; because every
operator upstream is a deterministic function of the input tables, an
interrupted-then-resumed run emits byte-identical files to an
uninterrupted one (north_rule; proven by tests/test_resume.py).

Scale shape: the per-partition filter is a pushdown-friendly predicate on
``partition_id`` (partition pruning under an Iceberg/parquet layout
partitioned by it); input row counts per partition are one small groupBy
per run. Violation counts per partition come from the published sink
files, counted on the driver with no Spark job: the line count of each
uncompressed JSON part file, or the parquet footers' ``num_rows``. The
JSON count reads every violation byte once on the driver, which is small
because violations are small by design. The sink must therefore be on
the local filesystem (as the manifest already is), which also makes
publishing plain renames: ``run_plan`` refuses any other ``out_dir`` up
front. The only driver-side data otherwise is one record per (constraint,
partition).
"""

from __future__ import annotations

import glob
import operator
import os
import shutil
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ovalspark.operators.spans import VIOLATION_SCHEMA
from ovalspark.plans.manifest import Manifest
from ovalspark.plans.plan import ValidationPlan

VCOLS = VIOLATION_SCHEMA.fieldNames()
STAGE = "_pass"  # under out_dir; "_" keeps it out of Spark's reads of a sink


class ValidationFailure(Exception):
    """Raised in fail_fast mode when a constraint finds violations
    (oval's first-error cancellation, runner.go:209-212)."""


@dataclass
class RunResult:
    manifest: Manifest
    totals: dict[str, dict[str, int]] = field(default_factory=dict)
    verdicts: dict[int, bool] = field(default_factory=dict)  # partition -> pass

    @property
    def passed(self) -> bool:
        return all(self.verdicts.values())


def _write_canonical(frame: DataFrame, out_dir: str, fmt: str = "json") -> None:
    """One sorted file per (constraint, partition_id) dir of a pass's
    frame. repartition by both puts each group in exactly one task;
    partitionBy then emits exactly one file per group; the full-column
    sort fixes row order — byte-identical output regardless of task
    scheduling (asserted for both formats by tests/test_kill_resume.py /
    test_resume.py). The sort leads with the partition columns, so the
    writer's required ordering is already met; sorted any other way, the
    writer re-sorts by the partition columns alone and the row order
    within a file is lost.

    ``fmt="json"`` (default) is the human/debug-friendly sink;
    ``fmt="parquet"`` cuts encode cost and bytes for high-violation runs
    (violations are tiny by design, so json is fine on the happy path).
    """
    # every column nullable, whatever the pass: a parquet footer's schema
    # then does not depend on which constraints shared the pass, nor on
    # which of them a resume re-ran. The guard is always true; it is
    # nondeterministic only so the optimizer keeps it (a foldable one is
    # folded away, and a literal column keeps its NOT NULL)
    live = F.spark_partition_id() >= 0
    w = (
        frame.select(*[F.when(live, F.col(c)).alias(c) for c in ("constraint", *VCOLS)])
        .repartition("constraint", "partition_id")
        .sortWithinPartitions("constraint", *VCOLS)
        .write.mode("overwrite")
        .partitionBy("constraint", "partition_id")
    )
    # uncompressed JSON is one row per line: _sink_counts counts lines
    w.json(out_dir, compression="none") if fmt == "json" else w.parquet(out_dir)


def _publish(local_out: str, name: str, parts: list[int | None]) -> None:
    """Replace ``parts`` of constraint ``name``'s sink with the pass's
    staged directories: the old directory goes, and the staged one, if
    the pass wrote rows there, is renamed into its place."""
    staged = os.path.join(local_out, STAGE, f"constraint={name}")
    sink = os.path.join(local_out, name)
    os.makedirs(sink, exist_ok=True)
    for p in parts:
        d = f"partition_id={'__HIVE_DEFAULT_PARTITION__' if p is None else p}"
        shutil.rmtree(os.path.join(sink, d), ignore_errors=True)
        if os.path.isdir(os.path.join(staged, d)):
            os.rename(os.path.join(staged, d), os.path.join(sink, d))


def _local_path(spark, out_dir: str) -> str:
    """``out_dir`` as a local filesystem path, or ``ValueError``. The
    violation counts are read from the sink files with ``os``/``glob``
    (and the manifest is written the same way), so a sink on any other
    filesystem would count nothing and record a false pass. Resolved from
    the URI scheme, or ``fs.defaultFS`` for a path without one; no
    filesystem is opened."""
    from urllib.parse import urlparse

    scheme = urlparse(out_dir).scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        if urlparse(default_fs).scheme not in ("", "file"):
            raise ValueError(f"out_dir {out_dir!r} resolves to {default_fs}; the violation sink must be local")
        return out_dir
    if scheme != "file":
        raise ValueError(f"out_dir {out_dir!r} is not on the local filesystem; the violation sink must be local")
    return urlparse(out_dir).path


def _sink_counts(out_dir: str, name: str, fmt: str) -> dict[int | None, int]:
    """partition_id -> rows in ``_write_canonical``'s files under
    ``out_dir/name``: the line count of the uncompressed JSON part files,
    or the sum of the parquet footers' ``num_rows``. No directory means
    no violations; ``__HIVE_DEFAULT_PARTITION__`` is the NULL partition."""
    rows = _json_rows if fmt == "json" else _parquet_rows
    counts: dict[int | None, int] = {}
    for pdir in glob.glob(os.path.join(glob.escape(os.path.join(out_dir, name)), "partition_id=*")):
        v = pdir.rsplit("=", 1)[1]
        pid = None if v == "__HIVE_DEFAULT_PARTITION__" else int(v)
        parts = glob.glob(os.path.join(glob.escape(pdir), "part-*"))
        counts[pid] = counts.get(pid, 0) + sum(rows(f) for f in parts)
    return counts


def _json_rows(path: str) -> int:
    with open(path, "rb") as f:
        return sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def run_plan(
    plan: ValidationPlan,
    docs: DataFrame,
    catalog: DataFrame,
    assets: DataFrame | None,
    out_dir: str,
    manifest_path: str,
    run_id: str = "run-0",
    fail_fast: bool = False,
    logger=None,
    sink_format: str = "json",
) -> RunResult:
    import time

    from pyspark.sql import Observation

    from ovalspark.logging import NullLogger

    if sink_format not in ("json", "parquet"):
        raise ValueError(f"sink_format must be json|parquet, got {sink_format!r}")
    local_out = _local_path(docs.sparkSession, out_dir)
    log = logger if logger is not None else NullLogger()
    manifest = Manifest.load_or_create(manifest_path, run_id=run_id)
    all_parts = sorted(r.partition_id for r in catalog.select("partition_id").distinct().collect())

    # the partitions any constraint in this run will actually touch:
    # a resume with one straggler partition must not re-count the world
    todo_by_constraint: dict[str, list[int]] = {}
    for c in plan.constraints:
        done = manifest.done_partitions(c.name, c.version)
        todo = [p for p in all_parts if p not in done]
        if todo and not c.partition_local:
            todo = all_parts
        todo_by_constraint[c.name] = todo
    need_counts = sorted({p for t in todo_by_constraint.values() for p in t})

    # per-partition input row counts (lineage), computed once per run and
    # ONLY for partitions being (re)validated in this run
    if need_counts == all_parts:
        count_src = docs
    else:
        count_src = docs.filter(F.col("partition_id").isin(need_counts))
    row_counts = (
        {
            r.partition_id: r.n
            for r in count_src.groupBy("partition_id").agg(F.count("*").alias("n")).collect()
        }
        if need_counts
        else {}
    )

    local_stage = os.path.join(local_out, STAGE)
    for ps in plan.passes:
        members = [c for c in ps.members if todo_by_constraint[c.name]]
        for c in ps.members:
            if c not in members:
                log.debug("constraint.skip", name=c.name, version=c.version, reason="all partitions done")
        if not members:
            continue
        t0 = time.perf_counter()
        log.info("constraint.start", name=members[0].name, version=members[0].version,
                 partitions=len(todo_by_constraint[members[0].name]))
        if any(not c.partition_local for c in members):
            read = all_parts  # a global member must see the whole table
        else:
            read = sorted({p for c in members for p in todo_by_constraint[c.name]})
        if read == all_parts:
            d_in, c_in = docs, catalog
        else:
            d_in = docs.filter(F.col("partition_id").isin(read))
            c_in = catalog.filter(F.col("partition_id").isin(read))
        frame = ps.fn(d_in, c_in, assets)
        # each member keeps only its own todo partitions' rows (a member
        # with nothing to do keeps none, and Spark prunes its branch)
        keep = []
        for c in members:
            todo = todo_by_constraint[c.name]
            cond = F.col("constraint") == c.name
            keep.append(cond if todo == read else cond & F.col("partition_id").isin(todo))
        if len(members) < len(ps.members) or any(todo_by_constraint[c.name] != read for c in members):
            frame = frame.filter(reduce(operator.or_, keep))

        # live run metrics (oval's stat counters,
        # oval's internal/stat/stat.go:8-51 analog): ONE observation
        # node piggybacks on the pass's write action, with a count per
        # member — violations are counted DURING the run, not by an extra
        # pass. Observed on the OUTPUT only: constraints like uniqueness/
        # distribution reference the input in several plan subtrees, and a
        # CollectMetrics node that fires more than once per action breaks
        # Observation.get. rows_scanned comes from the per-run lineage
        # counts (also not an extra pass).
        obs = Observation(f"{members[0].name}-viols")
        frame = frame.observe(obs, *[F.count(F.when(F.col("constraint") == c.name, 1)).alias(c.name) for c in members])
        shutil.rmtree(local_stage, ignore_errors=True)  # a killed run's staging
        try:
            _write_canonical(frame, f"{out_dir}/{STAGE}", fmt=sink_format)
            # a write of an EMPTY frame skips its result stage, so the
            # metrics row never materializes — fall back to the published
            # count (identical by construction: both count this pass's rows)
            try:
                seen = obs.get
            except Exception:
                seen = {}
            for i, c in enumerate(members):
                todo = todo_by_constraint[c.name]
                if i:
                    t0 = time.perf_counter()
                    log.info("constraint.start", name=c.name, version=c.version, partitions=len(todo))
                # the NULL partition is this member's only when it read everything
                _publish(local_out, c.name, todo + [None] if todo == all_parts else todo)
                # count per-partition violations from the published files, on
                # the driver: a Spark read-back of the sink costs two jobs.
                # Only the partitions validated in THIS pass count toward
                # fail-fast (the sink holds earlier partitions on resume)
                vcounts = _sink_counts(local_out, c.name, sink_format)
                new_viols = sum(vcounts.get(p, 0) for p in todo)
                observed = {
                    "rows_scanned": sum(row_counts.get(p, 0) for p in todo),
                    "violations_found": seen.get(c.name, new_viols),
                }
                records = {
                    int(p): {
                        "row_count": int(row_counts.get(p, 0)),
                        "violation_count": int(vcounts.get(p, 0)),
                        "output": f"{out_dir}/{c.name}/partition_id={p}",
                    }
                    for p in todo
                }
                manifest.mark_done(c.name, c.version, records)
                manifest.record_observed(c.name, c.version, observed)
                manifest.save()
                log.info(
                    "constraint.done",
                    name=c.name,
                    version=c.version,
                    partitions=len(todo),
                    violations=new_viols,
                    rows_scanned=observed["rows_scanned"],
                    seconds=round(time.perf_counter() - t0, 2),
                )
                if fail_fast and new_viols > 0:
                    log.error("run.fail_fast", name=c.name, violations=new_viols)
                    raise ValidationFailure(f"constraint {c.name}@{c.version} found {new_viols} violations")
        finally:
            shutil.rmtree(local_stage, ignore_errors=True)

    totals = manifest.totals()
    verdicts: dict[int, bool] = {p: True for p in all_parts}
    for name, rec in manifest.constraints.items():
        for pid, r in rec.get("partitions", {}).items():
            if int(r.get("violation_count", 0)) > 0:
                verdicts[int(pid)] = False
    return RunResult(manifest=manifest, totals=totals, verdicts=verdicts)
