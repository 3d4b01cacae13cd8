"""Resumable plan runner — executes a ValidationPlan partition-aware.

The engine analog of oval's runner (``internal/runner/runner.go:176-225``
in /root/reference): where oval runs one goroutine per worker over a
disjoint key range and folds per-worker verdicts (A2/A3), this runner lets
Spark schedule tasks over partition_id shards and folds per-partition
verdicts from the manifest. Resume (O2/O3) works at (constraint, partition)
granularity: partitions already recorded under the same constraint version
are filtered OUT of the input before the constraint runs — re-running a
completed partition is a no-op (oval's idempotent follower /start, O8).

Determinism: violation output is written one JSON-lines file per
partition, fully sorted by every column; because every operator upstream
is a deterministic function of the input tables, an interrupted-then-
resumed run emits byte-identical files to an uninterrupted one
(north_rule; proven by tests/test_resume.py).

Scale shape: the per-partition filter is a pushdown-friendly predicate on
``partition_id`` (partition pruning under an Iceberg/parquet layout
partitioned by it); input row counts per partition are one small groupBy
per pass. Violation counts per partition come from the sink files the
constraint's write just produced, counted on the driver with no Spark
job: the line count of each uncompressed JSON part file, or the parquet
footers' ``num_rows``. The JSON count reads every violation byte once on
the driver, which is small because violations are small by design. The
sink must therefore be on the local filesystem (as the manifest already
is): ``run_plan`` refuses any other ``out_dir`` up front. The only
driver-side data otherwise is one record per (constraint, partition).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ovalspark.plans.manifest import Manifest
from ovalspark.plans.plan import ValidationPlan

VCOLS = [
    "partition_id",
    "doc_id",
    "span_idx",
    "field",
    "expected",
    "actual",
    "violation_class",
    "writer_id",
    "written_at",
]


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


def _write_canonical(viol: DataFrame, out_dir: str, fmt: str = "json") -> None:
    """One sorted file per partition_id dir. repartition by partition_id
    puts each shard in exactly one task; partitionBy then emits exactly
    one file per shard; the full-column sort fixes row order —
    byte-identical output regardless of task scheduling (asserted for
    both formats by tests/test_kill_resume.py / test_resume.py).

    ``fmt="json"`` (default) is the human/debug-friendly sink;
    ``fmt="parquet"`` cuts encode cost and bytes for high-violation runs
    (violations are tiny by design, so json is fine on the happy path).
    """
    spark = viol.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        w = (
            viol.select(*VCOLS)
            .repartition("partition_id")
            .sortWithinPartitions(*VCOLS)
            .write.mode("overwrite")
            .partitionBy("partition_id")
        )
        # uncompressed JSON is one row per line: _sink_counts counts lines
        w.json(out_dir, compression="none") if fmt == "json" else w.parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


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

    # the partitions any constraint in this pass will actually touch:
    # a resume with one straggler partition must not re-count the world
    todo_by_constraint: dict[str, list[int]] = {}
    for c in plan.constraints:
        done = manifest.done_partitions(c.name, c.version)
        todo = [p for p in all_parts if p not in done]
        if todo and not c.partition_local:
            todo = all_parts
        todo_by_constraint[c.name] = todo
    need_counts = sorted({p for t in todo_by_constraint.values() for p in t})

    # per-partition input row counts (lineage), computed once per pass and
    # ONLY for partitions being (re)validated in this pass
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

    for c in plan.constraints:
        todo = todo_by_constraint[c.name]
        if not todo:
            log.debug("constraint.skip", name=c.name, version=c.version, reason="all partitions done")
            continue
        t0 = time.perf_counter()
        log.info("constraint.start", name=c.name, version=c.version, partitions=len(todo))
        if c.partition_local and todo != all_parts:
            d_in = docs.filter(F.col("partition_id").isin(todo))
            c_in = catalog.filter(F.col("partition_id").isin(todo))
        else:
            # global constraint (or fresh run): must see the whole table
            d_in, c_in = docs, catalog

        # live run metrics (oval's stat counters,
        # /root/reference/internal/stat/stat.go:8-51 analog): an observation
        # node piggybacks on the write action — violations are counted
        # DURING the run, not by an extra pass. Observed on the OUTPUT only:
        # constraints like uniqueness/distribution reference the input in
        # several plan subtrees, and a CollectMetrics node that fires more
        # than once per action breaks Observation.get. rows_scanned comes
        # from the per-pass lineage counts (also not an extra pass).
        viol = c.fn(d_in, c_in, assets)
        obs_out = Observation(f"{c.name}-viols")
        viol = viol.observe(obs_out, F.count(F.lit(1)).alias("violations_found"))
        cdir = f"{out_dir}/{c.name}"
        _write_canonical(viol, cdir, fmt=sink_format)
        # count per-partition violations from the files just written, on
        # the driver: re-running the constraint would be a full extra pass
        # over docs, and a Spark read-back of the sink costs two jobs
        vcounts = _sink_counts(local_out, c.name, sink_format)
        # live-observed counter; a dynamic-overwrite write of an EMPTY
        # violations table skips its result stage, so the metrics row never
        # materializes — fall back to the written-output count (identical
        # by construction: both count this pass's violations).
        try:
            observed = {"rows_scanned": sum(row_counts.get(p, 0) for p in todo), **obs_out.get}
        except Exception:
            observed = {
                "rows_scanned": sum(row_counts.get(p, 0) for p in todo),
                "violations_found": sum(vcounts.get(p, 0) for p in todo),
            }
        records = {
            int(p): {
                "row_count": int(row_counts.get(p, 0)),
                "violation_count": int(vcounts.get(p, 0)),
                "output": f"{cdir}/partition_id={p}",
            }
            for p in todo
            if p is not None
        }
        # violations with null partition_id (shouldn't happen) still count
        manifest.mark_done(c.name, c.version, records)
        manifest.record_observed(c.name, c.version, observed)
        manifest.save()
        # only the partitions validated in THIS pass count toward fail-fast
        # (the sink holds previously-written partitions on resume)
        new_viols = sum(vcounts.get(p, 0) for p in todo)
        log.info(
            "constraint.done",
            name=c.name,
            version=c.version,
            partitions=len(todo),
            violations=new_viols,
            rows_scanned=observed.get("rows_scanned", 0),
            seconds=round(time.perf_counter() - t0, 2),
        )
        if fail_fast and new_viols > 0:
            log.error("run.fail_fast", name=c.name, violations=new_viols)
            raise ValidationFailure(
                f"constraint {c.name}@{c.version} found {new_viols} violations"
            )

    totals = manifest.totals()
    verdicts: dict[int, bool] = {p: True for p in all_parts}
    for name, rec in manifest.constraints.items():
        for pid, r in rec.get("partitions", {}).items():
            if int(r.get("violation_count", 0)) > 0:
                verdicts[int(pid)] = False
    return RunResult(manifest=manifest, totals=totals, verdicts=verdicts)
