"""``batch_validate``: the CLI ``validate`` path over a whole world.

Set-up generates a seeded, fault-injected world with a hot shard
(``datagen``) and saves it as parquet tables (``TableSet.save``). Each
cycle is one ``TableSet.load`` + ``run_plan(default_plan())`` into a
fresh output directory, exactly what ``ovalspark.cli validate`` runs.
The violation rows it writes must equal, row for row, the injector's
golden rows (span-sequence, existence and uniqueness constraints), the
per-shard count mismatches recomputed from the saved files with pyarrow
(partition counts) and nothing (referential: no media faults are
injected). The snapshot store is never touched.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter

N_WRITERS = 4
DOCS_PER_WRITER = 4000
HOT_SHARD_FACTOR = 4  # shard 0 holds 4x the docs of the others
FAULTS = {
    c: 0.01
    for c in ("WRONG_TEXT", "WRONG_KIND", "OFFSET_DISORDER", "STALE_GENERATION", "WRONG_WRITER", "SIZE_MISMATCH", "LOST_DOC", "DUP_DOC_ID")
}
PHANTOM_FRACTION = 0.01
GOLDEN = ("span_sequence", "existence", "uniqueness")  # constraints inject_faults predicts
KEY = ("partition_id", "doc_id", "span_idx", "field", "expected", "actual", "violation_class", "writer_id", "written_at")
OPERATORS = ("validate_spans", "check_existence", "check_partition_counts", "check_uniqueness", "check_referential", "validate_all")


def _json_rows(path: str, partition_from_dir: bool) -> Counter:
    """Rows of Spark-written JSON-lines files under ``path`` as a multiset
    of ``KEY`` tuples (absent fields, which Spark omits for nulls, read
    as empty)."""
    out: Counter = Counter()
    for f in glob.glob(os.path.join(path, "**", "part-*.json"), recursive=True):
        extra = {}
        if partition_from_dir:
            part = [p for p in f.split(os.sep) if p.startswith("partition_id=")]
            extra = {"partition_id": int(part[-1].split("=", 1)[1])}
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                r = {**json.loads(line), **extra}
                out[tuple("" if r.get(c) is None else str(r[c]) for c in KEY)] += 1
    return out


class PlanEvents:
    """``run_plan`` logger: turns each constraint's start/done events
    into a ``plans.<constraint>`` span, so its Spark jobs fold under it."""

    def __init__(self, run, op: int):
        self.run, self.op, self.open = run, op, None

    def info(self, event: str, **fields) -> None:
        if event == "constraint.start":
            self.open = self.run.span(f"plans.{fields['name']}", op=self.op)
            self.open.__enter__()
        elif event == "constraint.done" and self.open is not None:
            self.open.__exit__(None, None, None)
            self.open = None

    def debug(self, event: str, **fields) -> None:
        pass

    def warn(self, event: str, **fields) -> None:
        pass

    def error(self, event: str, **fields) -> None:
        pass


class BatchValidate:
    name = "batch_validate"
    warmup_cycles = 1
    round_cycles = 1
    round_s = 4.0
    max_cycles = 40

    def __init__(self, run):
        self.run = run
        self.fingerprint: dict[str, list] = {"violations": []}

    def build(self) -> None:
        import pyarrow.dataset as ds

        from ovalspark.datagen import GenSpec, generate_assets, generate_catalog, generate_documents, inject_faults
        from ovalspark.sources import TableSet

        spark, run = self.run.spark, self.run
        self.root = run.path("world")
        spec = GenSpec(
            n_writers=N_WRITERS, docs_per_writer=DOCS_PER_WRITER, max_spans=8, hot_shard_factor=HOT_SHARD_FACTOR, seed=run.seed
        )
        self.spec = spec
        cat = generate_catalog(spark, spec).localCheckpoint()
        # materialize before injection: the injector references each span
        # field, and a lazy generator would be re-expanded per reference
        docs = generate_documents(cat, spec).localCheckpoint()
        bad, expected = inject_faults(docs, cat, spec, FAULTS, PHANTOM_FRACTION, inject_seed=run.seed + 1)
        TableSet(docs=bad, catalog=cat, assets=generate_assets(spark, spec)).save(self.root)
        expected.select(*KEY).write.json(run.path("expected"))

        golden = _json_rows(run.path("expected"), partition_from_dir=False)
        # partition counts, recomputed from the saved files without Spark
        have = Counter(ds.dataset(f"{self.root}/documents", partitioning="hive").to_table(columns=["partition_id"])["partition_id"].to_pylist())
        cat_t = ds.dataset(f"{self.root}/catalog", partitioning="hive").to_table(columns=["partition_id", "exists"]).to_pylist()
        want = Counter(r["partition_id"] for r in cat_t if r["exists"])
        counts = Counter()
        for p in sorted(set(have) | set(want)):
            if have[p] != want[p]:
                counts[(str(p), "", "", "count", str(want[p]), str(have[p]), "COUNT_MISMATCH", "", "")] += 1
        self.expected = {"golden": golden, "partition_counts": counts, "referential": Counter()}
        self.n_docs = sum(have.values())

    def cycle(self, i: int) -> None:
        from ovalspark.plans import default_plan, run_plan
        from ovalspark.sources import TableSet

        run = self.run
        out = run.path(f"out-{i}")
        with run.span("validate", op=i):
            with run.span("sources.load", op=i):
                ts = TableSet.load(run.spark, self.root)
            with run.span("plans.run_plan", op=i):
                res = run_plan(default_plan(), ts.docs, ts.catalog, ts.assets, out, f"{out}/manifest.json", logger=PlanEvents(run, i))
        got = {c: _json_rows(f"{out}/{c}", partition_from_dir=True) for c in (*GOLDEN, "partition_counts", "referential")}
        golden = sum((got[c] for c in GOLDEN), Counter())
        n = sum(sum(v.values()) for v in got.values())
        run.check(golden == self.expected["golden"], f"validate {i}: golden-constraint rows differ ({sum(golden.values())} vs {sum(self.expected['golden'].values())})")
        run.check(got["partition_counts"] == self.expected["partition_counts"], f"validate {i}: partition_counts rows differ")
        run.check(got["referential"] == self.expected["referential"], f"validate {i}: {sum(got['referential'].values())} referential rows, expected none")
        run.check(bool(res.totals) and not res.passed, f"validate {i}: run reported passed={res.passed}")
        self.fingerprint["violations"].append(n)
        shutil.rmtree(out, ignore_errors=True)

    def report(self, run, since: int) -> dict[str, float]:
        from stats import summarize

        stats = summarize(run.seconds_of("validate", since))
        out = {f"validate_s_{k}": v for k, v in stats.items() if k not in ("n", "p50")}
        validate_s = stats["p50"]
        return {"validate_s": validate_s, "docs_per_s": self.n_docs / validate_s, "docs": float(self.n_docs), **out}

    def layers(self, run, since: int) -> dict[str, float]:
        """Per-layer medians over the traced cycles, then each operator
        timed once on its own to a noop sink over the same tables, then
        the ``__spark_entry__`` layer."""
        from stats import median

        out = {"sources.load_s": median(run.seconds_of("sources.load", since))}
        plan_s = run.seconds_of("plans.run_plan", since)
        constraint_total = [0.0] * len(plan_s)
        for c in ("span_sequence", "existence", "partition_counts", "uniqueness", "referential"):
            v = run.seconds_of(f"plans.{c}", since)
            out[f"plans.{c}_s"] = median(v)
            constraint_total = [a + b for a, b in zip(constraint_total, v)]
        out["plans.lineage_s"] = median([p - c for p, c in zip(plan_s, constraint_total)])
        out.update(self._operators())
        out.update(self._entry())
        return out

    def _entry(self) -> dict[str, float]:
        """The ``__spark_entry__`` layer, on the same session: the
        headline queries over seeded tables, one pass whose results are
        checked against the DuckDB oracles, then one timed pass."""
        from headline import HeadlineSuite

        run = self.run
        suite = HeadlineSuite(run)
        suite.build()
        suite.cycle(0)
        since = len(run.spans)
        suite.cycle(suite.warmup_cycles)
        self.fingerprint.update({f"entry_{k}": v for k, v in suite.fingerprint.items()})
        return {**suite.report(run, since), **suite.layers(run, since)}

    def _operators(self) -> dict[str, float]:
        from ovalspark.operators import check_existence, check_partition_counts, check_referential, check_uniqueness, validate_spans
        from ovalspark.operators.fused import validate_all
        from ovalspark.sources import TableSet

        run = self.run
        ts = TableSet.load(run.spark, self.root)
        n_assets = self.spec.n_assets
        frames = {
            "validate_spans": lambda: validate_spans(ts.docs, ts.catalog, n_assets),
            "check_existence": lambda: check_existence(ts.docs, ts.catalog),
            "check_partition_counts": lambda: check_partition_counts(ts.docs, ts.catalog),
            "check_uniqueness": lambda: check_uniqueness(ts.docs),
            "check_referential": lambda: check_referential(ts.docs, ts.assets),
            "validate_all": lambda: validate_all(ts.docs, ts.catalog, n_assets),
        }
        out = {}
        for name in OPERATORS:
            with run.span(f"operators.{name}") as s:
                frames[name]().write.format("noop").mode("overwrite").save()
            out[f"operators.{name}_s"] = s.seconds
        return out

    def verify(self) -> None:
        """Every cycle's output was checked as it was written."""
