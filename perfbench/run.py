"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 20 --trace 0

Runs one workload in this process as a closed loop with a single client
on ``local[<cores>]``: set-up (timed once, from process start to ready),
a fixed count of warm-up cycles, then ``round(seconds / round_s)`` whole
rounds of measured cycles. Prints one ``metric <name> <value> <unit>``
line per metric and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` adds a
traced phase after an untraced one and reports per-layer metrics
instead of end-to-end ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

HOLDOUT_SEED = 90127  # reserved for confirming claims; never used while tuning
PROGRAM_FILES = ("ovalspark/__init__.py", "__spark_entry__.py", "bench.py")
# the result line's metrics: end-to-end with --trace 0, per-layer with 1
E2E_METRICS = ("setup_s", "cycle_cpu_s")
LAYER_METRICS = (
    "session.start_s",
    "datagen.world_s",
    "warmup_s",
    "trace.overhead_s",
    "spark.jobs_per_cycle",
    "spark.stages_per_cycle",
    "spark.tasks_per_cycle",
    "spark.executor_run_s_per_cycle",
    "spark.gc_s_per_cycle",
    "spark.shuffle_bytes_per_cycle",
    "spark.spill_bytes_per_cycle",
    "outside_jobs_s_per_cycle",
    "jit.cpu_s_per_cycle",
    "error_rate",
)


def workloads():
    from batch_validate import BatchValidate
    from commit_tail import CommitTail
    from headline import HeadlineSuite

    return {w.name: w for w in (HeadlineSuite, BatchValidate, CommitTail)}


def unit_of(name: str) -> str:
    if name == "error_rate" or name.endswith("per_lookup"):
        return "ratio"
    if name.endswith("per_s"):
        return "1/s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    return "count"


def rounds_in(wl, seconds: float) -> int:
    """``round(seconds / wl.round_s)`` whole rounds of cycles, at least
    one: the measured work is fixed by the arguments, not by how fast this
    machine happens to be."""
    return max(1, round(seconds / wl.round_s))


def measure(run, wl, rounds: int, first: int) -> int:
    """Run ``rounds`` rounds of cycles from cycle ``first``, never past
    ``wl.max_cycles``. Returns the next cycle index."""
    from harness import tree_cpu_s

    i = first
    for _ in range(rounds):
        if i + wl.round_cycles > wl.max_cycles:
            break
        for _ in range(wl.round_cycles):
            c0, j0 = tree_cpu_s()
            with run.span("cycle", op=i) as s:
                wl.cycle(i)
            c1, j1 = tree_cpu_s()
            s.cpu_s, s.jit_s = c1 - c0, j1 - j0
            i += 1
            if run.tracing and hasattr(wl, "trace_extra"):
                wl.trace_extra()
    return i


def warm_python_workers(spark, cpus: int) -> None:
    """Start the session's Python workers before timing anything."""

    def ident(it):
        yield from it

    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(ident, "id long").collect()


def spark_layers(run, fold: dict, since: int) -> tuple[dict, dict]:
    """Per-cycle Spark totals over the traced phase, and per-span-name
    means, from the folded event log."""
    from eventlog import FIELDS

    spans = run.spans[since:]
    cycles = [s for s in spans if s.name == "cycle"]
    ops = {s.op for s in cycles}
    totals = {k: 0.0 for k in FIELDS}
    per_name: dict[str, dict[str, float]] = {}
    calls: dict[str, int] = {}
    for s in spans:
        m = fold.get(s.group or "", {})
        calls[s.name] = calls.get(s.name, 0) + 1
        agg = per_name.setdefault(s.name, {k: 0.0 for k in FIELDS})
        for k in FIELDS:
            agg[k] += m.get(k, 0.0)
            if s.op in ops:
                totals[k] += m.get(k, 0.0)
    n = len(cycles)
    wall = sum(s.seconds for s in cycles)
    out = {f"spark.{k}_per_cycle": totals[k] / n for k in (
        "jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_bytes", "spill_bytes")}
    out["outside_jobs_s_per_cycle"] = (wall - totals["job_wall_s"]) / n
    out["jit.cpu_s_per_cycle"] = sum(s.jit_s for s in cycles) / n
    detail = {
        f"spark.{name}.{k}": v / calls[name]
        for name, agg in per_name.items()
        if agg["jobs"]
        for k, v in agg.items()
        if k in ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_bytes", "spill_bytes", "python_s")
    }
    return out, detail


def check_fingerprint(run, fp: dict) -> None:
    """Counts that must repeat exactly across runs of one seed: compare
    with the first run of this seed and mode, of this benchmark on this
    program, in the checkout. A change to the program (fewer Spark jobs,
    a new manifest field) starts a fresh record instead of failing."""
    import glob
    import hashlib

    h = hashlib.sha256()
    sources = glob.glob(os.path.join(HERE, "*.py")) + glob.glob(os.path.join(ROOT, "ovalspark", "**", "*.py"), recursive=True)
    sources += [os.path.join(ROOT, p) for p in PROGRAM_FILES]
    for p in sorted(set(sources)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    os.makedirs(run.out_dir, exist_ok=True)
    name = f"fingerprint-{run.workload}-{run.seed}-t{int(run.trace)}-{h.hexdigest()[:10]}.json"
    path = os.path.join(run.out_dir, name)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            prev = json.load(f)
        for k, v in fp.items():
            old = prev.get(k, [])
            n = min(len(old), len(v))
            run.check(old[:n] == v[:n], f"fingerprint {k} differs from an earlier run of seed {run.seed}")
    else:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(fp, f, sort_keys=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    classes = workloads()
    if args.workload not in classes:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(classes)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    from harness import Run, adopt_orphans
    from stats import median

    # on SIGTERM too, the finally below stops every process the run started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    adopt_orphans()
    run = Run(args.workload, args.seed, bool(args.trace))
    metrics: dict[str, float] = {}
    report: dict[str, float] = {}
    try:
        wl = classes[args.workload](run)
        run.start_session()
        t1 = time.perf_counter()
        wl.build()
        world_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        warm_python_workers(run.spark, run.cpus)
        for i in range(wl.warmup_cycles):
            with run.span("cycle", op=i):
                wl.cycle(i)
        warmup_s = time.perf_counter() - t0

        first = len(run.spans)
        window = args.seconds / 2 if run.trace else args.seconds
        nxt = measure(run, wl, rounds_in(wl, window), wl.warmup_cycles)
        untraced = median(run.seconds_of("cycle", first))
        cpu = [x.cpu_s for x in run.spans[first:] if x.name == "cycle"]
        cycle_cpu_s = sum(cpu) / len(cpu)
        report.update(wl.report(run, first))
        if run.trace:
            run.start_session(eventlog=True)
            warm_python_workers(run.spark, run.cpus)
            traced_from = len(run.spans)
            measure(run, wl, getattr(wl, "traced_rounds", None) or rounds_in(wl, window), nxt)
            traced = median(run.seconds_of("cycle", traced_from))
            layers = wl.layers(run, traced_from)
        wl.verify()
        run.stop_session()

        report.update({"setup_s": setup_s, "cycle_s": untraced, "cycle_cpu_s": cycle_cpu_s, "warmup_s": warmup_s})
        if run.trace:
            from eventlog import fold_dir

            fold = fold_dir(run.eventlog_dir)
            spark_totals, spark_detail = spark_layers(run, fold, traced_from)
            layers.update(spark_detail)
            metrics = {
                "session.start_s": run.session_start_s,
                "datagen.world_s": world_s,
                "warmup_s": warmup_s,
                "trace.overhead_s": traced - untraced,
                **spark_totals,
            }
            jobs = [[s.name, len(s.job_ids)] for s in run.spans[traced_from:] if s.name != "cycle"]
            wl.fingerprint["jobs_per_op"] = jobs
            report.update(layers)
            run.write_trace({"report": report, "metrics": metrics, "fold": fold})
        else:
            metrics = {"setup_s": setup_s, "cycle_cpu_s": cycle_cpu_s}
        check_fingerprint(run, wl.fingerprint)
    except Exception as e:  # the run's result must still be printed
        run.fail(f"{type(e).__name__}: {e}")
        metrics = {}
    finally:
        run.cleanup()

    error_rate = run.failed / max(run.attempted, 1)
    if run.trace and metrics:
        metrics["error_rate"] = error_rate
    if metrics and tuple(metrics) != (LAYER_METRICS if run.trace else E2E_METRICS):
        run.check(False, f"emitted metrics {sorted(metrics)} differ from the declared ones")
    report["error_rate"] = error_rate
    for k in sorted(report):
        print(f"metric {k} {report[k]!r} {unit_of(k)}")
    correct = run.failed == 0 and bool(metrics)
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result, sort_keys=True))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
