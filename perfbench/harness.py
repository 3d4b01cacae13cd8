"""Run context shared by the workloads: the Spark session, the work
directory inside the checkout, span recording and failure accounting.

Everything the benchmark writes goes under ``perfbench/.work`` (inputs,
tables, Spark scratch, event logs) and ``perfbench/out`` (trace files),
both inside the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    job_ids: list[int] = field(default_factory=list)
    cpu_s: float | None = None
    jit_s: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Run:
    """One benchmark process: session lifecycle, spans and counters."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(HERE, "out")
        self.spark = None
        self.eventlog_dir: str | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.tracing = False  # in the traced phase: spans tag Spark jobs
        self.attempted = 0
        self.failed = 0
        self.session_start_s: float | None = None
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # the JVM and Python workers inherit these: scratch files stay in
        # the checkout (java.io.tmpdir, hsperfdata, tempfile). A fixed set
        # of JIT compiler threads lives as long as the JVM, so the JIT CPU
        # that tree_cpu_s separates out never leaves with an exited thread
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ---------------------------------------------------------
    def start_session(self, eventlog: bool = False):
        """(Re)start the Spark session; the JVM is launched once and kept
        across restarts. ``eventlog`` turns on the uncompressed event log
        for the traced phase."""
        from ovalspark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.eventLog.enabled": "false",
        }
        if eventlog:
            self.eventlog_dir = self.path(f"eventlog-{len(self.spans)}")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.session_start_s is None:
            self.session_start_s = time.perf_counter() - t0
        self.tracing = eventlog
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time a call into the program. In the traced phase the span's
        Spark jobs also carry a job group named after the span, so the
        event log folds per span; otherwise this is two clock reads."""
        idx = len(self.spans)
        s = Span(name, op, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if (self.tracing and self.spark is not None) else None
        if sc is not None:
            s.group = f"{name}#{idx}"
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.job_ids = list(sc.statusTracker().getJobIdsForGroup(s.group))
                parent = self.spans[self._stack[-1]].group if self._stack else None
                if parent is not None:
                    sc.setJobGroup(parent, self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def seconds_of(self, name: str, since: int = 0) -> list[float]:
        return [s.seconds for s in self.spans[since:] if s.name == name]

    # -- failures --------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        """Count one verified operation; a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: MISMATCH {what}", file=sys.stderr)
        return ok

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: ERROR {what}\n{traceback.format_exc()}", file=sys.stderr)

    # -- output ----------------------------------------------------------
    def write_trace(self, extra: dict) -> str:
        os.makedirs(self.out_dir, exist_ok=True)
        p = os.path.join(self.out_dir, f"trace-{self.workload}-{self.seed}.json")
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            "workload": self.workload,
            "seed": self.seed,
            "spans": [
                {
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "job_ids": s.job_ids,
                }
                for s in self.spans
            ],
            **extra,
        }
        with open(p, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        return p

    def cleanup(self) -> None:
        """Stop the session, the JVM and every process it started, wait
        for each to end, then remove the work directory."""
        try:
            self.stop_session()
        except Exception as e:  # e.g. the gateway call a signal interrupted
            print(f"perfbench: stopping the session failed: {type(e).__name__}: {e}", file=sys.stderr)
        self.spark = None
        stop_jvm()
        killed = reap_descendants()
        if killed:
            print(f"perfbench: killed {killed} process(es) left after the JVM exited", file=sys.stderr)
        shutil.rmtree(self.work, ignore_errors=True)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a Python worker whose JVM has exited is re-parented here and
    ``reap_descendants`` can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it. ``SparkSession.stop``
    leaves it running until this process exits, and it would then outlive
    the run by its shutdown time; its gateway server exits on EOF on stdin."""
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_descendants(timeout_s: float = 30.0) -> int:
    """Wait until this process has no descendants left, reaping the ones
    that became its children; after half of ``timeout_s`` send SIGTERM,
    after all of it SIGKILL. Returns how many were signalled."""
    deadline = time.monotonic() + timeout_s
    signalled: set[int] = set()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        live = _descendants(os.getpid())
        if not live:
            return len(signalled)
        left = deadline - time.monotonic()
        if left < timeout_s / 2:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL if left < 0 else signal.SIGTERM)
                    signalled.add(p)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _descendants(root: int) -> list[int]:
    """Pids of the processes below ``root``, zombies included."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (stat := _stat(f"/proc/{d}/stat")) is not None:
            kids.setdefault(stat[1], []).append(int(d))
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its descendants — the JVM with its executor threads and
    the Python workers it forks, live ones and the reaped ones their
    parents' counters hold — as ``(work, jit)``: ``jit`` is the JVM's JIT
    compiler threads, ``work`` everything else."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (stat := _stat(f"/proc/{d}/stat", children=True)) is not None:
            kids.setdefault(stat[1], []).append(int(d))
            cpu[int(d)] = stat[2]
    total = jit = 0.0
    stack = [root]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0.0)
        stack.extend(kids.get(p, []))
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            stat = _stat(f"/proc/{p}/task/{t}/stat")
            if stat is not None and "CompilerThre" in stat[0]:
                jit += stat[2]
    return total - jit, jit


def _stat(path: str, children: bool = False) -> tuple[str, int, float] | None:
    """``(comm, ppid, cpu seconds)`` from a ``/proc`` stat file, or None
    if the process or thread has exited. ``children`` adds the CPU of the
    reaped children (process-wide, so only for a process's own file)."""
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return None
    rest = stat[stat.rindex(")") + 2 :].split()
    return stat[stat.index("(") + 1 : stat.rindex(")")], int(rest[1]), sum(int(x) for x in rest[11 : 15 if children else 13]) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")
