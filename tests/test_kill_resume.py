"""Kill-mid-flight resume — the literal north_rule scenario and the
analog of oval's run-and-signal CI job (/root/reference/Makefile:76-81,
README.md:200-236): a real `cli validate` subprocess is SIGKILLed while
writing, then resumed with --resume; final violation output must be
byte-identical to an uninterrupted run."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read_canonical(out_dir: str) -> dict[str, bytes]:
    out = {}
    for pdir in sorted(glob.glob(f"{out_dir}/*/partition_id=*")):
        key = os.path.relpath(pdir, out_dir)
        files = sorted(f for f in glob.glob(f"{pdir}/part-*") if not f.endswith(".crc"))
        out[key] = b"".join(open(f, "rb").read() for f in files)
    return out


def _cli(args: list[str], **kw) -> subprocess.Popen:
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8", "OVALSPARK_DRIVER_MEM": "4g"}
    return subprocess.Popen(
        [sys.executable, "-m", "ovalspark.cli", *args],
        cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )


@pytest.mark.slow
def test_sigkill_then_resume_byte_identical(tmp_path):
    root = str(tmp_path / "world")
    gen = _cli(
        ["generate", "--root", root, "--writers", "4", "--docs-per-writer", "3000",
         "--spans", "1-10", "--faults", "WRONG_KIND=0.02,STALE_GENERATION=0.02,LOST_DOC=0.02"]
    )
    assert gen.wait(timeout=600) == 0

    # uninterrupted reference run
    out_a = str(tmp_path / "run_a")
    ref = _cli(["validate", "--root", root, "--out", out_a])
    assert ref.wait(timeout=600) == 1  # violations found → exit 1
    golden = _read_canonical(out_a)
    assert golden

    # interrupted run: SIGKILL inside the core pass (the first pass), while
    # its write stages under _pass and before any constraint is recorded
    out_b = str(tmp_path / "run_b")
    victim = _cli(["validate", "--root", root, "--out", out_b])
    deadline = time.time() + 540
    killed = False
    while time.time() < deadline:
        if victim.poll() is not None:
            break  # finished before we could kill — still a valid (weaker) test
        if os.path.isdir(f"{out_b}/_pass") and not os.path.exists(f"{out_b}/manifest.json"):
            os.kill(victim.pid, signal.SIGKILL)
            victim.wait(timeout=60)
            killed = True
            break
        time.sleep(0.05)
    partial = _read_canonical(out_b)
    if killed:
        assert set(partial) < set(golden)

    resume = _cli(["validate", "--root", root, "--out", out_b, "--resume"])
    assert resume.wait(timeout=600) == 1
    assert _read_canonical(out_b) == golden
    assert not os.path.exists(f"{out_b}/_pass")  # the killed run's staging is gone
