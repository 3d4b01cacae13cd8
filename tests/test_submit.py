"""Real ``spark-submit --py-files`` deployment of the packaged library.

The reference deploys as one static binary per worker host; the Spark
analog the README documents is one deterministic zip shipped to every
executor via ``--py-files``. The in-process CLI tests (test_cli.py)
prove the command surface; THIS file proves the deployment artifact:
``tools/make_pyfiles.py``'s zip alone — no repo checkout, no PYTHONPATH
— carries the whole library through an actual ``spark-submit`` child
JVM, generate → validate end-to-end, with executors unpickling the
library's closures from the zip. That is the claim "runs via
spark-submit --py-files on a multi-executor cluster" scaled to this
sandbox: same artifact, same submission path, local[4] scheduler.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None, reason="spark-submit not on PATH"
)


def _build_zip(out: str) -> None:
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(REPO, "tools", "make_pyfiles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.build(out)


def test_py_files_zip_is_deterministic_and_complete(tmp_path):
    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _build_zip(z1)
    _build_zip(z2)
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read(), "rebuild on unchanged sources must be byte-identical"
    with zipfile.ZipFile(z1) as zf:
        names = set(zf.namelist())
    # every module of the installed package is in the artifact
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, "ovalspark")):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn), REPO)
                assert rel in names, f"{rel} missing from --py-files zip"


def test_spark_submit_py_files_generate_validate(tmp_path):
    """The full deploy path: a 3-line driver + the zip, cwd OUTSIDE the
    repo, PYTHONPATH scrubbed — if any module is missing from the zip or
    any executor-side closure needs the repo on disk, this fails."""
    zip_path = str(tmp_path / "ovalspark.zip")
    _build_zip(zip_path)
    job = tmp_path / "job.py"
    job.write_text(
        "import sys\nfrom ovalspark.cli import main\nsys.exit(main(sys.argv[1:]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"

    def submit(*args: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [
                SPARK_SUBMIT,
                "--master",
                "local[4]",
                "--py-files",
                zip_path,
                str(job),
                *args,
            ],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
        )

    root, out = str(tmp_path / "world"), str(tmp_path / "out")
    r = submit(
        "generate",
        "--root",
        root,
        "--writers",
        "2",
        "--docs-per-writer",
        "60",
        "--faults",
        "WRONG_KIND=0.05",
    )
    assert r.returncode == 0, f"generate failed:\n{r.stderr[-3000:]}"
    assert os.path.isdir(root)

    r = submit("validate", "--root", root, "--out", out)
    assert r.returncode == 1, (
        f"faulted world must exit 1 (dirty), got {r.returncode}:\n{r.stderr[-3000:]}"
    )
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["passed"] is False
    # totals are per-constraint: the injected WRONG_KIND faults must have
    # surfaced as violations through the zipped executors
    assert sum(t["violations"] for t in report["totals"].values()) > 0
    assert os.path.exists(os.path.join(out, "manifest.json"))
