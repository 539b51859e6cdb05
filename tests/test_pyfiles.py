"""The spark-submit --py-files artifact (scripts/package_pyfiles.py).

No SparkSession needed: validates the zip is deterministic, complete, and
importable as a sys.path entry — the properties a ``spark-submit
--py-files`` deployment to a cluster master (``local-cluster``,
``spark://``; see session.py) depends on.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from package_pyfiles import build_zip  # noqa: E402


def test_zip_deterministic(tmp_path):
    a = build_zip(str(tmp_path / "a.zip"))
    b = build_zip(str(tmp_path / "b.zip"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read(), "repeated builds must be byte-identical"


def test_zip_complete(tmp_path):
    path = build_zip(str(tmp_path / "pkg.zip"))
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
    # every .py in the package tree is present
    for root, _dirs, files in os.walk(
        os.path.join(REPO, "uncharted_ta1_pipeline_spark")
    ):
        for fn in files:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, fn), REPO)
                assert rel in names, f"missing from --py-files zip: {rel}"


def test_zip_importable_standalone(tmp_path):
    """A python worker with ONLY the zip on sys.path can import the engine
    modules that ship vectorized UDFs (what executors actually do)."""
    path = build_zip(str(tmp_path / "pkg.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import uncharted_ta1_pipeline_spark.operators.outliers, "
        "uncharted_ta1_pipeline_spark.operators.dedup, "
        "uncharted_ta1_pipeline_spark.functions.geof; "
        "print('ok')" % path
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # not the repo: the zip must be self-sufficient
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
