"""--py-files deployability: the package must be importable through
zipimport in an interpreter that does NOT have the repo on sys.path —
which is exactly how spark-submit --py-files delivers code to
executors. A zip-unsafe package (import-time file reads, __file__
data loading) fails here before it fails on a real cluster."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from build_pyfiles import build_zip, sha256_file  # noqa: E402


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    out = tmp_path_factory.mktemp("dist") / "pfutil_spark.zip"
    return build_zip(str(out))


def test_zip_contains_package(pyfiles_zip):
    import zipfile

    with zipfile.ZipFile(pyfiles_zip) as zf:
        names = set(zf.namelist())
    assert "pfutil_spark/__init__.py" in names
    assert "pfutil_spark/kernel/hll.py" in names
    assert "pfutil_spark/operators/sketch_agg.py" in names
    assert not any(n.endswith(".pyc") or "__pycache__" in n for n in names)


def test_zip_reproducible(pyfiles_zip, tmp_path):
    again = build_zip(str(tmp_path / "again.zip"))
    assert sha256_file(pyfiles_zip) == sha256_file(again)


def test_executor_style_zipimport(pyfiles_zip, tmp_path):
    """Fresh interpreter, cwd outside the repo, zip prepended to
    sys.path (the executor situation). Imports EVERY module in the zip,
    so a module that imports a missing one fails here under the same
    zipimport executors use, then runs a real kernel round-trip."""
    script = (
        "import importlib, pkgutil, sys\n"
        f"sys.path = [p for p in sys.path if not p.startswith({REPO!r})]\n"
        f"sys.path.insert(0, {pyfiles_zip!r})\n"
        "import pfutil_spark\n"
        f"assert pfutil_spark.__file__.startswith({pyfiles_zip!r}), pfutil_spark.__file__\n"
        "names = [m.name for m in pkgutil.walk_packages(pfutil_spark.__path__, 'pfutil_spark.')]\n"
        "for name in names:\n"
        "    mod = importlib.import_module(name)\n"
        f"    assert mod.__file__.startswith({pyfiles_zip!r}), mod.__file__\n"
        "assert 'pfutil_spark.operators.sketch_agg' in names, names\n"
        "assert 'pfutil_spark.streaming.hll_stream' in names, names\n"
        "from pfutil_spark.kernel import hll\n"
        "regs = hll.decode(hll.encode_empty()).copy()\n"
        "idx, pat = hll.hash_and_patlen([str(i).encode() for i in range(1000)])\n"
        "hll.update_registers(regs, idx, pat)\n"
        "est = hll.estimate(regs, 4)\n"
        "assert abs(est - 1000) <= 3 * 0.0081 * 1000, est\n"
        "print('ZIPIMPORT_OK', est)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "ZIPIMPORT_OK" in proc.stdout


def test_spark_submit_pyfiles_end_to_end(pyfiles_zip, tmp_path):
    """The literal north_rule deployment path: spark-submit --py-files
    <zip> with a job that refuses to run unless pfutil_spark resolves
    FROM THE ZIP, then builds a Redis-wire HLL and checks the estimate
    bound. Runs from a neutral cwd with PYTHONPATH scrubbed so the repo
    checkout cannot leak in."""
    import json
    import shutil

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=2",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "tools", "submit_example.py"),
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["pyfiles_ok"], out
    assert out["within_bound"], out
    assert set(out["estimates"]) == {"0", "1", "2"}
