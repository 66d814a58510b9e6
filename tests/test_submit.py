"""spark-submit --py-files deployment path (north-rule run mode)."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_runs_flagship(tmp_path):
    """Package the engine, run a query via spark-submit from a foreign
    cwd — only the zip provides the package; --master is respected."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package_pyfiles.py")],
        capture_output=True, text=True, timeout=60, check=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    assert os.path.exists(zip_path)
    res = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         os.path.join(ROOT, "tools", "submit_job.py"),
         "/root/testdata/sf0.001", "tile_assign_z15"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["query"] == "tile_assign_z15" and rec["rows"] > 0


def test_spark_submit_from_checkout_without_pyfiles(tmp_path):
    """Run from the checkout with neither --py-files nor PYTHONPATH:
    the script finds the checkout's own package (and, given no
    arguments, runs the flagship query on its default input)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         os.path.join(ROOT, "tools", "submit_job.py")],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["query"] == "tile_assign_z15" and rec["rows"] > 0
