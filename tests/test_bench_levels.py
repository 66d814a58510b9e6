"""bench.py refuses parallelism levels wider than the host (no Spark)."""

import importlib

import pytest

import bench


def test_levels_default_to_nproc_and_wider_ones_are_refused(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert importlib.reload(bench).CPUS == str(bench.NPROC)

    monkeypatch.setattr(bench, "NPROC", 4)
    for ok in ("local[1]", "local[4]", "local[*]", "yarn"):
        bench.check_level(ok)
    with pytest.raises(SystemExit, match=r"local\[8\] exceeds nproc=4"):
        bench.check_level("local[8]")
    with pytest.raises(SystemExit, match=r"local\[32\]"):
        bench.check_level("local[32]")
