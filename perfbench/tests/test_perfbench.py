"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import host, metrics, run, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

TINY = ["--seed", "7", "--seconds", "0", "--scale", "0.02", "--cores", "2"]

# A tiny image_pipeline run whose timed passes report one tile's count
# one too high.
CORRUPT = """
import sys
from perfbench import run, workloads
real = workloads.ImagePipeline.run_pass
def corrupt(self, spark, tracer, df=None):
    out = real(self, spark, tracer, df)
    if df is None:  # a timed pass, not the warm-up
        tile = sorted(out)[0]
        n, sum_r, sum_d = out[tile][0]
        out[tile] = [(n + 1, sum_r, sum_d)]
    return out
workloads.ImagePipeline.run_pass = corrupt
run.main(sys.argv[1:])
"""


def _run(workload: str, trace: int, program: list[str] | None = None) -> tuple[dict, dict]:
    """(report, result) of one tiny run in its own process, as the
    benchmark is run: the last two lines of its stdout."""
    program = program or [os.path.join("perfbench", "run.py")]
    proc = subprocess.run(
        [sys.executable, *program, "--workload", workload, "--trace", str(trace), *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT})
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert sorted(metrics.WORKLOADS) == sorted(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    for _, _, _, on in metrics.PER_LAYER.values():
        assert set(on) <= set(metrics.WORKLOADS)


def test_host_guard_refuses_more_threads_than_cpus():
    n = host.cpu_count()
    assert host.local_master() == f"local[{n}]"
    assert host.local_master(1) == "local[1]"
    with pytest.raises(ValueError):
        host.local_master(n + 1)
    with pytest.raises(ValueError):
        run.main(["--workload", "point_joins", "--seed", "1", "--seconds", "1",
                  "--cores", str(n + 1)])


def test_spans_nest_and_share_a_run_id():
    tracer = Tracer(enabled=True)
    with tracer.span("pass"):
        with tracer.span("pip"):
            pass
        with tracer.span("knn"):
            pass
    spans = tracer.spans
    assert [s["name"] for s in spans] == ["pass", "pip", "knn"]
    assert {s["run_id"] for s in spans} == {tracer.run_id}
    assert [s["parent"] for s in spans] == [None, 0, 0]
    for s in spans:
        assert s["end"] >= s["start"]
    assert 0 <= tracer.self_time(0) <= tracer.duration(0)
    assert tracer.subtree(0) == {0, 1, 2}
    off = Tracer(enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_expected_survivors_link_prints_within_three_bits():
    import numpy as np

    ids = np.array(["a3", "a1", "b1", "c1", "c2"], dtype=object)
    prints = np.array([0b0, 0b0, 0b111, 0b1111_0000, 0b1111_0000], dtype=np.int64)
    # 0 and 0b111 are 3 bits apart: one component; 0b11110000 is 4 from 0
    assert workloads.expected_survivors(ids, prints) == ["a1", "c1"]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    report, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == {k: v[0] for k, v in metrics.END_TO_END.items()}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["metrics"]["error_rate"] == {"value": 0.0, "unit": "fraction"}
    assert report["host"]["nproc"] == host.cpu_count()
    assert report["host"]["seed"] == 7
    assert set(report["input"]) == {"rows", "bytes", "png_share", "hot_cell_share",
                                    "clique_share", "distinct_prints"}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_reports_every_layer_metric_and_writes_spans(workload):
    report, result = _run(workload, 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == {k: v[0] for k, v in metrics.PER_LAYER.items()}
    for name, (_, _, _, on) in metrics.PER_LAYER.items():
        if workload not in on:
            assert result["metrics"][name]["value"] == 0, name
    assert result["metrics"]["spark.tasks"]["value"] > 0
    with open(os.path.join(ROOT, report["spans_file"]), encoding="utf-8") as fh:
        dump = json.load(fh)
    spans = dump["spans"]
    assert {"pass", "scan", "arrow"} <= {s["name"] for s in spans}
    for s in spans:
        assert set(s) >= {"run_id", "span_id", "parent", "name", "start", "end"}
        assert s["run_id"] == dump["run_id"]
        assert s["parent"] is None or spans[s["parent"]]["start"] <= s["start"]


def test_corrupted_output_row_counts_as_failed():
    report, result = _run("image_pipeline", 0, ["-c", CORRUPT])
    assert not result["correct"]
    assert result["failed"] >= 1
    assert report["metrics"]["error_rate"]["value"] > 0
