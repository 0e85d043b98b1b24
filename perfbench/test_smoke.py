"""Smoke test of the benchmark: the shortest run (two timed passes) of every
workload at sf0.001, untraced and traced. Checks that every metric
BENCHMARK.json names is printed with its unit, that no step failed, and
that every layer metric is above 0 on the workload ``workloads.json``
measures it on, so a tracer that stopped wrapping a layer shows.

Run from the repository root (takes a few minutes):
    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layer metrics that are 0 on a correct run at sf0.001
MAY_BE_ZERO = {
    "spark.spill_bytes": "nothing spills at this size",
    "spark.gc_s": "the default 8g heap may not collect within one pass",
    "pipeline.jobs": "pipeline calls build plans and start no job",
    "agg.jobs": "group_by builds a plan and starts no job",
}


def _load(*path: str) -> dict:
    with open(os.path.join(ROOT, *path)) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_workload_prints_every_metric(trace):
    bench = _load("BENCHMARK.json")
    spec = _load("perfbench", "workloads.json")
    names = [k for k, v in spec.items() if "steps" in v]  # the gated ones and interactive
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "7",
         "--seconds", "0", "--sf", "0.001", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["failed"] == 0 and result["correct"], proc.stdout[-2000:]
    assert result["attempted"] >= 1
    metrics = bench["per_layer"] if trace else bench["end_to_end"]
    for wl in names:
        summary = next(line for line in lines if line.startswith(f"{wl}: "))
        assert "fail_ratio=0.0000" in summary
        for m in metrics:
            got = result["metrics"][f"{wl}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
            if not trace:
                assert f"{m['name']}=" in summary and got["value"] > 0
    if trace:
        for layer in spec["layers"]:
            for wl in names if layer["on"] == "all" else [layer["on"]]:
                for m in layer["metrics"]:
                    if m not in MAY_BE_ZERO:
                        assert result["metrics"][f"{wl}.{m}"]["value"] > 0, f"{wl}.{m}"


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark files the command exits
    non-zero without printing a result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (bench_dir / name).write_bytes(open(src, "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_load("BENCHMARK.json")))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
