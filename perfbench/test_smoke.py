"""Tiny-scale smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs ``perfbench/run.py`` at ``--scale tiny`` (2k pages, refresh
batches of 200 pages, a few thousand triples) from the checkout root
and asserts that every metric named in ``BENCHMARK.json`` is emitted
with its unit and that every output check passes.  Each case starts
its own Spark JVM, so the cases run one after another; never run this
next to a measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)

CASES = [(w["name"], t) for w in SPEC["workloads"] for t in (0, 1)]
# runnable by name but left out of BENCHMARK.json (see README)
CASES.append(("ontology_ops", 0))


def run_bench(workload: str, trace: int) -> tuple[int, dict, str]:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else {}, proc.stderr


@pytest.mark.parametrize("workload,trace", CASES)
def test_metrics_and_checks(workload, trace):
    rc, result, err = run_bench(workload, trace)
    assert rc == 0, err[-4000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        assert any(f.startswith(f"{workload}-s1-t1-") for f in os.listdir(traces))


def test_refuses_without_package():
    """A directory holding only the benchmark must fail without a result."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), os.path.join(bare, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
