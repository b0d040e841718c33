"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a real Spark session on tiny inputs; an ingest smoke
run still pays the pipeline's fixed per-batch cost (about a minute on four
cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_lists_what_the_benchmark_emits():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        list(workloads.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {"run_s", "setup_s"}


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "neardup_ops", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", ["neardup_ops", "ingest"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stdout[-4000:] + p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in spec[kind]}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["trace.spans"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
