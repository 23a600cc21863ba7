"""Smoke test of the benchmark itself: both workloads at a tiny size,
untraced and traced, with their oracles; the input fingerprint and canary
guards; and the refusal to run without the engine.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import inputs  # noqa: E402


def _declared(kind: str) -> set[str]:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "5", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("workload", ["crawl_to_rank", "incremental_crawl"])
def test_tiny_workload_untraced_then_traced(workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(REPO, workload, trace, "--size", "tiny")
        assert proc.returncode == 0, proc.stderr[-3000:]
        report = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(report) == {"correct", "attempted", "failed", "metrics"}
        assert report["correct"] is True and report["failed"] == 0, proc.stderr[-3000:]
        assert report["attempted"] >= 1
        assert set(report["metrics"]) == _declared(kind)
        for name, metric in report["metrics"].items():
            assert isinstance(metric["value"], (int, float)), name
            if kind == "end_to_end":
                assert metric["value"] > 0, name
    assert "trace.overhead_s" in report["metrics"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".runs", "__pycache__"))
    proc = _run(str(tmp_path), "crawl_to_rank", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_changed_input_fails_its_fingerprint(tmp_path):
    record = inputs.prepare("crawl_to_rank", "tiny", 5, str(tmp_path))
    path = os.path.join(record["dir"], "pages.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    with pytest.raises(inputs.InputError):
        inputs.prepare("crawl_to_rank", "tiny", 5, str(tmp_path))


def test_canary_matches_the_page_generator():
    inputs.check_canary()
