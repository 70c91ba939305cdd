"""Tiny-size runs of every workload through the real engine, traced, and
the refusal to run outside a repository checkout."""

import os
import shutil
import subprocess
import sys

import pytest

import measure
import run

TINY = {
    "cdc_stream": {
        "preload": {"employee": 300, "department": 20, "project": 60},
        "rows_per_file": 40,
    },
    "query_suite": {
        "sf": 0.001,
        "roster": ("q06_forecast_revenue", "q_dedup_md5_documents", "q_hash_split"),
    },
}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_traced_run_is_correct_and_complete(tmp_path, workload):
    record = run.run_workload(
        workload, 3, 0.0, True, str(tmp_path / "work"), measure.Mark(), **TINY[workload]
    )
    assert record["problems"] == []
    assert record["failed"] == 0
    assert record["attempted"] >= 2
    assert all(v > 0 for v in record["metrics"].values())
    assert set(record["layers"]) == set(run.PER_LAYER)


def test_refuses_to_run_without_the_package(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
