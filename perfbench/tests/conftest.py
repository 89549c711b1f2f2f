"""Shared fixtures: one traced benchmark run per workload, made once per
test session from the root of the checkout (about a minute each)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SEED = 7
sys.path.insert(0, BENCH)


def _run(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    work = os.path.join(ROOT, ".perfbench", workload)
    with open(os.path.join(work, "trace.json")) as fh:
        trace = json.load(fh)
    return {"result": result, "trace": trace, "work": work}


@pytest.fixture(scope="session")
def batch_run() -> dict:
    return _run("kpi_batch")


@pytest.fixture(scope="session")
def stream_run() -> dict:
    return _run("kpi_stream")
