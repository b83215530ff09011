"""Smoke test of the benchmark itself: every workload on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q -m "slow or not slow"

Runs ``run.py --smoke`` (one untraced and one traced iteration per
workload), which goes through every oracle and fails when any
end-to-end or per-layer metric name is missing from the output.
"""

import json
import math
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.slow  # about two minutes: each workload pays its cold start
def test_smoke_all_workloads():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--seed", "7"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    assert [x["workload"] for x in lines[:-1]] == [
        "batch_etl", "lakehouse_dml", "stream_panes", "text_curation"]
    assert all(not x["missing"] for x in lines[:-1])
    assert lines[-1]["correct"] and lines[-1]["failed"] == 0


def test_refuses_checkout_without_program(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


class _FailingOracle:
    """A workload whose oracle rejects every iteration from ``first_bad`` on."""

    inputs = SimpleNamespace(rows=10)
    runs_per_iteration = 1
    warm_up_iterations = 1

    def __init__(self, first_bad: int) -> None:
        self.first_bad = first_bad
        self.iterations = 0

    def iteration(self, k, run):
        run()
        self.iterations += 1
        if self.iterations >= self.first_bad:
            raise AssertionError("output differs from the oracle")

    def cleanup(self, k):
        pass


class _FakeRunner:
    def __init__(self) -> None:
        self.records = []

    def run(self):
        self.records.append({"wall_s": 0.01, "progress": []})


@pytest.mark.parametrize("first_bad, warm_up, walls", [
    (1, True, 0),    # the warm-up fails: no timed iteration runs
    (1, False, 0),   # smoke mode: the only timed iteration fails
    (3, True, 1),    # the second timed iteration fails
])
def test_failing_oracle_ends_the_loop(first_bad, warm_up, walls):
    """A failed iteration ends measure() at once, with the failure counted,
    instead of looping until enough iterations succeed."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    import run

    wl = _FailingOracle(first_bad)
    stats = {"attempted": 0, "failed": 0}
    t = time.monotonic()
    e2e = run.measure(wl, _FakeRunner(), 3600.0, stats, warm_up=warm_up,
                      min_iterations=2 if warm_up else 1)
    assert time.monotonic() - t < 10
    assert wl.iterations == first_bad
    assert stats == {"attempted": first_bad, "failed": 1}
    assert e2e["samples"]["iterations"] == walls
    assert math.isnan(e2e["wall_s"]) == (walls == 0)
