"""Smoke test of the benchmark: every metric is printed with its unit, and
an injected defect shows up as a failed operation.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session through ``run.py``, so the file
takes a few minutes; it is not part of the package's test suite.
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

from run import REPORT_METRICS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def last_two(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(report: dict, result: dict, trace: int) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    for name, unit in REPORT_METRICS.items():
        assert report["metrics"][name]["unit"] == unit
    assert report["metrics"]["failed_ops_ratio"]["value"] == result["failed"] / result["attempted"]


@pytest.mark.parametrize(
    "workload,trace",
    [("ingest_bulk", 0), ("ingest_bulk", 1), ("analytics_suite", 0), ("analytics_suite", 1)],
)
def test_every_metric_printed_with_its_unit(workload: str, trace: int) -> None:
    report, result = last_two(
        bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    )
    check_metrics(report, result, trace)
    assert result["correct"] and result["failed"] == 0, report["failures"]


@pytest.mark.parametrize(
    "workload,defect",
    [("ingest_bulk", "drop-event"), ("analytics_suite", "tamper-digest")],
)
def test_injected_defect_fails_operations(workload: str, defect: str) -> None:
    report, result = last_two(
        bench("--workload", workload, "--seed", "4", "--seconds", "1", "--trace", "0",
              "--inject", defect)
    )
    check_metrics(report, result, 0)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert report["metrics"]["failed_ops_ratio"]["value"] > 0


def test_fails_without_the_program(tmp_path) -> None:
    """Beside only ``BENCHMARK.json`` and the benchmark's own files the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = bench("--workload", "ingest_bulk", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
