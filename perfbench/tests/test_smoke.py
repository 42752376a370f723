"""Smoke test of the benchmark itself, on tiny generated inputs.

    python3 -m pytest perfbench/tests -q

Checks that every workload runs end to end and prints every metric named
in BENCHMARK.json with its unit, that a deliberately wrong result is
counted as a failed op, and that the benchmark refuses to report a result
when the program is missing.
Takes a few minutes: each run starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys


BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SCALE = {"domain_io": "0.0002", "ingest_refresh": "0.001"}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE[workload], *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc


def parse(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


def assert_metrics(result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_workload_prints_every_end_to_end_metric():
    record, result = parse(run("domain_io", 0))
    assert_metrics(result, spec()["end_to_end"])
    assert result["correct"] and result["failed"] == 0, record
    for m in spec()["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_wrong_result_counts_as_failed_op():
    record, result = parse(run("ingest_refresh", 0, "--corrupt-op", "events_hourly"))
    assert_metrics(result, spec()["end_to_end"])
    assert not result["correct"]
    assert result["failed"] >= 1
    assert record["failed_op_share"] == result["failed"] / result["attempted"]
    assert record["failed_ops"] == ["events_hourly"]


def test_traced_run_prints_every_per_layer_metric():
    record, result = parse(run("ingest_refresh", 1))
    assert_metrics(result, spec()["per_layer"])
    assert result["correct"], record
    assert result["metrics"]["storage.served_share"]["value"] == 1.0
    assert result["metrics"]["storage.refresh_actions.appended"]["value"] >= 5
    assert record["read_rounds"] == 1
    assert record["self_time_s"]


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = run("domain_io", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
