"""tools/ab.py end to end at sf0.001: content equality gates the timing."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(REPO, "tools", "ab.py")
SF_SMOKE = "/root/testdata/sf0.001"


def run_ab(tmp_path, *arms: list[str]) -> subprocess.CompletedProcess:
    cmd = [sys.executable, AB, "--sf", SF_SMOKE, "--passes", "1"]
    for arm in arms:
        cmd += ["--arm", *arm]
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True, text=True,
                          timeout=600)


def test_different_content_exits_nonzero_without_timing(tmp_path):
    out = run_ab(tmp_path, ["q1_pricing_summary"], ["q3_shipping_priority"])
    assert out.returncode == 1, out.stderr[-2000:]
    assert out.stdout == ""
    assert "content differs" in out.stderr


def test_equal_arms_print_one_record(tmp_path):
    out = run_ab(
        tmp_path,
        ["q1_pricing_summary"],
        ["q1_pricing_summary", "spark.sql.shuffle.partitions=3"],
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1
    record = json.loads(lines[0])
    assert [a["arm"] for a in record["arms"]] == [
        "q1_pricing_summary",
        "q1_pricing_summary spark.sql.shuffle.partitions=3",
    ]
    for arm in record["arms"]:
        assert len(arm["samples"]) == 1
        assert arm["median"] == arm["samples"][0] > 0
    assert record["arms"][0]["ratio"] == 1.0
    assert record["box"]["cores_usable"] >= 1
