"""Smoke test of the benchmark: a tiny size class (20k pages, one pass per
workload) must print every metric BENCHMARK.json names, with its unit, and
fail no operation.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900,
    )
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, "stdout must hold only the result line"
    return json.loads(lines[0])


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_and_nothing_failed(trace):
    spec = _spec()
    res = _run("all", trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    names = [w["name"] for w in spec["workloads"]]
    for w in names:
        for m in spec["end_to_end" if trace == 0 else "per_layer"]:
            got = res["metrics"][f"{w}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert set(got) == {"value", "unit"} and isinstance(got["value"], float)
        assert res["metrics"][f"{w}.error_rate"]["value"] == 0.0
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0


def test_refuses_without_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "crawl_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
