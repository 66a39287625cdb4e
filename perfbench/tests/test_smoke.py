"""Harness smoke test at tiny sizes.

Runs the command BENCHMARK.json names, on shrunken inputs, and
checks the output contract: every metric named in BENCHMARK.json prints
with its unit, correct runs report zero failed operations, a record
dropped on purpose shows up as a failed operation, and outside a full
checkout the command fails without printing a result.

    python3 -m pytest perfbench/tests -q

Each Spark run takes under a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY_SCALE = {"ingest": 0.25, "query_mix": 0.001}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace),
           "--scale", str(TINY_SCALE[workload]), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=400)


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], float), name


LISTED = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", LISTED)
def test_end_to_end_metrics_print_with_units(workload):
    proc = bench(workload, 0)
    result = last_json(proc)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    speed = json.loads(proc.stdout.strip().splitlines()[-2])["perfbench"]["speed"]
    assert speed["probes"] >= 10 and speed["scale"] > 0
    assert set(speed["unscaled"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert (result["metrics"]["latency_p50_ms"]["value"]
            == pytest.approx(speed["unscaled"]["latency_p50_ms"] * speed["scale"],
                             rel=1e-3))


def test_speed_probe_child_reports_and_exits():
    sys.path.insert(0, ROOT)
    from perfbench.common import ProbeProcess

    probe = ProbeProcess(every=0.05)
    time.sleep(1.0)
    samples = probe.stop()
    assert probe.proc.returncode == 0
    assert len(samples.ms) >= 3 and all(ms > 0 for ms in samples.ms)
    assert probe.stop() is samples


@pytest.mark.parametrize("workload", LISTED)
def test_traced_run_prints_every_layer_metric_and_spans(workload):
    proc = bench(workload, 1)
    result = last_json(proc)
    assert result["correct"]
    assert_metrics(result, SPEC["per_layer"])
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["perfbench"]
    assert "session" in detail["self_time_ms"]
    assert os.path.isfile(os.path.join(ROOT, detail["spans_file"]))


def test_dropped_record_counts_as_failed():
    result = last_json(bench("ingest", 0, "--drop-record"))
    assert result["failed"] >= 1
    assert result["correct"] is False


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("ingest", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
