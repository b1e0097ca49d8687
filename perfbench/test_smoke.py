"""End-to-end smoke tests of the benchmark, from the page generator to the
oracle check, on `--smoke` inputs (about a minute each):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=cwd,
    )


def smoke(trace: int) -> tuple[dict, dict]:
    p = run_bench("--workload", "minute_threshold", "--seed", "3", "--seconds", "2",
                  "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_timed_smoke_checks_outputs_and_prints_every_metric():
    detail, result = smoke(0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    # every window must match the oracles and both spans must alert
    assert result["correct"] and result["failed"] == 0, detail
    assert detail["spans_hit"] == [True, True]
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name
    assert detail["samples"]["window_latency"] >= 1


def test_traced_smoke_ledger_covers_the_catchup_wall():
    detail, result = smoke(1)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert abs(detail["coverage"] - 1.0) <= 0.10, detail["ledger_ms"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.rows"] > 0 and m["tail.windows"] > 0
    assert m["aggregate.late_dropped"] == 0
    # the in-process replay of the committed aggs/ files must find the
    # alerts the job itself wrote
    assert m["algorithms.alerts"] == detail["alerts"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = run_bench("--workload", "minute_threshold", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
