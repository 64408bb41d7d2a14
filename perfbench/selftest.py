#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, so every phase, at the tiny
input size.

    python3 perfbench/selftest.py            # all workloads
    python3 -m pytest perfbench/selftest.py  # the same, under pytest

For each workload it makes two runs of perfbench/run.py:

- ``--trace 0 --corrupt``: every end-to-end metric is printed with its unit,
  and each phase's deliberately falsified output is counted as failed;
- ``--trace 1``: every per-layer metric is printed with its unit, the run
  is correct, and the layer spans cover at least 90% of the timed wall.

The file name keeps a bare ``pytest`` from collecting it: each workload
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

WORKLOADS = sorted(bench.WORKLOADS)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    result["printed"] = {ln.split()[1]: ln.split()[3] for ln in lines
                         if ln.startswith("metric ")}
    return result


def _has_all(result: dict, want: dict) -> None:
    got = result["metrics"]
    assert set(got) == set(want), set(got) ^ set(want)
    for name, unit in want.items():
        v = got[name]["value"]
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(v, (int, float)) and v == v, (name, v)
        assert result["printed"][name] == unit, name


def check_corrupt(workload: str) -> None:
    r = _run(workload, 0, "--corrupt")
    _has_all(r, bench.END_TO_END)
    for name in bench.END_TO_END:
        assert r["metrics"][name]["value"] > 0, name
    # one falsified output per phase
    assert r["failed"] >= len(bench.WORKLOADS[workload]) and r["correct"] is False, r
    assert 0 < r["failed"] <= r["attempted"], r


def check_traced(workload: str) -> None:
    r = _run(workload, 1)
    _has_all(r, bench.PER_LAYER)
    assert r["correct"] is True and r["failed"] == 0, r
    assert r["metrics"]["trace.coverage"]["value"] >= 0.9, r["metrics"]["trace.coverage"]


def test_corrupt_output_counts_as_failed():
    for w in WORKLOADS:
        check_corrupt(w)


def test_traced_run_emits_every_layer_metric():
    for w in WORKLOADS:
        check_traced(w)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)


if __name__ == "__main__":
    only = sys.argv[1:] or WORKLOADS
    test_benchmark_json_matches_the_runner()
    for w in only:
        check_corrupt(w)
        print(f"ok {w}: each falsified output was counted as failed", flush=True)
        check_traced(w)
        print(f"ok {w}: every per-layer metric, correct, coverage >= 0.9", flush=True)
