#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at scale factor 0.001.

    python3 perfbench/smoke.py

Runs every workload once (one pass) and checks that the last line is
the result object, that every end-to-end metric named in
BENCHMARK.json is printed with its unit, and that the run is correct.
Then runs every workload traced and checks that every per-layer metric
is printed and that each layer the workload exercises reads non-zero.
The traced ``tablite`` run has a deliberately corrupted result, and the
corrupted op must be counted as failed, which proves the oracle check
can fail. Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "0.001"
# per-layer metrics that must read non-zero on a traced run: the layers
# each workload exercises (perfbench/README.md has the map)
_EVERY = ["session.start_s", "session.warmup_s", "session.jvm_peak_rss_mb",
          "op.build_s", "op.execute_s", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
          "spark.input_bytes", "spark.shuffle_write_bytes"]
EXERCISED = {
    "tablite": _EVERY + ["operators.call_s", "functions.guess_types_s",
                         "functions.guess_rows_per_s", "sources.read_s", "sources.write_s",
                         "sources.bytes_written", "sources.files_written"],
    "pipeline": _EVERY + ["pipeline.call_s", "pipeline.python_eval_s", "streaming.call_s",
                          "streaming.batches", "streaming.batch_s"],
}
# the op whose result the traced run corrupts, per workload
CORRUPT = {"tablite": "q1_pricing_summary"}


def run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", SF, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def check_metrics(result: dict, text: str, wanted: list[dict]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if set(result["metrics"]) != {m["name"] for m in wanted}:
        problems.append(f"metric names {sorted(result['metrics'])}")
    for m in wanted:
        got = result["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, want {m['unit']!r}")
        if not any(line.split()[:1] == [m["name"]] and line.split()[2:3] == [m["unit"]]
                   for line in text.splitlines() if line.strip()):
            problems.append(f"{m['name']} not printed with its unit")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        result, text = run(w["name"], 0)
        print(text)
        problems += [f"{w['name']}: {p}" for p in check_metrics(result, text, bench["end_to_end"])]
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            problems.append(f"{w['name']}: not correct: {result}")
    for w in bench["workloads"]:
        name = w["name"]
        corrupt = CORRUPT.get(name)
        result, text = run(name, 1, *(["--corrupt", corrupt] if corrupt else []))
        print(text)
        problems += [f"{name} traced: {p}"
                     for p in check_metrics(result, text, bench["per_layer"])]
        problems += [f"{name} traced: {m} reads 0" for m in EXERCISED[name]
                     if not result["metrics"].get(m, {}).get("value")]
        if corrupt and (result["correct"] or result["failed"] != 1):
            problems.append(f"corrupted result was not counted as failed: {result}")
        if not corrupt and not result["correct"]:
            problems.append(f"{name} traced: not correct: {result}")
    for p in problems:
        print("SMOKE FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
