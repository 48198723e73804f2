#!/usr/bin/env python3
"""Smoke run of the benchmark on the small sf0.001 tables.

    python3 perfbench/smoke.py            (from the root of a checkout)

Runs etl, dedup and ingest for one second of steady state, untraced and
traced, and asserts that each run passes its output checks, ends with a
well-formed result line and prints every metric of BENCHMARK.json (plus
fail_rate) by name with its unit. Exits 1 on the first problem.
"""
import json
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
DATA = os.path.join(BENCH, "data", "sf0.001")
WORKLOADS = ["etl", "dedup", "ingest"]


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--data", DATA],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


def main():
    for workload in WORKLOADS:
        for trace in (0, 1):
            lines = run(workload, trace)
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            expected = SPEC["per_layer" if trace else "end_to_end"] + [
                {"name": "fail_rate", "unit": "fraction"}]
            printed = {m.group(1): m.group(3) for m in (
                re.fullmatch(r"(\S+) (\S+) (\S+)", line) for line in lines[:-1]) if m}
            for m in expected:
                assert printed.get(m["name"]) == m["unit"], \
                    f"{workload} trace={trace}: {m['name']} not printed with unit {m['unit']}"
                if m["name"] != "fail_rate":
                    assert result["metrics"][m["name"]]["unit"] == m["unit"], m
            print(f"ok {workload} trace={trace}: {len(expected)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
