#!/usr/bin/env python3
"""Smoke test of the benchmark at scale 0.001: every workload, untraced
and traced, must exit 0 and print every metric BENCHMARK.json declares,
by name and with its unit, both in the summary and in the JSON line.

Usage: python3 perfbench/smoke_test.py [workload ...]   (default: all)
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload, trace, declared):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--scale", "0.001"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    errors = []
    if r.returncode != 0:
        return [f"exit code {r.returncode}: {r.stderr[-2000:]}"]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"correct={result['correct']} attempted={result['attempted']} "
                      f"failed={result['failed']}")
    metrics = result["metrics"]
    if set(metrics) != set(declared):
        errors.append(f"metrics differ from BENCHMARK.json: extra "
                      f"{sorted(set(metrics) - set(declared))}, missing "
                      f"{sorted(set(declared) - set(metrics))}")
    for name, unit in declared.items():
        m = metrics.get(name)
        if m is not None and (m.get("unit") != unit or not isinstance(m.get("value"), (int, float))):
            errors.append(f"{name}: printed {m}, declared unit {unit}")
        if not any(re.fullmatch(rf"\s*{re.escape(name)}\s+-?[0-9.]+\s+{re.escape(unit)}", l)
                   for l in lines[:-1]):
            errors.append(f"{name}: no summary line with unit {unit}")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    modes = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failed = False
    for w in workloads:
        for trace, declared in modes.items():
            errors = check(w, trace, declared)
            print(f"{'FAIL' if errors else 'ok  '} {w} trace={trace}")
            for e in errors:
                print(f"     {e}")
            failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
