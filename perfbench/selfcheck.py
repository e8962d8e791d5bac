#!/usr/bin/env python3
"""Fast self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

Runs every workload once at a tiny size (sf0.001 fixtures, a 3 000-vector
corpus), untraced and traced, and asserts that the result line has exactly
the contract's keys, that every declared metric prints with its declared unit
as a number, and that no operation failed. A broken harness fails here in
minutes instead of after a full benchmark session.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            name = f"{w['name']} --trace {trace}"
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"], "--seed", "1",
                 "--seconds", "1", "--trace", str(trace), "--tiny"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{name}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            r = json.loads(lines[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{name}: result keys {sorted(r)}")
                continue
            if not (r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1):
                problems.append(f"{name}: correct={r['correct']} failed={r['failed']} "
                                f"attempted={r['attempted']}")
            declared = {m["name"]: m["unit"] for m in bench[kind]}
            if set(r["metrics"]) != set(declared):
                problems.append(f"{name}: metrics differ: {sorted(set(r['metrics']) ^ set(declared))}")
            for m, unit in declared.items():
                got = r["metrics"].get(m, {})
                if got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{name}: {m} printed as {got}, declared unit {unit}")
            print(f"ok  {name}: attempted {r['attempted']}, failed {r['failed']}")
    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
