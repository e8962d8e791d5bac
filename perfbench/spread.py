#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--workloads knn-serve surface]

Runs each workload once per seed (untraced, BENCHMARK.json's run_seconds) and
prints, per metric, the median and the distance between the first and third
quartile as a share of the median, next to a third of the metric's bound.
Every result line is appended to perfbench/out/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", "spread.jsonl")
    ok = True
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed ({out.returncode})")
                ok = False
                continue
            result = json.loads(lines[-1])
            detail = next((json.loads(l)["detail"] for l in lines if l.startswith('{"detail"')), None)
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "result": result,
                                     "detail": detail}) + "\n")
            ok &= result["correct"] and result["failed"] == 0
            runs.append(result)
        for m in bench["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            if len(values) < 2:
                continue
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med
            print(f"{w:12s} {m['name']:16s} median {med:10.4f} {m['unit']:5s} "
                  f"spread {spread:.4f} (a third of the bound: {m['bound'] / 3:.4f})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
