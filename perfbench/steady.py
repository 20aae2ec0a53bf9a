#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly, one seed per run, and
prints every end-to-end metric's median, quartiles and spread (quartile
distance over the median) against its bound from BENCHMARK.json.

  python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]

Results also go to .perfbench/steady-<workload>.json.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in a.workloads.split(","):
        values, verdicts = {m: [] for m in bounds}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed}: exit {res.returncode}")
            line = json.loads(res.stdout.strip().splitlines()[-1])
            verdicts.append((line["correct"], line["attempted"],
                             line["failed"]))
            for m in bounds:
                values[m].append(line["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        with open(os.path.join(ROOT, ".perfbench", f"steady-{w}.json"),
                  "w") as f:
            json.dump({"values": values, "verdicts": verdicts}, f)
        for m, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread <= bounds[m] / 3 else (
                "WIDE" if spread <= bounds[m] else "OVER")
            ok = ok and spread <= bounds[m]
            print(f"  {w:10s} {m:18s} median {med:10.4g}  q1 {q1:10.4g}  "
                  f"q3 {q3:10.4g}  spread {spread:6.3f}  bound "
                  f"{bounds[m]:.2f}  {flag}")
        print(f"  {w}: correct {sum(v[0] for v in verdicts)}/{len(verdicts)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
