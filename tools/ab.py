#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: a parent revision against this checkout.

  python3 tools/ab.py [--parent REV] [--pairs N] [--parent-dir DIR]

A is the parent revision (default HEAD), exported with `git archive` into
--parent-dir (default: a fresh temporary directory). B is this checkout as
it stands, uncommitted edits included. An exported tree, unlike a
`git worktree`, leaves the repository's git metadata untouched even when a
run is killed. Each side builds once from its own sources (perfbench/run.py
does that on first use).

For every workload of BENCHMARK.json, pair i runs `perfbench/run.py --seed i`
for the benchmark's `run_seconds` once on each side, parent first in even
pairs and change first in odd ones, so that drift of the machine's load
falls on both sides alike. Then, per end-to-end metric, it prints each
side's median and quartiles, the parent's own quartile spread relative to
its median, how many pairs the change won, and whether the change's median
is worse than the parent's by more than the metric's bound. One traced run
per side and workload (seed 0) follows, and the per-layer metrics that
differ are printed, `sources.snapshot.commit_jobs` always among them.
A JSON summary goes to ab.json under --parent-dir.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALWAYS_SHOWN = ("sources.snapshot.commit_jobs",)


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def export(rev, dest):
    """Writes the tree of `rev` into `dest`, reusing an export of the same
    commit. An export of another commit is removed first, so no file that
    `rev` lacks survives into the parent's build; any other non-empty
    directory is refused."""
    stamp = os.path.join(dest, ".ab-rev")
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    if os.path.exists(stamp):
        if open(stamp).read().strip() == sha:
            return sha
        shutil.rmtree(dest)
    elif os.path.isdir(dest) and os.listdir(dest):
        raise SystemExit(f"ab: {dest} is not empty and holds no export")
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


def run(side_dir, workload, seed, seconds, trace):
    """One perfbench run; returns its JSON line (the last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"ab: {workload} seed {seed} failed in {side_dir}")
    out = json.loads(lines[-1])
    out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric, parent, change):
    a = [r["metrics"][metric["name"]] for r in parent]
    b = [r["metrics"][metric["name"]] for r in change]
    higher = metric["better"] == "higher"
    wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
    qa, qb = quartiles(a), quartiles(b)
    # relative change of the median, signed so that positive is worse
    worse = (qa[1] - qb[1]) / qa[1] if higher else (qb[1] - qa[1]) / qa[1]
    return {"parent_q1_med_q3": qa, "change_q1_med_q3": qb,
            "parent_spread": (qa[2] - qa[0]) / qa[1],
            "change_worse_by": worse, "bound": metric["bound"],
            "within_bound": worse <= metric["bound"],
            "wins": wins, "pairs": len(a)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent-dir")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    parent_dir = a.parent_dir or tempfile.mkdtemp(prefix="graft-ab-parent-")
    sha = export(a.parent, parent_dir)
    log(f"parent {a.parent} = {sha[:12]} in {parent_dir}; change = {ROOT}")
    sides = {"parent": parent_dir, "change": ROOT}

    report = {"parent": sha, "pairs": a.pairs, "workloads": {}}
    for wl in (w["name"] for w in spec["workloads"]):
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change",
                                                             "parent")
            for side in order:
                r = run(sides[side], wl, i, seconds, 0)
                log(f"{wl} pair {i} {side}: {r['metrics']} "
                    f"correct={r['correct']} failed={r['failed']}")
                runs[side].append(r)
        traced = {s: run(sides[s], wl, 0, seconds, 1)["metrics"]
                  for s in ("parent", "change")}
        report["workloads"][wl] = {
            "runs": runs,
            "metrics": {m["name"]: summarize(m, runs["parent"],
                                             runs["change"])
                        for m in spec["end_to_end"]},
            "traced": {k: (traced["parent"].get(k), traced["change"][k])
                       for k in traced["change"]
                       if k in ALWAYS_SHOWN or
                       traced["parent"].get(k) != traced["change"][k]}}

    for wl, rep in report["workloads"].items():
        print(f"== {wl}: {a.pairs} interleaved pairs, parent {sha[:12]}")
        for name, s in rep["metrics"].items():
            pa, ch = s["parent_q1_med_q3"], s["change_q1_med_q3"]
            print(f"  {name}: parent {pa[1]:.4g} [{pa[0]:.4g}-{pa[2]:.4g}] "
                  f"spread {s['parent_spread']:.3f} | change {ch[1]:.4g} "
                  f"[{ch[0]:.4g}-{ch[2]:.4g}] | change won {s['wins']}/"
                  f"{s['pairs']} | worse by {s['change_worse_by']:+.3f} "
                  f"(bound {s['bound']}) "
                  f"{'ok' if s['within_bound'] else 'OVER BOUND'}")
        for side in ("parent", "change"):
            print(f"  {side}: correct "
                  f"{all(r['correct'] for r in rep['runs'][side])}, failed "
                  f"{[r['failed'] for r in rep['runs'][side]]}")
        for k, (p, c) in sorted(rep["traced"].items()):
            print(f"  traced {k}: parent {p} change {c}")
    out = os.path.join(parent_dir, "ab.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    log(f"summary written to {out}")


if __name__ == "__main__":
    main()
