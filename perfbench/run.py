#!/usr/bin/env python3
"""Repo benchmark: one workload per run, from the root of a checkout.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark driver from source on first use
(sbt, in perfbench/), generates the workload's inputs from the seed,
runs one benchmark JVM (Graft.localSession(4), closed loop), checks every
output, and prints one JSON line last: correctness, attempted and failed
operations, and the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). BENCHMARK.json names the workloads and metrics;
METRICS.md says what each one measures and what should move it.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import corpus  # noqa: E402

# Closed-loop sizes per workload; METRICS.md explains each choice.
WORKLOADS = {
    "ingest": {"days": 3, "per_day": 500, "max_per_trigger": 250},
    "query_mix": {},
}
# The warm-up corpus is the same in every run, so that what the JIT has
# compiled before the timed round does not depend on --seed.
WARMUP_SEED = 0
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                   "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                       recursive=True)
    files.append(os.path.join(HERE, "build.sbt"))
    return max(os.path.getmtime(f) for f in files)


def build():
    """Compiles library + driver with sbt when a source is newer than the
    last build; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_mtime():
        with open(stamp) as f:
            return f.read().strip()
    log("building (sbt compile)")
    # the same offline defaults the repo's tier-1 test command sets
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    if "SPARK_HOME" not in env:  # the Spark installation on PATH
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.abspath(d))
            if (os.path.exists(os.path.join(d, "spark-submit"))
                    and os.path.isdir(os.path.join(home, "jars"))):
                env["SPARK_HOME"] = home
                break
    res = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in res.stdout.splitlines()
          if "perfbench" in ln and "target" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("perfbench: no classpath in sbt output")
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(classpath, jvm_args, run_dir, deadline):
    # Spark's block manager and the JVM's temporary files stay in the run
    # directory, inside the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + jvm_args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: benchmark JVM timed out")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources next to perfbench/")
    cfg = WORKLOADS[a.workload]
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(ROOT, ".perfbench",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    jvm_args = ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--seed", str(a.seed),
                "--work", work, "--out", os.path.join(run_dir, "result.json")]
    gen_s = 0.0
    if "days" in cfg:
        data, warm = os.path.join(run_dir, "corpus"), os.path.join(run_dir,
                                                                   "warmup")
        t0 = time.perf_counter()
        corpus.generate(a.seed, cfg["days"], cfg["per_day"], data)
        corpus.generate(WARMUP_SEED, cfg["days"], cfg["per_day"], warm)
        gen_s = time.perf_counter() - t0
        jvm_args += ["--corpus", data, "--warmup", warm]
        jvm_args += ["--days", str(cfg["days"]),
                     "--max_per_trigger", str(cfg["max_per_trigger"])]

    run_jvm(classpath, jvm_args, run_dir, deadline)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    if a.workload == "query_mix":
        verdict = checks.check_queries(res)
    else:
        verdict = checks.check_ingest(res, os.path.join(run_dir, "corpus"))
    with open(os.path.join(run_dir, "verdict.json"), "w") as f:
        json.dump(verdict, f, indent=1)

    if a.trace:
        # overhead: traced rounds against the untraced rounds around them,
        # leaving out a cold first round
        walls = [(r["traced"], r["wall_s"])
                 for r in res["rounds"][1 if res["cold_first_round"] else 0:]]
        metrics = dict(res.get("layers", {}))
        metrics["trace.overhead_s"] = (
            median([w for t, w in walls if t]) -
            median([w for t, w in walls if not t]))
        metrics.update(checks.layer_counts(verdict))
    else:
        metrics = {
            "setup_s": gen_s + res["session_s"] + sum(res["warmup_s"]),
            "throughput_per_s": median([r["units"] / r["wall_s"]
                                        for r in res["rounds"]]),
        }
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    out = {name: {"value": metrics.get(name, 0.0), "unit": unit}
           for name, unit in declared}
    # Inputs and intermediate tables are large: keep only the verdict, the
    # JVM log, the raw result and (traced runs) the span file.
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, run_dir)
    for sub in ("corpus", "warmup", "work", "tmp"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({"correct": verdict["unexpected"] == 0,
                      "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": out}))


def declared_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[kind]]


if __name__ == "__main__":
    main()
