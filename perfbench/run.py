#!/usr/bin/env python3
"""Trace-pipeline benchmark: OTLP ingest, dashboard queries and curation
operators, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|query --seed N \
        --seconds S --trace 0|1

The first run builds the program from source together with the benchmark's
own code (perfbench/build.sbt, sbt offline) and caches the classpath under
perfbench/target. Each run then starts one JVM, checks the program's
outputs, prints every metric with its unit and sample count, and prints as
its last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics`. With --trace 1 the JVM measures twice, untraced then
traced, and reports the per-layer metrics and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
DATA = os.path.join(HERE, "data", "sf0.01")
# traced runs keep their span file here (one JSON object per span)
TRACES = os.path.join(HERE, "traces")
TIME_LIMIT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; return the
    runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and benchmark from source (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    cp = out.stdout.strip().splitlines()[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, args, run_dir, deadline):
    """One workload run in its own JVM; returns its raw result dict."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cpus = str(min(4, os.cpu_count() or 1))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", cpus, "--run-dir", run_dir, "--data-dir", DATA,
              "--out", out, "--trace-out", os.path.join(
                  TRACES, f"{args.workload}-seed{args.seed}.jsonl")])
    env = dict(os.environ)
    # artifact caches go to java.io.tmpdir (inside the run dir), not tmpfs
    env["SPARK_GRAFT_NO_TMPFS"] = "1"
    env["SPARK_GRAFT_CPUS"] = cpus
    proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("workload run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"workload JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        log(f"program sources not found at {PROGRAM_SRC}; run from a "
            "checkout of the repository")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    deadline = time.time() + TIME_LIMIT_S
    run_root = os.path.join(HERE, ".runs")
    run_dir = os.path.join(run_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = run_jvm(cp, args, run_dir, deadline)
        if args.workload == "query":
            checks.check_query(result, run_dir)
            if args.trace:
                checks.check_curation(result, run_dir, DATA, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass
    return report(args, spec, result)


def report(args, spec, result):
    """Every metric of the run with its unit and sample count, then the
    result line: end-to-end metrics (--trace 0) or per-layer ones."""
    attempted, failed = int(result["attempted"]), int(result["failed"])
    for e in result.get("errors", []):
        log(f"FAIL {e}")
    metrics = result["metrics"]
    for name, m in metrics.items():
        v = "nan" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{name} = {v} {m['unit']} (n={m.get('n', 1)})")
    print(f"failed_share = {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted} operations)")
    print("info " + json.dumps(result.get("info", {}), sort_keys=True))
    out = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        got = metrics.get(m["name"])
        # 0 stands for a layer this workload does not run
        value = got["value"] if got else 0.0
        out[m["name"]] = {"value": 0.0 if value is None else value,
                          "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
