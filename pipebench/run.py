#!/usr/bin/env python3
"""Pipeline benchmark: one run of one workload.

    python3 pipebench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the benchmark with sbt when its sources
or the program's sources changed, runs one benchmark JVM, and prints a JSON
line with every figure the run took, then the result line (last line of
stdout). With --trace 1 the result carries the per-layer metrics: the traced
run's own figures, the tracing overhead against the median of the untraced
runs of the same workload, build and --seconds made in this checkout (one
untraced run is made first when there is none), and, for `ingest`, the
overload phase rerun on one core; the run's spans are kept in
pipebench/work/traces/. A per-layer metric the workload does not drive reads
0; any other absent one counts as a failed operation.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything a run's figures depend on: the program, the
    benchmark's sources and build, and this script."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"), os.path.abspath(__file__),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("SPARK_HOME", spark_home())
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.forcestart=false", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark distribution: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def run_jvm(workload, seed, seconds, trace, cpus, overload_only=False):
    """Runs one benchmark JVM in a fresh work directory; returns its report."""
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}-{cpus}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xss32m", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "pipebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", os.path.join(work, "run")]
    if overload_only:
        cmd.append("--overload-only")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(WORK, f"last-{workload}.log")
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM ran past {JVM_TIMEOUT_S} s and was stopped; see {log_path}")
    finally:
        # keep the traced run's spans; the rest of the work directory goes
        spans = os.path.join(work, "run", "trace.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(WORK, "traces", f"{workload}-{seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in r.stdout.splitlines() if line.startswith("{")]
    if r.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {r.returncode}; see {log_path}")
    return json.loads(lines[-1])


def results_file(workload, digest, seconds):
    """Untraced end-to-end figures of one workload, build and run length.
    Seeds are pooled: the benchmark's figure is the median over seeds."""
    return os.path.join(WORK, "results", f"{workload}-{digest[:16]}-{seconds}s.jsonl")


def untraced_runs(path):
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []


def record_untraced(path, report):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(report["end_to_end"]) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")) or not os.path.exists(bench_path):
        fail("run from a checkout of the repository: the program's sources are missing")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    build(digest)
    cpus = os.cpu_count() or 1
    results = results_file(a.workload, digest, a.seconds)

    if a.trace:
        base = untraced_runs(results)
        if not base:
            first = run_jvm(a.workload, a.seed, a.seconds, False, cpus)
            record_untraced(results, first)
            base = [first["end_to_end"]]
    report = run_jvm(a.workload, a.seed, a.seconds, bool(a.trace), cpus)
    if a.trace:
        layers = dict(report["per_layer"])
        for name, value in report["end_to_end"].items():
            past = [r[name] for r in base if isinstance(r.get(name), (int, float))]
            layers[f"overhead.{name}"] = value - statistics.median(past) if past else float("nan")
        layers["overhead.base_runs"] = len(base)
        if a.workload == "ingest":
            one = run_jvm(a.workload, a.seed, a.seconds, False, 1, overload_only=True)
            layers["ingest.rows_per_s_1core"] = one["end_to_end"]["throughput_per_s"]
            report["errors"] += one["errors"]
            report["attempted"] += one["attempted"]
            report["failed"] += one["failed"]
        wanted = bench["per_layer"]
    else:
        record_untraced(results, report)
        layers = report["end_to_end"]
        wanted = bench["end_to_end"]

    idle = tuple(report["idle_layers"]) if a.trace else ()
    metrics, missing = {}, []
    for m in wanted:
        v = layers.get(m["name"], 0.0 if m["name"].startswith(idle) else None)
        if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = report["failed"] + len(missing)
    print(json.dumps(dict(report, missing=missing)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["attempted"] + len(missing),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
