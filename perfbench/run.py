#!/usr/bin/env python3
"""Product-path benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the benchmark package (this
directory's build.sbt, which compiles the checkout's program sources) when
its inputs changed, then runs one workload in a fresh JVM and prints the
run's record line followed by the result object as the last line.
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads: program sources and the benchmark's own."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark install found: set SPARK_HOME")
    return home


def build(env):
    """Compile when any build input changed; return the runtime classpath."""
    stamp = BENCH / "target" / "bench-stamp"
    cp_file = BENCH / "target" / "bench-classpath.txt"
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    print("perfbench: building", file=sys.stderr, flush=True)
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not cp_file.exists():
        fail(f"build failed (exit {r.returncode})")
    stamp.write_text(digest)
    return cp_file.read_text().strip()


def main():
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        workloads = [w["name"] for w in spec["workloads"]]
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json at {ROOT}: {e}")
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"program sources not found under {ROOT}; run from the root of a checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    cp = build(env)

    work = BENCH / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # a fixed, pre-touched heap: resident memory then moves with what the
    # program adds beyond the heap, not with when G1 chose to grow it
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work)]
    t0 = time.monotonic()
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    trace_file = work / "trace.json"
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stdout)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {r.returncode})")
    if trace_file.exists():
        runs = BENCH / "runs"
        runs.mkdir(exist_ok=True)
        shutil.copy(trace_file, runs / f"trace-{args.workload}-s{args.seed}.json")
    shutil.rmtree(work, ignore_errors=True)
    print(lines[-2])
    print(f"perfbench: {args.workload} seed={args.seed} took {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
