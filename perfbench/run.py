#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload in its own JVM, print the result.

    python3 perfbench/run.py --workload knn-serve --seed 1 --trace 0

--seconds defaults to BENCHMARK.json's run_seconds, the run length the
benchmark is specified with.

Runs from the root of a source checkout. The first run builds the engine and
the harness with sbt (the classpath is cached under perfbench/target, keyed by
a hash of every source and build file). Each run gets a fresh work
directory, used as the JVM's java.io.tmpdir and Spark's local dir, so no
engine cache survives from one run to the next; it is deleted afterwards.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones, and the spans go to perfbench/out/.

--tiny runs the workload at a small size (sf0.001, a few thousand vectors);
selfcheck.py uses it. --record rewrites the expected surface outputs from the
current engine.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("knn-serve", "surface")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# The JVM flags the repository's build.sbt forks its mains with: the module
# opens Spark needs on JDK 17 outside spark-submit, and the session timezone
# the recorded outputs assume.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
    # no hsperfdata file outside the run's own directory
    "-XX:-UsePerfData",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fixtures(tiny):
    """The fixture tables, found beside the sf0.1 set the repository's Bench reads."""
    bench = os.environ.get("SPARK_GRAFT_SF_DIR",
                           os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    return os.path.join(os.path.dirname(bench), "sf0.001" if tiny else "sf0.01")


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def classpath():
    """Build if any source changed since the cached build; return the classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-classpath")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached_key, cp = fh.read().split("\n")[:2]
        if cached_key == key:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if "classes" in l and os.pathsep in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(f"{key}\n{lines[-1].strip()}\n")
    return lines[-1].strip()


def run_jvm(main, args, work):
    """Run one JVM in its own work dir; kill its whole group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath(), main, *args]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} timed out after {RUN_TIMEOUT_S} s")
    if code != 0:
        fail(f"{main} exited with {code}")


def expected_file(tiny):
    return os.path.join(HERE, "expected", "surface_sf0.001.txt" if tiny else "surface_sf0.01.txt")


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    return {m["name"]: m["unit"] for m in benchmark()[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=benchmark()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to the benchmark; run from a full checkout", 2)
    if not a.record and not a.workload:
        fail("--workload is required", 2)
    sf = fixtures(a.tiny)
    if not os.path.isdir(sf):
        fail(f"fixture directory {sf} not found", 2)

    work = os.path.join(HERE, "run", f"{a.workload or 'record'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.record:
            for tiny in (False, True):
                run_jvm("graft.perfbench.Record", ["--fixtures", fixtures(tiny), "--work", work,
                                                   "--out", expected_file(tiny)], work)
            return
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out,
                "--fixtures", sf, "--expected", expected_file(a.tiny)]
        run_jvm("graft.perfbench.Main", args + (["--tiny"] if a.tiny else []), work)
        with open(out) as fh:
            result = json.load(fh)
        units = declared("per_layer" if a.trace else "end_to_end")
        if set(result["metrics"]) != set(units):
            fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(units)}")
        result = {"correct": result["correct"], "attempted": result["attempted"],
                  "failed": result["failed"],
                  "metrics": {k: {"value": v, "unit": units[k]}
                              for k, v in sorted(result["metrics"].items())}}
        if a.trace:
            dest = os.path.join(HERE, "out")
            os.makedirs(dest, exist_ok=True)
            shutil.copy(out + ".trace.json",
                        os.path.join(dest, f"trace-{a.workload}-seed{a.seed}.json"))
        sys.stdout.flush()
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
