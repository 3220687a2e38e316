#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. On first use in a checkout it builds the
harness with sbt (engine sources from src/main/scala, unchanged) and
generates the base tables; both are cached under perfbench/. It then runs
one workload in a fresh JVM and prints, as its last line, one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, as
BENCHMARK.json names them. Lines before it are the full report: the seed,
the posture (cores, shuffle partitions, file system, every conf the
harness sets), sample counts, and every figure measured.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "point_writes")
# Scale of the generated base tables per workload (sf 0.1 = 150k orders,
# 100k events); see README.md for why each was chosen.
DATA_SF = {"analytics": 0.001, "point_writes": 0.05}
DATA_SEED = 42
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME", 1)
    return os.path.join(home, "jars")


def build():
    """Compile the harness and the engine; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt")]
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest_mtime(sources[:2]) \
            or os.path.getmtime(cp_file) < os.path.getmtime(sources[2]):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                f"-Dperfbench.sparkJars={spark_jars()}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail("build failed", 1)
    with open(cp_file) as f:
        return f.read().strip()


def data_dir(workload):
    sf = DATA_SF[workload]
    out = os.path.join(HERE, ".data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(out, "DONE")):
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), "--sf", str(sf),
                            "--seed", str(DATA_SEED), "--out", out], stdout=sys.stderr)
        if r.returncode != 0:
            fail("data generation failed", 1)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found: run from a checkout of the repository")
    names = declared(a.trace)
    cp = build()
    data = data_dir(a.workload)
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--expected", os.path.join(HERE, "expected", "analytics_rows.tsv"),
            "--work", os.path.join(work, "db")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
