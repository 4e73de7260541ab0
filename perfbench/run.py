#!/usr/bin/env python3
"""Lifecycle benchmark of the graft engine: bulk_index, serve_mixed, curate.

Run from the repository root:

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark code from source with sbt (once per
source state, into $CARGO_TARGET_DIR or .bench_build), runs one workload in
one JVM, and prints the result object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones. The
full run record (environment, checks, both metric sets, and for traced runs
every span) is written to <build dir>/runs/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("bulk_index", "serve_mixed", "curate")
BENCH_DIR = "perfbench"
ENGINE_SRC = os.path.join("src", "main", "scala")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home_from_path():
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH_DIR, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env["PERFBENCH_BUILD_DIR"] = os.path.abspath(build_dir)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"]
    try:
        r = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if r.returncode != 0 or not os.path.isdir(classes):
        die("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"no engine sources under {ENGINE_SRC}: run from the repository root", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH", 2)
    spark_home = os.environ.get("SPARK_HOME") or spark_home_from_path()
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH", 2)
    os.environ["SPARK_HOME"] = spark_home

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.abspath(os.path.join(build_dir, "work", f"{tag}-{os.getpid()}"))
    runs = os.path.join(build_dir, "runs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    record = os.path.abspath(os.path.join(runs, f"{tag}.json"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_home, "jars", "*")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed heap and young generation: GC sizing, and with it peak
           # RSS, does not drift from run to run
           + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{os.path.abspath(classes)}:{jars}", "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--record", record])
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload did not finish within {JVM_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if p.returncode != 0 or not lines:
        die(f"workload exited with code {p.returncode}", 5)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    with open(record) as fh:
        env = json.load(fh)["env"]
    print(json.dumps({"env": env}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
