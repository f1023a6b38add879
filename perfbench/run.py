#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload registry_short --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the program
and the benchmark from source with sbt (perfbench/build.sbt depends on
the checkout's own build) and caches the classpath under .bench_build/;
later runs start the JVM directly. Every file a run writes lives under
.bench_build/ in the checkout: the generated input corpus (corpus/, made
by the first run at a scale and reused — it does not depend on the
seed), the run's warehouse and Spark scratch space (work/, removed at
exit), and the detail records (records/<workload>-seed<n>-trace<t>.json,
plus -spans.json when traced).

Options beyond the four every run takes:
    --sf X               corpus scale factor (default 0.01)
    --record-expected 1  write perfbench/expected/registry-sf<X>.tsv from
                         the checked-out program instead of benchmarking
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("registry_short", "registry_long", "store_rw")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached = fh.read().split("\n")
        if cached[0] == digest:
            return cached[1]
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "-Dsbt.supershell=false", "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cp = [ln for ln in lines if ln.endswith(".jar") and os.pathsep in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (sbt exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(CLASSPATH, "w") as fh:
        fh.write(digest + "\n" + cp[-1] + "\n")
    return cp[-1]


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--record-expected", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                        "SparkEntry.scala"))):
        die("run from the root of a graft checkout (build.sbt and "
            "src/main/scala/graft are missing here)")
    cp = build()

    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--sf", a.sf,
            "--work", work,
            "--corpus", os.path.join(ROOT, ".bench_build", "corpus"),
            "--records", os.path.join(ROOT, ".bench_build", "records"),
            "--expected", os.path.join(HERE, "expected"),
            "--git-sha", git_sha(), "--record-expected", a.record_expected]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(
            timeout=RUN_TIMEOUT_S if a.record_expected == "0" else BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if ln not in result:
            print(ln)
    if proc.returncode != 0 or (not result and a.record_expected == "0"):
        die(f"benchmark JVM exited with {proc.returncode}")
    if result:
        print(result[-1])


if __name__ == "__main__":
    main()
