#!/usr/bin/env python3
"""Build the engine plus the benchmark, then run one benchmark workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload registry_light --seed 1 --seconds 18 --trace 0

The engine sources (src/main) and the benchmark sources (perfbench/src)
are compiled together by perfbench/build.sbt into .bench_build/. The
build is skipped while a stamp over every source file still matches.
The benchmark then runs in its own JVM with `java -cp`, so no run pays
for sbt start-up. Every run gets a private directory under .bench_run/
for its memo root, persisted-base store, Spark local dirs and JVM temp
files. The directory is removed at the end; only the trace of a
`--trace 1` run is kept, in .bench_run/traces/.

The last line on stdout is the JSON result. The exit code is 0 when every
operation succeeded and every output matched. It is 1 when an operation
failed or an output did not match; the JSON is still printed then. It is 2
when the build or the run itself failed; nothing is printed on stdout then.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
ENGINE_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
# a run must end within 180 s; leave room for JVM exit and clean-up
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (as in the engine's build.sbt)
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(ENGINE_ENTRY):
        fail("engine sources not found (src/main/scala/graft); run from a full checkout")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # resolve only from the local caches, as the engine's own build does
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    env["PERFBENCH_TARGET"] = os.path.join(BUILD, "target")
    # keep sbt's global state and temporary files inside the checkout too
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp, "-J-XX:-UsePerfData",
           "clean", "compile"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["registry_light", "screen"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark distribution")
    build()

    run_dir = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    for sub in ("local", "store", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_ROOT": HERE,
        "PERFBENCH_RUN_DIR": run_dir,
        "GRAFT_STORE_DIR": os.path.join(run_dir, "store"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed floor under the heap: the full GC before every operation
    # would otherwise shrink it, and the next operation would pay to grow it
    cmd += ["-Xms2g", "-Xmx4g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + spark_jars,
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = p.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line, file=sys.stderr)
    if result is None or p.returncode not in (0, 1):
        fail(f"run failed (exit {p.returncode})")
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
