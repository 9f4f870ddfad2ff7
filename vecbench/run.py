#!/usr/bin/env python3
"""Vector-engine benchmark launcher.

Builds the engine from the checkout's sources together with the benchmark
driver (once per source tree), runs one workload in a local Spark JVM and
prints the run's result as the last line of standard output:

    python3 vecbench/run.py --workload small_batch_search --seed 1 --seconds 10 --trace 0

The full run record (sizes, JVM flags, per-op timings, checks, spans) goes
to vecbench/target/records/. Exits non-zero, without a result line, when
the engine sources are missing or the build fails; exits non-zero after
printing the result when a correctness check failed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["index_build", "small_batch_search", "neardup_dedup"]
RUN_LIMIT_S = 170  # a run must end within 180 s; leave room to clean up
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[vecbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return sorted(files)


def tree_hash():
    """Hash of every source the benchmark build reads."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, else the installation of the first spark-submit on PATH
    that ships its jars (the build compiles against them)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("[vecbench] set SPARK_HOME: no Spark installation found on PATH")


def build(tree):
    """Compiles engine plus benchmark unless this tree is already built;
    returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = os.path.join(TARGET, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == tree:
                with open(cp_file) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("[vecbench] sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    log(f"building tree {tree}")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.exit(f"[vecbench] build failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(tree)
    with open(cp_file) as c:
        return c.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"[vecbench] engine sources not found under {os.path.relpath(ENGINE_SRC)}")

    tree = tree_hash()
    cp = build(tree)
    start = time.time()
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))
    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    record = os.path.join(TARGET, "records",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json")
    result = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "vecbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
              "--work", work, "--record", record, "--result", result, "--tree", tree])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("run exceeded its time limit")
        code = None
    line = None
    if os.path.exists(result):
        with open(result) as fh:
            line = fh.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if code is None or line is None:
        sys.exit(1)
    log(f"record: {os.path.relpath(record, ROOT)}")
    print(line, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
