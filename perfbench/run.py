#!/usr/bin/env python3
"""Benchmark of the registered queries: full-result timing, correctness
digests and, with --trace 1, a per-layer trace.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload mixed_serial --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the program (src/main/scala) together
with the harness (perfbench/src) with sbt; later runs reuse the classes
while the sources are unchanged. Each run is one fresh JVM; the harness
prints a report line and then the result line, which is always the last
line of stdout. Reports and trace spans are written under perfbench/out.

Re-prove the committed digests (perfbench/digests.tsv) after a change to
the workloads or to a query's result:

    python3 perfbench/run.py --prove

This dumps every workload query with graft.Verify, compares the dump with
the DuckDB oracle (tools/check.py), then records each query's digest and
checks it is repeatable and equal to the digest of the oracle-checked dump.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# Class-data archive of the JVM's loaded classes, dumped by the first run
# after a build: later runs start the JVM and Spark several seconds faster.
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.tsv")
BUILD_LIMIT_S = 600
RUN_LIMIT_S = 175
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{os.path.basename(cmd[0])} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_sha():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(sha, spark):
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == sha:
        return
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark,
               SBT_OPTS=" ".join(opts))
    print("perfbench: building program and harness", file=sys.stderr)
    rc, _ = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                      BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0:
        die("build failed")
    # the class-data archive takes jars only
    resources = os.path.join(HERE, "src", "main", "resources")
    with zipfile.ZipFile(JAR, "w") as jar:
        for base in (CLASSES, resources):
            for d, _, fs in os.walk(base):
                for f in fs:
                    jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), base))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(STAMP, "w") as fh:
        fh.write(sha)


def heap():
    """Half the host's memory, 2g..8g: the heap the repository's tests use."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def java(spark, main, args, timeout, capture=True, archive=False):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    jbin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not jbin:
        die("java not found")
    cds = []
    if archive:
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
               else f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    jars = sorted(os.path.join(spark, "jars", j)
                  for j in os.listdir(os.path.join(spark, "jars")) if j.endswith(".jar"))
    cmd = [jbin, f"-Xmx{heap()}", *ADD_OPENS, *cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", os.pathsep.join([JAR, *jars]), main, *args]
    return run_group(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE if capture else None,
                     text=True)


def harness_args(mode, sha):
    return ["--mode", mode, "--cores", str(len(os.sched_getaffinity(0))),
            "--fixture", FIXTURE, "--work", WORK, "--out", OUT, "--digests", DIGESTS,
            "--commit", commit(), "--source-sha", sha]


def prove(spark, sha):
    dump = os.path.join(OUT, "oracle-dump")
    shutil.rmtree(dump, ignore_errors=True)
    rc, out = java(spark, "perfbench.Main", harness_args("list", sha), RUN_LIMIT_S)
    queries = out.strip().splitlines()[-1]
    rc, _ = java(spark, "graft.Verify", [FIXTURE, dump, queries], 900, capture=False)
    # graft.Verify writes the oracle SQL of every registered query; the
    # check compares only the dumped ones
    oracle = os.path.join(dump, "oracle_sql.json")
    with open(oracle) as fh:
        sql = json.load(fh)
    with open(oracle, "w") as fh:
        json.dump({q: sql[q] for q in queries.split(",")}, fh)
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), FIXTURE, dump])
    if rc != 0 or check.returncode != 0:
        die("oracle check failed")
    rc, _ = java(spark, "perfbench.Main", harness_args("record", sha) + ["--verify-dir", dump],
                 900, capture=False)
    shutil.rmtree(dump, ignore_errors=True)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prove", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        die(f"program sources not found under {os.path.relpath(PROGRAM, ROOT)}")
    if not a.prove and not a.workload:
        die("--workload is required")
    spark = spark_home()
    sha = source_sha()
    build(sha, spark)
    if a.prove:
        sys.exit(prove(spark, sha))

    args = harness_args("run", sha) + ["--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(a.seconds), "--trace", str(a.trace)]
    rc, out = java(spark, "perfbench.Main", args, RUN_LIMIT_S, archive=True)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        ok = rc == 0 and set(result) == RESULT_KEYS
    except (IndexError, ValueError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        die(f"harness exited {rc} without a result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
