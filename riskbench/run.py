#!/usr/bin/env python3
"""Reference-scale VaR benchmark runner.

    python3 riskbench/run.py --workload var-batch --seed 1 --seconds 20 --trace 0
    python3 riskbench/run.py --self-test

Run from the root of a checkout. The first run builds: it compiles the
program (src/main/scala) and the benchmark (riskbench/src) with the Scala
compiler shipped in Spark's jars, then builds the stored-trials fixture and
a class-data archive. All land in .bench_build/riskbench/<source hash>/ and
are reused while the sources are unchanged. Each run then launches one JVM
with a fixed heap from that classpath, in a private work directory emptied
first. The last stdout line is the JSON result; artifacts go to
.bench_work/results/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "riskbench")
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "3g"
WORKLOADS = ("var-batch", "var-serve", "var-refresh")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"riskbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in found):
        fail("no program sources under src/main/scala")
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark install found: set SPARK_HOME")


def jars():
    d = spark_jars_dir()
    js = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))
    if not js:
        fail(f"no Spark jars in {d}")
    return js


def java(cp, main, args, log, timeout, heap=HEAP, flags=()):
    """Runs one JVM; stdout lines are returned, stderr goes to `log`."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Xlog:all=warning:stderr",
           *ADD_OPENS, *flags,
           "-cp", cp, main, *args]
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"{main} {' '.join(args[:4])} timed out after {timeout:.0f} s; log {log}")
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stdout.write(out)
        fail(f"{main} exited {p.returncode}; log {log}")
    return out.splitlines()


def empty_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def build(with_fixture, deadline):
    """Builds once per source hash, into .bench_build/riskbench/<hash>/:
    the compiled classes as riskbench.jar, then the fixture, whose JVM also
    dumps a class-data archive of the classes it loaded (classes.jsa), so
    each run's JVM starts without reloading Spark's classes from the jars.
    Returns (build dir, classpath, source hash, whether anything was built)."""
    files = sources()
    h = source_hash(files)
    out = os.path.join(BUILD, h)
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    built = False
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for old in set(os.listdir(BUILD)) - {h, ".lock"}:
            shutil.rmtree(os.path.join(BUILD, old))
        jar = os.path.join(out, "riskbench.jar")
        cp = os.pathsep.join([jar] + jars())
        if not os.path.exists(jar):
            classes = os.path.join(out, "classes")
            empty_dir(classes)
            argfile = os.path.join(out, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(files) + "\n")
            compiler = os.pathsep.join(os.path.join(spark_jars_dir(), f"scala-{m}-2.13.17.jar")
                                       for m in ("compiler", "library", "reflect"))
            t0 = time.time()
            java(compiler, "scala.tools.nsc.Main",
                 ["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars()), "@" + argfile],
                 os.path.join(WORK, "logs", "compile.log"), deadline - time.time())
            # class-data archives take classes from jars only
            with zipfile.ZipFile(jar + ".tmp", "w") as z:
                for d, _, fs in os.walk(classes):
                    for f in fs:
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
            os.rename(jar + ".tmp", jar)
            shutil.rmtree(classes)
            built = True
            print(f"# compiled {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
        fixture = os.path.join(out, "fixture")
        if with_fixture and not os.path.exists(fixture + ".ok"):
            work = os.path.join(WORK, "fixture")
            empty_dir(work)
            empty_dir(fixture)
            t0 = time.time()
            for line in java(cp, "riskbench.Main",
                             ["--mode", "fixture", "--out", fixture,
                              "--cores", str(len(os.sched_getaffinity(0))), "--work", work],
                             os.path.join(WORK, "logs", "fixture.log"), deadline - time.time(),
                             flags=["-XX:ArchiveClassesAtExit=" + os.path.join(out, "classes.jsa")]):
                print("# " + line, file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            open(fixture + ".ok", "w").close()
            built = True
            print(f"# built fixture in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, cp, h, built


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="test the benchmark's own code")
    a = ap.parse_args()
    start = time.time()

    if a.self_test:
        _, cp, _, _ = build(False, start + BUILD_LIMIT_S)
        for line in java(cp, "riskbench.Main", ["--mode", "selftest", "--work", WORK],
                         os.path.join(WORK, "logs", "selftest.log"), RUN_LIMIT_S, heap="512m"):
            print(line)
        return
    if not a.workload:
        ap.error("--workload is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    out, cp, h, built = build(True, start + BUILD_LIMIT_S)
    archive = os.path.join(out, "classes.jsa")
    flags = ["-XX:SharedArchiveFile=" + archive] if os.path.exists(archive) else []
    # a run that had to build may use the build's budget; others get the run's
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "run")
    results = os.path.join(WORK, "results")
    empty_dir(run_dir)
    os.makedirs(results, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    try:
        lines = java(cp, "riskbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--fixture", os.path.join(out, "fixture"),
                      "--work", run_dir, "--out", results, "--name", name,
                      "--cores", str(nproc), "--nproc", str(nproc),
                      "--sha", git_sha(), "--build", h],
                     os.path.join(WORK, "logs", name + ".log"), deadline - time.time(),
                     flags=flags)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in lines:
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if result is None:
        fail("the runner printed no result")
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    result["metrics"] = {m["name"]: got[m["name"]] for m in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
