#!/usr/bin/env python3
"""Alert-stream benchmark: builds the program from source, runs one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload live_fanout --seed 1 --seconds 25 --trace 0

The first run builds the program and the benchmark with sbt (offline, from
the local dependency cache) and records the classpath with a hash of the
sources; later runs reuse it while the hash matches, and rebuild otherwise.
Each run works in its own directory under perfbench/work/, which is removed
when the run ends. The last line of standard output is the JSON result of
the run.
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
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles the program and the benchmark; returns the classpath."""
    missing = [f for f in sources()[:3] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("cannot build: missing " + ", ".join(
            missing or [os.path.join(ROOT, "src", "main", "scala")]))
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    # one stamp: the source hash of the last build and its classpath. The
    # classpath names shared class directories that always hold the latest
    # compile, so it is reused only while the sources are those it was built from.
    stamp = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            built_from, _, classpath = fh.read().strip().partition("\n")
        if built_from == h.hexdigest() and classpath:
            return classpath
        os.remove(stamp)
    if shutil.which("sbt") is None:
        fail("cannot build: sbt is not on PATH")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest() + "\n" + lines[-1])
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["live_fanout", "night_science"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, FINK_FILTERS_DATA=os.path.join(work, "catalogs"))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", classpath]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    if a.trace == "1":
        cmd += ["--spans", os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-2000:])
        fail(f"benchmark exited with {proc.returncode}")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
