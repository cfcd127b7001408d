#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke <ops>]

Run from the repository root. The benchmark is its own sbt build
(perfbench/build.sbt) that compiles the engine's sources; the classpath is
cached under perfbench/.build and rebuilt when any source or build file
changes. The JVM is started directly, not through sbt, so the result reaches
standard output as a bare JSON line (the last line printed). --smoke runs a
fixed, tiny number of operations on smaller inputs for the repeatability test.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
TRACE_DIR = os.path.join(HERE, ".traces")
DEADLINE_S = 170  # a run must end within 180 s; a build before it may take longer

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Compile if needed and return the runtime classpath."""
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            if fh.read() == stamp:
                return cf.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=700)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp or not all(os.path.exists(p) for p in cp.split(":")):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", type=int)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = classpath()

    work = os.path.join(WORK_DIR, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--dir", work]
           + (["--smoke", str(a.smoke)] if a.smoke else []))
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    try:
        out, _ = child.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its time limit")
    for name in os.listdir(work):
        if name.startswith("spans-"):
            os.makedirs(TRACE_DIR, exist_ok=True)
            shutil.move(os.path.join(work, name), os.path.join(TRACE_DIR, name))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    result = None
    for line in lines:
        if line.startswith("{") and '"correct"' in line:
            result = line
        else:
            print(line)
    if child.returncode != 0 or result is None:
        fail(f"benchmark exited with {child.returncode} and no result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
