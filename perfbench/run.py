#!/usr/bin/env python3
"""Workload benchmark for the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload defi_daily --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark runner from source with sbt (once
per source state; the classpath is cached under perfbench/target), then
runs one workload in one JVM on a local[nproc] session and prints the
runner's records. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics and writes spans to perfbench/out/.

The registry entries read the sf0.1 tables in perfbench/data/sf0.1
(checked against perfbench/data/SHA256SUMS before each run). Inputs
are generated from --seed inside a scratch directory under
perfbench/.work/, which is removed when the run ends.
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
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-stamp.txt")
DATA = os.path.join(HERE, "data", "sf0.1")
SUMS = os.path.join(HERE, "data", "SHA256SUMS")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

WORKLOADS = ["defi_daily", "corpus_release"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the runner's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    want = stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == want:
                with open(CP_FILE) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's temporary files inside the checkout
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    print("perfbench: building program and runner with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the runtime classpath from sbt")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(want)
    return cp


def check_data():
    """The sf0.1 tables must be the ones the digests were recorded on."""
    if not os.path.isfile(SUMS):
        fail("perfbench/data/SHA256SUMS not found")
    with open(SUMS) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    fail(f"{name} differs from the table listed in data/SHA256SUMS")


def heap_gb():
    """A quarter of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, round(int(line.split()[1]) / 4 / 1048576)))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("program sources not found next to perfbench/ (need build.sbt and src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    check_data()
    cp = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", DATA, "--work", work, "--out", out,
              "--digests", os.path.join(HERE, "digests.txt")])
    proc = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                    stderr=lf, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s")
        lines = [l for l in stdout.splitlines() if l.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if proc.returncode != 0 or not isinstance(result, dict) or set(result) != {
                "correct", "attempted", "failed", "metrics"}:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            sys.stderr.write(stdout[-2000:])
            fail(f"runner exited with {proc.returncode} and no result")
        for l in lines:
            print(l)
        sys.stdout.flush()
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
