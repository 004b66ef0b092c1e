#!/usr/bin/env python3
"""Build and run the gdalspark benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload tile_base --seed 1 --seconds 12 --trace 0

Workloads: tile_base, pip_join, tile_ingest. The first run compiles the
library sources together with the benchmark driver (perfbench/build.sbt)
into .bench_build/; later runs reuse that build while no source changed.
The benchmark JVM prints an inputs record, a summary record and, as the
last line of standard output, the result object. The exit code is non-zero
when the build fails, an operation fails or an output check fails.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build"
WORKLOADS = ("tile_base", "pip_join", "tile_ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these when the JVM is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    files = []
    for base in (LIB_SRC, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files += [BENCH / "build.sbt"] + sorted((BENCH / "project").glob("*.properties"))
    return files


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    OUT.mkdir(exist_ok=True)
    stamp, cp_file = OUT / "stamp", OUT / "classpath.txt"
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
            return cp_file.read_text()
        log("building (sbt, offline)")
        t0 = time.time()
        res = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if res.returncode != 0:
            raise SystemExit(f"perfbench: build failed (sbt exit {res.returncode})")
        produced = BENCH / "target" / "runtime-classpath.txt"
        shutil.copyfile(produced, cp_file)
        stamp.write_text(digest)
        log(f"built in {time.time() - t0:.0f} s")
        return cp_file.read_text()


def commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return res.stdout.strip() or "unknown"


def java_cmd(classpath, args, work_dir):
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "graft.perfbench.Main", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test: small)")
    a = ap.parse_args()

    if not LIB_SRC.is_dir():
        log(f"library sources not found at {LIB_SRC.relative_to(ROOT)}; "
            "run from a checkout of the repository")
        return 2
    digest = source_digest()
    classpath = build(digest)

    work_dir = OUT / "run" / str(os.getpid())
    shutil.rmtree(work_dir, ignore_errors=True)
    work_dir.mkdir(parents=True)
    cmd = java_cmd(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--scale", str(a.scale),
        "--work-dir", str(work_dir), "--trace-dir", str(OUT / "traces"),
        "--commit", commit(), "--source-digest", digest[:16]], work_dir)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work_dir / "spark-local")  # keep Spark's scratch in the checkout
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    timed_out = threading.Event()

    def kill():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)

    def on_timeout():
        timed_out.set()
        kill()

    signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(143)))
    watchdog = threading.Timer(JVM_TIMEOUT_S, on_timeout)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line
    finally:
        watchdog.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work_dir, ignore_errors=True)
    if timed_out.is_set():
        log(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed")
        return 1
    if proc.returncode == 0 and (last is None or not last.startswith('{"correct"')):
        log("benchmark JVM printed no result")
        return 1
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
