#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark harness from source with sbt (perfbench/build.sbt loads the
repository's own build as a dependency) and caches the runtime classpath
under the build directory ($CARGO_TARGET_DIR, default .bench_build);
later runs reuse it while no source file changed. Each run then starts
one JVM (graftbench.Main) and prints its result record as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Extra flags for the benchmark's own self-test: --scale tiny (small
inputs, one setup), --wrong-total (a deliberately wrong expected royalty
total, which must be reported as a failure).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_fingerprint():
    """Hash of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH_DIR, "src")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile with sbt unless the cached classpath matches the sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not "
             "beside perfbench/; run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    fp = source_fingerprint()
    stamp = os.path.join(bdir, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (see {log_path})")
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed with exit code {proc.returncode} (see {log_path})")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if os.pathsep in l and "scala-2.13" in l
               and not l.startswith("[")), None)
    if cp is None:
        fail(f"no classpath in the build output (see {log_path})")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def heap_gb():
    """Driver heap from MemTotal: half of it, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--wrong-total", action="store_true")
    a = ap.parse_args()

    bdir = build_dir()
    cp = ensure_built(bdir)
    scratch = os.path.join(bdir, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    heap = f"{heap_gb()}g"
    # -Xms = -Xmx and a bounded young generation, as graft's own run
    # configuration: a heap that never resizes keeps GC out of the spread
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:MaxNewSize=2g",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.buffer.pageSize=8m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", scratch, "--scale", a.scale] +
           (["--wrong-total"] if a.wrong_total else []))
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    last = None
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        kill_group(proc)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if lines:
        last = lines[-1]
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    try:
        rec = json.loads(last)
        assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    except (TypeError, ValueError, AssertionError):
        fail(f"no result record; last line was: {last!r}")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
