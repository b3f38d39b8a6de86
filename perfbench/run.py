#!/usr/bin/env python3
"""Cold, seeded, layer-traced benchmark of the elevantspark engine.

Run from the repository root:

    python3 perfbench/run.py --workload er_resolve --seed 1 --seconds 10 --trace 0

Workloads: er_resolve, elevant_eval, curate, maint (see perfbench/README.md).
The first run builds the engine and the harness with sbt (the harness
build in perfbench/ depends on the repository's own build); later runs
reuse the build while the sources are unchanged. Each run starts one
fresh driver JVM at local[N], N = min(4, cores), prints a report line
and, as the last line of stdout, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The exit code is non-zero when an output check fails.
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
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ("er_resolve", "elevant_eval", "curate", "maint")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, for the up-to-date check."""
    roots = [
        os.path.join(REPO, "build.sbt"),
        os.path.join(REPO, "project"),
        os.path.join(REPO, "src", "main"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project"),
        os.path.join(HERE, "src", "main"),
    ]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".properties", ".java")))
    return out


def stamp():
    h = hashlib.sha256(REPO.encode())
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        log("engine sources not found next to perfbench/ (need build.sbt and src/main/scala)")
        sys.exit(2)
    want = stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    rc = run_child(cmd, HERE, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {rc})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(want)
    log(f"build took {time.time() - t0:.1f} s")


def run_child(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs tiny inputs)")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="perturb each result before its check (self-test of the checks)")
    a = ap.parse_args()
    # a terminated benchmark still stops its children (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ensure_built()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    run_name = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_name)
    trace_out = os.path.join(BUILD, "traces", f"{run_name}-{int(time.time())}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", str(a.scale), "--corrupt", str(a.corrupt),
            "--work", work, "--trace-out", trace_out]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            rc = run_child(cmd, REPO, RUN_TIMEOUT_S, stdout=out)
        with open(out_path) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    if rc == -1 or not result:
        log(f"no result (exit {rc})")
        for ln in lines:
            print(ln, file=sys.stderr)
        sys.exit(rc if rc > 0 else 3)
    for ln in lines:
        if ln.startswith('{"report"'):
            print(ln)
    print(result[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
