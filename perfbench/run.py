#!/usr/bin/env python3
"""Hourly-pipeline benchmark entry point.

Builds the benchmark driver (perfbench/, an sbt build that depends on the
program's root build) once per source state, keeping a copy of its classes
per state, then runs one workload in a fresh JVM and prints its metrics.
The last stdout line is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

    python3 perfbench/run.py --workload hourly_search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run it from the root of the repository (or any checkout of it). Build
outputs, the generated inputs and the trace files stay inside the
checkout, under .bench_build/ (or $CARGO_TARGET_DIR when that is set).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["hourly_search", "daily_deep", "churn_stream"]
HEAP = "2g"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out_dir, digest):
    """Compile program + driver with sbt; return the runtime classpath.

    sbt writes the class directories in place, so a later build of other
    sources overwrites them. The classpath returned here therefore points
    at a copy of them kept per source digest (the jars it names are not
    rebuilt), and a digest seen before reuses its copy without sbt.
    """
    snap = os.path.join(out_dir, f"classes-{digest[:16]}")
    cp_file = os.path.join(snap, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log_path = os.path.join(out_dir, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = start(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH_DIR, stdout=log, stderr=subprocess.STDOUT).wait()
        finally:
            stop_child()
    with open(log_path) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log_path}", 3)
    shutil.rmtree(snap, ignore_errors=True)
    entries = lines[-1].split(os.pathsep)
    for i, p in enumerate(entries):
        if os.path.isdir(p):
            entries[i] = os.path.join(snap, str(i))
            shutil.copytree(p, entries[i])
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp + "\n")
    os.replace(cp_file + ".tmp", cp_file)
    return cp


_child = None


def start(cmd, **kw):
    """Start the one child process; a signal to us stops it first."""
    global _child
    _child = subprocess.Popen(cmd, **kw)
    return _child


def stop_child():
    if _child is not None and _child.poll() is None:
        _child.terminate()
        try:
            _child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def commit_id(digest):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                  capture_output=True, text=True,
                                  check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return "src-" + digest[:12]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_workload(args, cp, out_dir, digest, echo_result):
    """One JVM run of one workload; returns the parsed result object."""
    work = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Driver",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus()), "--work", work,
              "--trace-dir", os.path.join(out_dir, "traces"),
              "--commit", commit_id(digest), "--xmx", HEAP])
    result = None
    try:
        # few malloc arenas: native RSS then tracks what the program
        # allocates, not how many threads happened to allocate
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = start(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait()
    finally:
        stop_child()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        fail(f"{args.workload}: driver exited {rc} without a result", 4)
    parsed = json.loads(result)
    if set(parsed) != RESULT_KEYS:
        fail(f"{args.workload}: malformed result {result}", 4)
    if echo_result:
        print(result, flush=True)
    return parsed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    program = os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "Pipeline.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(program)):
        fail(f"program sources not found under {ROOT}; run from a checkout of the repository", 2)
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(out_dir, exist_ok=True)
    digest = source_hash()
    cp = build(out_dir, digest)

    if args.workload != "all":
        run_workload(args, cp, out_dir, digest, echo_result=True)
        return
    results = {}
    for w in WORKLOADS:
        results[w] = run_workload(argparse.Namespace(**{**vars(args), "workload": w}),
                                  cp, out_dir, digest, echo_result=False)
    names = list(results[WORKLOADS[0]]["metrics"])
    print("\n%-28s" % "metric" + "".join("%18s" % w for w in WORKLOADS) + "  unit")
    for m in names:
        unit = results[WORKLOADS[0]]["metrics"][m]["unit"]
        print("%-28s" % m + "".join("%18.6g" % results[w]["metrics"][m]["value"]
                                      for w in WORKLOADS) + "  " + unit)
    print("%-28s" % "failed_ticks" + "".join(
        "%18s" % f"{results[w]['failed']}/{results[w]['attempted']}" for w in WORKLOADS) + "  count")
    print("%-28s" % "output check" + "".join(
        "%18s" % ("ok" if results[w]["correct"] else "FAILED") for w in WORKLOADS))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
