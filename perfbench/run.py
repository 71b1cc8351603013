#!/usr/bin/env python3
"""Feature-store loop benchmark: build the engine from this checkout, run
one workload, print the result as the last line of standard output.

    python3 perfbench/run.py --workload <ingest|serve> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt into perfbench/target (later runs reuse the build while
the sources are unchanged). Everything a run writes stays inside the
checkout: scratch data under perfbench/.work/run-*, deleted when the run
ends, and the full result (stamp, metrics, spans) under perfbench/.work/out.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
HEAP = ["-Xms2g", "-Xmx2g"]  # fixed, so full collections never shrink it
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest", "serve")

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build: the engine's sources and the
    benchmark's own sources and build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(src_sha):
    """Compile with sbt unless the last build was of these sources;
    returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "bench.classpath")
    stamp_file = os.path.join(TARGET, "bench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == src_sha:
                with open(cp_file) as fh:
                    return fh.read().strip()
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S, start_new_session=True)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(src_sha)
    with open(cp_file) as fh:
        return fh.read().strip()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=20).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def tracing_overhead(out_dir, workload, traced):
    """Traced end-to-end values over the median of this workload's
    untraced runs in `out_dir` built from the same sources, minus one,
    per metric."""
    untraced = []
    for f in os.listdir(out_dir):
        if f.startswith(workload + "-") and f.endswith("-trace0.json"):
            try:
                with open(os.path.join(out_dir, f)) as fh:
                    doc = json.load(fh)
                if doc["stamp"]["source_sha"] == traced["stamp"]["source_sha"]:
                    untraced.append(doc["end_to_end"])
            except (OSError, ValueError, KeyError):
                continue
    if not untraced:
        return None
    over = {}
    for k, v in traced["end_to_end"].items():
        base = [u[k]["value"] for u in untraced if k in u]
        if base and statistics.median(base) != 0:
            over[k] = v["value"] / statistics.median(base) - 1.0
    return {"untraced_runs": len(untraced), "share": over}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}: "
             "run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    src_sha = source_hash()
    cp = build(src_sha)
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    cmd = (["java"] + HEAP + ["-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--dir", run_dir, "--out", out_dir,
              "--stamp", f"git_sha={git_sha()}", "--stamp", f"source_sha={src_sha[:16]}",
              "--stamp", f"heap={' '.join(HEAP)}"])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if a.trace == "1":
        art = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace1.json")
        with open(art) as fh:
            doc = json.load(fh)
        doc["tracing_overhead"] = tracing_overhead(out_dir, a.workload, doc)
        with open(art, "w") as fh:
            json.dump(doc, fh)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
