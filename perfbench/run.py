#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh JVM, and prints the result as the last line
of standard output.

    python3 perfbench/run.py --workload <etl_ingest|analytics_mix|dedup_graph>
                             --seed <n> --seconds <s> --trace <0|1>

The result line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("etl_ingest", "analytics_mix", "dedup_graph")
BUILD_TIMEOUT_S = 840
# A run must end within 180 s; a traced run starts two harness JVMs.
RUN_BUDGET_S = 170

# Spark 4 on JDK 17 needs these opens when the session is created outside
# spark-submit; the engine's build file passes the same list to its tests.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# A fixed heap (no growth pauses mid-pass) and the throughput collector,
# as the engine's own bench uses; 2 GB holds every workload's data.
JVM_FLAGS = ["-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def run_child(cmd, timeout, cwd, env=None, capture=False):
    """Runs cmd in its own process group; on timeout or interrupt the
    whole group is killed and waited for. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        return None, ""
    finally:
        _children.remove(p)
    return p.returncode, out or ""


def sources_digest():
    """Hash of every file the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine (through its own build file) and the harness,
    and returns the runtime classpath. Skipped when nothing changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"the engine's sources are missing: {need}")
            sys.exit(4)
    stamp_file = os.path.join(TARGET, "bench-build.json")
    digest = sources_digest()
    try:
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest:
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building the engine and the harness")
    env = dict(os.environ, COURSIER_MODE="offline")
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "compile", "export Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, HERE, env=env, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        log("build failed")
        sys.exit(5)
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def fresh_workdir():
    """Clears what an earlier run left, keeping earlier traces."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name not in ("trace", "results"):
            path = os.path.join(WORK, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    os.makedirs(os.path.join(WORK, "tmp"))


def engine_env():
    """Keeps the engine's scratch files inside the work directory: its
    streaming checkpoints, and Spark's local dirs, which SPARK_LOCAL_DIRS
    would otherwise move elsewhere."""
    env = dict(os.environ, SPARK_GRAFT_STREAM_CKPT_BASE=os.path.join(WORK, "tmp"))
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def java_cmd(classpath, main, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + JVM_FLAGS +
            [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", classpath, main] + list(args))


def expected_metrics(trace):
    """Metric names BENCHMARK.json lists for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_harness(classpath, a, trace):
    """Runs the harness JVM once and returns its result object."""
    fresh_workdir()
    rc, out = run_child(java_cmd(classpath, "perfbench.Main", a.workload, str(a.seed),
                                 str(a.seconds), str(trace), HERE, WORK),
                        RUN_BUDGET_S // (1 + a.trace), ROOT, env=engine_env(), capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out)
        log(f"harness exited with {rc}")
        sys.exit(6)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result: {lines[-1]}")
        sys.exit(7)
    return result


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def save_record(args, started, load_start, result):
    """Keeps the run's result with what it ran on, for compare.py."""
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "git_head": git_head(), "nproc": os.cpu_count(),
           "load_start": load_start, "load_end": list(os.getloadavg()),
           "jvm_flags": JVM_FLAGS, "started": started, "ended": time.time(),
           "result": result}
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{int(started * 1000)}-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(rec, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 120:
        ap.error("--seconds must be between 1 and 120")
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    classpath = build()
    started, load_start = time.time(), list(os.getloadavg())
    result = run_harness(classpath, a, 0)
    if a.trace:
        # A separate traced run gives the per-layer metrics; its pass time
        # against the untraced run's gives the tracing overhead.
        traced = run_harness(classpath, a, 1)
        overhead = (traced["metrics"].pop("pass_s")["value"] /
                    result["metrics"]["pass_s"]["value"] - 1)
        traced["metrics"]["bench.trace_overhead"] = {"value": overhead, "unit": "ratio"}
        traced["attempted"] += result["attempted"]
        traced["failed"] += result["failed"]
        traced["correct"] = traced["correct"] and result["correct"]
        result = traced
    missing = expected_metrics(a.trace) ^ set(result["metrics"])
    if missing:
        log(f"metrics differ from BENCHMARK.json: {sorted(missing)}")
        sys.exit(8)
    save_record(a, started, load_start, result)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
