#!/usr/bin/env python3
"""Benchmark runner for the graft extraction engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 12 --trace 0

Builds the engine (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in the
Spark jar directory, caches the classes under $CARGO_TARGET_DIR (default
.bench_build), runs one workload in a fresh JVM at local[nproc], prints
the workload's figures with their units, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Every run appends its full record (host shape, seed,
steal, all figures) to .perfbench_out/records.jsonl; traced runs also
write their spans to .perfbench_out/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# The engine's own runtime settings (build.sbt javaOptions): Spark 4 on
# JDK 17 needs these module opens outside spark-submit, and the G1 pause
# target the engine is tuned for.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_FLAGS = ["-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # a fixed heap: no expansion decisions, so peak RSS repeats run to run
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:MaxGCPauseMillis=1000",
    "-XX:G1HeapRegionSize=16m",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    fail("no Spark jar directory found (set SPARK_HOME)")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from the repository root")
    return engine + bench


def build(root, jars):
    """Compile engine + benchmark once per source digest; returns (classes, digest)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, out) if not os.path.isabs(out) else out
    classes = os.path.join(out, f"perfbench-{digest}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, "BUILD_OK")):
            return classes, digest
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
        r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compilation failed")
        open(os.path.join(tmp, "BUILD_OK"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classes, digest


def source_id(root, digest):
    if not os.path.exists(os.path.join(root, ".git")):
        return f"src:{digest}"
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return f"git:{r.stdout.strip()}+src:{digest}"
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src:{digest}"


def run_jvm(cmd, cwd):
    """Run the JVM in its own process group; kill the group on timeout."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch files inside the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"))
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"workload exceeded {JVM_TIMEOUT_S} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def main():
    # a terminated run must still stop its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    jars = spark_jars()
    classes, digest = build(root, jars)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    outdir = os.path.join(root, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", f"{classes}:{os.path.join(jars, '*')}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--cores", str(cores),
        "--source", source_id(root, digest),
        "--spans", os.path.join(outdir, f"{tag}.spans.jsonl"),
    ]
    t0 = time.time()
    try:
        code, out = run_jvm(cmd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            record = json.loads(line[len("PERFBENCH_RECORD "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if code != 0 or record is None or result is None:
        fail(f"workload run failed (exit {code})")

    got = set(result["metrics"])
    if got != set(units):
        fail(f"metric set mismatch: missing {sorted(set(units) - got)}, "
             f"extra {sorted(got - set(units))}")
    record["wall_s"] = time.time() - t0
    record.update(correct=result["correct"], attempted=result["attempted"],
                  failed=result["failed"], metrics=result["metrics"])
    with open(os.path.join(outdir, "records.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")

    print(f"# {tag} nproc={record['nproc']} mem_total_mb={record['mem_total_mb']:.0f} "
          f"heap_mb={record['jvm_max_heap_mb']:.0f} steal_pct={record['steal_pct']:.2f} "
          f"source={record['source']}")
    for name, m in record["report"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name in sorted(result["metrics"]):
        print(f"{name} = {result['metrics'][name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": float(v), "unit": units[n]}
                    for n, v in sorted(result["metrics"].items())},
    }))


if __name__ == "__main__":
    main()
