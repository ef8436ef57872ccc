#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine from source together with
the benchmark code (perfbench/build.sbt, outputs under .bench_build/);
later runs reuse the build while the sources are unchanged. Each run is
one fresh JVM working in its own directory under .bench_runs/, which is
removed afterwards. The last line printed is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the metrics BENCHMARK.json names. Lines before it (PERFBENCH_DETAIL,
PERFBENCH_LAYERS, PERFBENCH_SPANS) carry every end-to-end metric of the
workload, the tail percentiles and sample counts, the host probe, every
per-layer value, and the traced span summary.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("opinion_star_load", "corpus_curation", "table_cdc_mixed")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_LIMIT_S = 850
START = time.time()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile the engine and the benchmark code; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala: run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-5000:])
        fail(f"build failed (exit {p.returncode})")
    cps = [ln.strip() for ln in p.stdout.splitlines() if ln.strip().endswith(".jar") or ".jar:" in ln]
    if not cps:
        sys.stderr.write(p.stdout[-5000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, built = build()
    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--dir", run_dir])
    limit = (895 if built else 175) - (time.time() - START)
    result = detail = layers = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timer = threading.Timer(limit, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            tag, _, body = line.partition(" ")
            if tag == "PERFBENCH_RESULT":
                result = json.loads(body)
                continue
            if tag == "PERFBENCH_DETAIL":
                detail = json.loads(body)
            elif tag == "PERFBENCH_LAYERS":
                layers = json.loads(body)
            sys.stdout.write(line)
            sys.stdout.flush()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode == -signal.SIGKILL:
        fail(f"run exceeded {limit:.0f} s")
    if result is None or detail is None or (a.trace and layers is None):
        fail(f"no result (JVM exit {proc.returncode})")
    print(json.dumps(dict(result, metrics=select_metrics(detail, layers, a.trace))))
    sys.exit(proc.returncode)


def select_metrics(detail, layers, trace):
    """The metrics BENCHMARK.json names, with its units: the end-to-end ones
    from the detail line, or with --trace 1 the per-layer ones, where a layer
    the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if trace:
        # no value (or a median of no samples, printed as null) reads 0
        return {m["name"]: {"value": layers.get(m["name"]) or 0.0, "unit": m["unit"]}
                for m in spec["per_layer"]}
    e2e = detail["end_to_end"]
    missing = [m["name"] for m in spec["end_to_end"]
               if not isinstance(e2e.get(m["name"], {}).get("value"), (int, float))]
    if missing:
        fail(f"run reported no {', '.join(missing)}")
    return {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
            for m in spec["end_to_end"]}


if __name__ == "__main__":
    main()
