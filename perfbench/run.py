#!/usr/bin/env python3
"""graft benchmark: OSM conversion and training-data gates, end to end and per layer.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload osm_full --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness from source with sbt (the
harness is the sbt build in this directory; it compiles the repository's
sources through the root build). Each run starts one JVM with Spark on
local[N], N = min(4, cores), and drives one closed loop: one client, one
operation at a time.

Workloads (BENCHMARK.json says why each is there):
  osm_full      ResultCache.convert of a seeded synthetic city PBF, no filters;
                the first conversion of the JVM
  gates_warm    the gates in gates.json on a session primed in set-up

The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1), each
with its unit. Failed operations are named on stderr with their cause.
Scratch files go to .bench_work/ in the checkout; a traced run leaves its
spans there as trace-<workload>-seed<seed>.json.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("osm_full", "gates_warm")
# the harness JVM (a traced osm_full run, the longest, takes about 120 s on
# 4 contended vCPUs); the build has its own limit
RUN_LIMIT_S = 165

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "peak_heap_mb": "MB",
}
FAMILIES = ("RelationalQueries", "TextQueries", "SimilarityQueries",
            "RetrievalOps", "MultimodalOps", "SpatialJoin")
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.busy_frac": "frac", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.cached_mb": "MB",
    "OsmPbfSource.decode_s": "s", "OsmPbfSource.scan_tasks": "count",
    "OsmPbfSource.elements_per_s": "1/s",
    "OsmPipeline.features_s": "s", "OsmPipeline.pipeline_s": "s",
    "OsmPipeline.stages": "count", "OsmPipeline.cuts_mb": "MB",
    "OsmPipeline.yield": "frac",
    "GeoParquet.write_s": "s", "GeoParquet.jobs": "count",
    "GeoParquet.row_groups": "count", "GeoParquet.output_mb": "MB",
    **{f"{f}.{m}": u for f in FAMILIES
       for m, u in (("s", "s"), ("jobs", "count"), ("idle_s", "s"),
                    ("exec_cpu_s", "s"))},
    "SnapshotCache.builds": "count", "SnapshotCache.index_mb": "MB",
    "SnapshotCache.build_gates_s": "s",
    "trace.overhead_frac": "frac",
}

OSM_LAYERS = ("OsmPbfSource", "OsmPipeline", "GeoParquet")
GATE_LAYERS = (*FAMILIES, "SnapshotCache")

# what `java` needs on JDK 17 to run Spark outside spark-submit
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group, output to log_path; kill the whole
    group on timeout and wait for it. Returns the exit code (None on timeout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    p.wait(timeout=10)
                    break
                except subprocess.TimeoutExpired:
                    continue
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Hash of every input of the build: sources, resources, build files."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", os.path.relpath(HERE, ROOT)):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            for f in files
            if not any(x in ("target", "project/project") for x in
                       os.path.relpath(d, ROOT).split(os.sep)))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")) or "/resources/" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(timeout):
    """Compile engine + harness once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft/SparkEntry.scala not found)")
    if not os.path.isfile(os.path.join(HERE, "build.sbt")):
        fail(f"harness build file missing in {HERE}")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    code = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, log, timeout, env)
    if code != 0:
        sys.stderr.write(tail(log))
        fail("build failed" if code is not None else "build timed out")
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, work, args):
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Harness", *args]


def harness(cp, work, args, timeout):
    """Run the harness JVM; returns its parsed result file."""
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "harness.log")
    code = run_bounded(java_cmd(cp, work, [*args, "--work", work, "--out", out]),
                       ROOT, log, timeout)
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write(tail(log))
        fail("harness timed out" if code is None else f"harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build(timeout=700)
    work = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(min(4, os.cpu_count() or 1))]
    if a.workload == "gates_warm":
        args += ["--data", os.path.join(HERE, "data", "sf0.01"),
                 "--gates", os.path.join(HERE, "gates.json"),
                 "--rows", os.path.join(HERE, "expected_rows.json")]
    r = harness(cp, work, args, RUN_LIMIT_S)

    # keep the result and the spans; drop Spark scratch, inputs and outputs
    for name in os.listdir(work):
        if not (name == "result.json" or name.startswith("trace-")):
            p = os.path.join(work, name)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)

    wanted = PER_LAYER if a.trace else END_TO_END
    got = r["per_layer"] if a.trace else r["end_to_end"]
    # a workload reports 0 for the layers it never calls
    unused = GATE_LAYERS if a.workload == "osm_full" else OSM_LAYERS
    missing = [k for k in wanted if k not in got and
               not (a.trace and k.split(".")[0] in unused)]
    for f in r["failures"]:
        print(f"FAILED {f['op']} x{f['times']}: {f['cause']}", file=sys.stderr)
    for why in r["invalid"]:
        print(f"INVALID {why}", file=sys.stderr)
    if missing:
        print(f"MISSING metrics: {', '.join(missing)}", file=sys.stderr)
    metrics = {k: {"value": float(got.get(k, 0.0)), "unit": u}
               for k, u in wanted.items()}
    print(f"{a.workload} seed {a.seed}: {r['passes']} passes", file=sys.stderr)
    print(json.dumps({
        "correct": r["failed"] == 0 and not r["invalid"] and not missing,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
