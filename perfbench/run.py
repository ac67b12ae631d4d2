#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source, makes the
workload's inputs from the seed, runs one measurement in a fresh JVM, checks
the outputs and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ingest, pipeline_heavy (see
perfbench/README.md). With --trace 0 the result carries the end-to-end
metrics, with --trace 1 the per-layer ones; the traced run also writes a
report that maps each per-layer metric to the end-to-end metric it should
move.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ["ingest", "pipeline_heavy"]
STAR_SF = 0.01            # star scale for pipeline_heavy
DRAIN_FILES, DRAIN_ROWS = 32, 2500   # the standing backlog
LIVE_RATE = 15.0          # offered files/s in the traced live phase (open loop)
LIVE_ROWS = 300           # rows per live file
HARNESS_TIMEOUT_S = 170

# Per-layer metric -> (layer, the end-to-end metric @ workload it should
# move). Units and directions are in BENCHMARK.json.
LAYERS = {
    "streaming.batches": ("streaming", "throughput_per_s @ ingest"),
    "streaming.rows_per_batch": ("streaming", "throughput_per_s @ ingest"),
    "streaming.add_batch_ms": ("streaming", "op_latency_s, throughput_per_s @ ingest; ingest.freshness_p90_s"),
    "streaming.latest_offset_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.get_batch_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.query_planning_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.wal_commit_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.commit_offsets_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.trigger_ms": ("streaming", "ingest.freshness_p50_s"),
    "streaming.busy_share": ("streaming", "ingest.freshness_p90_s"),
    "streaming.backlog_files_max": ("streaming", "ingest.freshness_p90_s"),
    "gen.late_max_ms": ("generator", "run validity only"),
    "reader.panel_p50_s": ("queries", "ingest live-phase reader (write layout cost)"),
    "reader.panel_p90_s": ("queries", "ingest live-phase reader (write layout cost)"),
    "reader.panel_laps": ("queries", "ingest live-phase reader"),
    "etl.csv_read_s": ("etl", "throughput_per_s @ ingest"),
    "etl.normalize_s": ("etl", "throughput_per_s @ ingest"),
    "etl.fact_join_s": ("etl", "throughput_per_s @ ingest"),
    "etl.sink_write_s": ("etl", "throughput_per_s @ ingest"),
    "etl.dims_build_s": ("etl", "setup_s @ ingest"),
    "etl.rows_in": ("etl", "failed (must equal the generator's count)"),
    "etl.drop_customer": ("etl", "failed (must equal the generator's count)"),
    "etl.drop_invalid": ("etl", "failed (must equal the generator's count)"),
    "etl.product_default": ("etl", "failed (must equal the generator's count)"),
    "etl.drain_rows_per_s_1core": ("etl", "parallel efficiency = throughput_per_s @ ingest / this"),
    "tables.preload_s": ("Tables", "setup_s @ pipeline_heavy"),
    "tables.cache_mem_mb": ("Tables", "jvm.heap_peak_mb @ pipeline_heavy"),
    "tables.cold_scan_s": ("Tables", "setup_s @ pipeline_heavy"),
    "queries.construct_ms": ("queries", "op_latency_s @ pipeline_heavy; reader.panel_p50_s"),
    "plan.analysis_ms": ("plan", "op_latency_s @ pipeline_heavy; reader.panel_p50_s"),
    "plan.optimization_ms": ("plan", "op_latency_s @ pipeline_heavy; reader.panel_p50_s"),
    "plan.planning_ms": ("plan", "op_latency_s @ pipeline_heavy; reader.panel_p50_s"),
    "sched.jobs": ("sched", "op_latency_s, throughput_per_s @ pipeline_heavy"),
    "sched.stages": ("sched", "op_latency_s, throughput_per_s @ pipeline_heavy"),
    "sched.tasks": ("sched", "op_latency_s, throughput_per_s @ pipeline_heavy"),
    "sched.delay_ms": ("sched", "op_latency_s, throughput_per_s @ pipeline_heavy"),
    "exec.task_ms": ("exec", "throughput_per_s @ pipeline_heavy"),
    "exec.cpu_ms": ("exec", "throughput_per_s @ pipeline_heavy"),
    "exec.busy_share": ("exec", "throughput_per_s @ pipeline_heavy (a low share means overhead-bound)"),
    "exec.task_skew": ("exec", "workload.latency_p90_s @ pipeline_heavy"),
    "exec.shuffle_write_mb": ("exec", "throughput_per_s @ pipeline_heavy; jvm.heap_peak_mb"),
    "exec.shuffle_read_mb": ("exec", "throughput_per_s @ pipeline_heavy; jvm.heap_peak_mb"),
    "exec.spill_mb": ("exec", "throughput_per_s @ pipeline_heavy; jvm.heap_peak_mb"),
    "exec.gc_ms": ("exec", "throughput_per_s @ pipeline_heavy; jvm.heap_peak_mb"),
    "exec.staged_mb_peak": ("exec", "jvm.heap_peak_mb @ pipeline_heavy"),
    "scan.files_read": ("exec", "reader.panel_p50_s (live reader panels)"),
    "scan.metadata_ms": ("exec", "reader.panel_p50_s"),
    "pipeline.operators_s": ("operators", "throughput_per_s @ pipeline_heavy"),
    "pipeline.llm_s": ("llm", "throughput_per_s @ pipeline_heavy"),
    "pipeline.maintainers_s": ("streaming", "throughput_per_s @ pipeline_heavy"),
    "pipeline.sources_s": ("functions", "throughput_per_s @ pipeline_heavy"),
    "functions.zstd_mb_per_s": ("functions", "pipeline.sources_s -> throughput_per_s @ pipeline_heavy"),
    "functions.bz2_mb_per_s": ("functions", "pipeline.sources_s -> throughput_per_s @ pipeline_heavy"),
    "functions.lz4_mb_per_s": ("functions", "pipeline.sources_s -> throughput_per_s @ pipeline_heavy"),
    "functions.gzip_mb_per_s": ("functions", "pipeline.sources_s -> throughput_per_s @ pipeline_heavy"),
    "functions.zlib_mb_per_s": ("functions", "pipeline.sources_s -> throughput_per_s @ pipeline_heavy"),
    "ingest.freshness_p50_s": ("streaming", "live phase: due time to commit, per file"),
    "ingest.freshness_p90_s": ("streaming", "live phase: due time to commit, per file"),
    "workload.latency_p90_s": ("workload", "tail of the per-operation latency (query lap or micro-batch)"),
    "jvm.heap_peak_mb": ("Tables, exec", "peak heap in use after a collection, timed part"),
    "trace.overhead_pct": ("benchmark", "traced op_latency_s vs the untraced windows before and after it"),
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        die("no build.sbt naming the Spark jars (run from the repository root)")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        die("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(jars):
    """Compiles the engine and the harness with scalac into a directory
    named by the hash of the sources, so a build never touches classes a
    running harness may still load. Returns that directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-cp", cp] + srcs, stdout=sys.stderr)
    if r.returncode != 0:
        die("compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def generate(run_dir, workload, seed, seconds, trace):
    gen = [sys.executable, os.path.join(HERE, "gen.py")]
    if trace or workload == "pipeline_heavy":
        subprocess.run(gen + ["star", f"{run_dir}/star", "--seed", str(seed),
                              "--sf", str(STAR_SF)], check=True)
    if trace or workload == "ingest":
        live_files = int(LIVE_RATE * seconds) + 1 if trace else 0
        subprocess.run(gen + ["walmart", f"{run_dir}/walmart", "--seed", str(seed),
                              "--files", str(DRAIN_FILES), "--rows", str(DRAIN_ROWS),
                              "--live-files", str(live_files),
                              "--live-rows", str(LIVE_ROWS)], check=True)


def harness(jars, classes, run_dir, workload, seed, seconds, trace, cpus):
    work = f"{run_dir}/work"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    out = f"{run_dir}/result.json"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                                              os.path.join(jars, "*")]),
                      "perfbench.Main", "--workload", workload,
                      "--walmart", f"{run_dir}/walmart", "--star", f"{run_dir}/star",
                      "--work", work, "--seconds", str(seconds),
                      "--trace", "1" if trace else "0", "--cpus", str(cpus),
                      "--seed", str(seed), "--live_rate", str(LIVE_RATE),
                      "--python", sys.executable,
                      "--lander", os.path.join(HERE, "land.py"), "--out", out])
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", os.path.basename(run_dir) + ".log")
    with open(log, "w") as f:
        try:
            proc = subprocess.run(cmd, stdout=sys.stderr, stderr=f, timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness timed out after {HARNESS_TIMEOUT_S} s; log in {log}")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness exited {proc.returncode}; log in {log}")
    with open(out) as f:
        return json.load(f), work


def oracle_check(star, out):
    """Runs the repository's DuckDB oracle check (tools/check.py) over the
    query outputs under `out`. Returns (checked count, failure lines)."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        n = len(json.load(f))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), star, out],
                       capture_output=True, text=True)
    fails = [line for line in r.stdout.splitlines() if line.startswith("FAIL ")]
    if r.returncode != 0 and not fails:
        fails = [f"tools/check.py exited {r.returncode}: {r.stderr[-2000:]}"]
    return n, fails


def report(res, workload, run_dir):
    """The traced run's per-layer report, with each metric's mapping."""
    rows = []
    for m in SPEC["per_layer"]:
        layer, moves = LAYERS[m["name"]]
        rows.append({"name": m["name"], "value": res["layers"].get(m["name"]),
                     "unit": m["unit"], "layer": layer, "should_move": moves})
    self_time = {k: v for k, v in res["layers"].items() if k.startswith("self.")}
    rep = {"workload": workload, "per_layer": rows, "self_seconds": self_time}
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    path = os.path.join(BUILD, "reports", os.path.basename(run_dir) + ".json")
    with open(path, "w") as f:
        json.dump(rep, f, indent=1)
    for r in rows:
        v = r["value"]
        print(f"{r['name']:30s} {v if v is None else round(v, 4)!s:>12} "
              f"{r['unit']:7s} {r['layer']:10s} -> {r['should_move']}")
    print(f"report: {path}")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    jars = spark_jars()
    if not os.path.isdir(jars):
        die(f"Spark jar directory {jars} not found")
    classes = build(jars)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = time.time()
        generate(run_dir, a.workload, a.seed, a.seconds, a.trace)
        print(f"perfbench: inputs generated in {time.time() - t:.1f} s", file=sys.stderr)
        res, work = harness(jars, classes, run_dir, a.workload, a.seed, a.seconds,
                            a.trace, cpus)
        attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
        if res["checked"]:
            t = time.time()
            n, fails = oracle_check(f"{run_dir}/star", f"{work}/out")
            print(f"perfbench: oracle check of {n} queries took {time.time() - t:.1f} s",
                  file=sys.stderr)
            attempted += n
            failed += len(fails)
            errors += fails
        for e in errors:
            print(f"FAILED: {e}", file=sys.stderr)
        if a.trace:
            report(res, a.workload, run_dir)
            shutil.copy(f"{work}/spans.jsonl",
                        os.path.join(BUILD, "reports", os.path.basename(run_dir) + ".spans.jsonl"))
            metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                       for m in SPEC["per_layer"]}
        else:
            metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                       for m in SPEC["end_to_end"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
