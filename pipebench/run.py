#!/usr/bin/env python3
"""Pipeline benchmark runner.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark code
from source with sbt (cached under .bench_build/ until a source file
changes), renders the workload's inputs from the seed, runs the workload in
one plain `java` process, checks the outputs against DuckDB, and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See pipebench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion_stream", "curation_gates")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E = {"latency_p50_ms": "ms", "cpu_ms_per_op": "ms", "setup_s": "s"}
GATES = ("dedup_clusters", "dedup_clusters_star", "graph_pagerank", "graph_triangles",
         "gold_alerts")
# Every per-layer metric, with its unit. A traced run reports all of them;
# a layer a workload does not exercise reads 0 there.
PER_LAYER = {
    "sources.lag_ms": "ms",
    "ingest.rows_in": "count", "ingest.rows_parsed": "count", "ingest.malformed_ratio": "ratio",
    "streaming.rounds": "count", "streaming.fires_per_s": "1/s", "streaming.batches": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms", "streaming.planning_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms", "streaming.driver_gap_p50_ms": "ms",
    "streaming.state_commit_p50_ms": "ms", "streaming.state_rows": "count",
    "streaming.dedup_dropped": "count",
    "catalog.append_p50_ms": "ms", "catalog.read_p50_ms": "ms", "catalog.files_written": "count",
    "catalog.bytes_written": "bytes", "catalog.bytes_written_per_input_byte": "ratio",
    "catalog.live_versions": "count", "catalog.bytes_live": "bytes",
    "gold.cycles": "count", "gold.cycle_p50_ms": "ms", "gold.cycle_p90_ms": "ms",
    "gold.pairs_out": "count", "gold.culled_cells": "count", "gold.jobs_per_cycle": "count",
    "gold.task_ms_per_cycle": "ms", "gold.shuffle_bytes_per_cycle": "bytes",
    "gold.spill_bytes": "bytes",
    "serving.reads": "count", "serving.serve_p50_ms": "ms", "serving.serve_p90_ms": "ms",
    "serving.unique_fires_ms": "ms", "serving.kpis_ms": "ms", "serving.distribution_ms": "ms",
    "serving.top_wind_ms": "ms", "serving.rows_scanned": "count",
    **{f"queries.{g}_ms": "ms" for g in GATES},
    "queries.passes": "count", "queries.gates_per_s": "1/s",
    **{f"operators.{g}.result_rows": "count" for g in GATES},
    "operators.jobs": "count", "operators.stages": "count", "operators.task_ms": "ms",
    "operators.driver_gap_ms": "ms", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    **{f"{layer}.self_ms": "ms" for layer in
       ("sources", "streaming", "catalog", "gold", "serving", "queries")},
    "spark.executor_cpu_ms": "ms", "jvm.peak_heap_mb": "MB",
}


def die(msg):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main/scala", "pipebench/src", "pipebench/build.sbt",
                 "pipebench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    """Compile the program plus the benchmark code; return the runtime classpath."""
    digest = source_digest(root)
    stamp = os.path.join(cache, "build.stamp")
    cp_file = os.path.join(root, "pipebench", "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(cache, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=os.path.join(root, "pipebench"), env=env, stdout=fh,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read()


def run_jvm(classpath, args, work):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "pbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"workload process failed ({rc})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft is missing")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    classpath = build(root, cache)

    work = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = os.path.join(work, "inputs")
        t = time.perf_counter()
        if a.workload == "medallion_stream":
            manifest = gen.render_stream(a.seed, a.seconds, inputs)
        else:
            manifest = gen.render_curation(a.seed, a.seconds, inputs)
        render_s = time.perf_counter() - t
        t = time.perf_counter()
        res = run_jvm(classpath, [a.workload, inputs, work, str(a.trace), str(a.cores)], work)
        jvm_s = time.perf_counter() - t
        t = time.perf_counter()
        if a.workload == "medallion_stream":
            problems = checks.check_stream(res["check"], manifest)
        else:
            problems = checks.check_curation(res["check"])
        for p in problems:
            print(f"[pipebench] check failed: {p}", file=sys.stderr)
        if res["failed"]:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.writelines(l for l in fh if l.startswith("[pbench]"))
        print(f"[pipebench] render {render_s:.1f} s, workload process {jvm_s:.1f} s, "
              f"checks {time.perf_counter() - t:.1f} s", file=sys.stderr)
        e2e = dict(res["e2e"], setup_s=res["e2e"]["setup_s"] + render_s)
        if a.trace:
            layers = dict(res["layers"], **{f"{k}.self_ms": v for k, v in res["self_ms"].items()})
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
            print("[pipebench] traced end-to-end: " + json.dumps(e2e), file=sys.stderr)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(cache, f"spans-{a.workload}-{a.seed}.jsonl"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        failed = res["failed"] + len(problems)
        out = {"correct": not problems and failed == 0, "attempted": res["attempted"],
               "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
