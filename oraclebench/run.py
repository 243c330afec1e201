#!/usr/bin/env python3
"""Oracle-checked benchmark for the graft engine.

Runs one workload in one JVM, checks every timed result against DuckDB,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
See oraclebench/NOTES.md for the workloads, metrics and known defects.

Usage (from the root of a checkout):
  python3 oraclebench/run.py --workload graph_rounds --seed 1 --seconds 30 --trace 0

The first run builds the engine and the harness with build.py (scalac
from the Spark installation) into oraclebench/target. Each run generates
its inputs from --seed under .bench_work/ and deletes them afterwards;
the full result (provenance, every pass and operation, and the span file
of a traced run) is kept in .bench_results/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Each workload: its queries (SparkEntry names), the warm passes after
# the cold one (sized so a run stays near 45 s on a 4-core box; NOTES.md,
# Steadiness) and whether the traced run replays the io/core direct-call
# leg.
WORKLOADS = {
    "graph_rounds": {
        "queries": ["q148_pagerank"],
        "warm_passes": 3,
        "io_leg": False,
    },
    "ingest_roundtrip": {
        "queries": ["q32_schema_infer", "q33_csv_roundtrip", "q35_xlsx_roundtrip",
                    "q36_jdbc_roundtrip", "q34_stream_tumbling"],
        "warm_passes": 2,
        "io_leg": True,
    },
}
# Every per-layer metric a traced run reports; one a workload does not
# exercise (another workload's queries, the io leg on graph_rounds) is 0.
PER_LAYER = (
    [f"ops.{q}.{part}" for w in WORKLOADS.values() for q in w["queries"]
     for part in ("build_s", "collect_s")]
    + [f"spark.{m}" for m in ("jobs", "stages", "tasks", "plan_s", "idle_s", "task_s",
                              "busy_ratio", "gc_s", "spill_mib", "shuffle_rows",
                              "shuffle_write_mib")]
    + ["storage.retained_mib", "storage.persisted_rdds", "storage.scratch_mib",
       "streaming.queries", "streaming.batches", "streaming.batch_s", "core.infer_s"]
    + [f"io.{m}" for m in ("csv_export_s", "csv_import_s", "jdbc_write_s", "jdbc_read_s",
                           "xlsx_write_s", "xlsx_read_s", "rows_written", "bytes_written")]
    + ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s"])
SF = 0.01            # generated input scale: 60,000 lineitem rows
HEAP = "3g"          # fixed JVM heap (-Xms = -Xmx)
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"oraclebench: {msg}", file=sys.stderr)
    sys.exit(code)


def jvm(cp, work, args):
    """Run the harness JVM to completion; return its jvm.json and output dir."""
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, "out")
    log = os.path.join(work, "jvm.log")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={tmp}", f"-Dderby.stream.error.file={tmp}/derby.log",
              "-cp", cp, "graftbench.Main", "--out", out] + args)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=f, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s", 4)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    res = os.path.join(out, "jvm.json")
    if rc != 0 or not os.path.exists(res):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {rc}", 4)
    with open(res) as f:
        return json.load(f), out


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still unwinds, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[a.workload]
    root = os.getcwd()
    load1m = os.getloadavg()[0]
    try:
        cp, digest = build.build(root)
    except build.BuildError as e:
        fail(str(e), 3)

    work = os.path.join(root, ".bench_work", f"{a.workload}_s{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        phase = {"start": time.time()}
        data = os.path.join(work, "data")
        rows = gen.generate(data, a.seed, SF)
        phase["gen"] = time.time()
        cpus = str(len(os.sched_getaffinity(0)))
        res, out = jvm(cp, work, [
            "--data", data, "--cpus", cpus, "--queries", ",".join(w["queries"]),
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--warm-passes", str(w["warm_passes"]), "--trace", str(a.trace),
            "--io-leg", "1" if w["io_leg"] else "0"])
        phase["jvm"] = time.time()
        verdict = oracle.check(data, res["oracle_sql"], os.path.join(out, "results"))
        phase["oracle"] = time.time()
        ops = res["ops"]
        failed_ops = [o for o in ops if o["error"] or not verdict.get((o["query"], o["result"]))]
        attempted, failed = len(ops), len(failed_ops)
        if res.get("io_leg_error") is not None:
            attempted += 1
            failed += 1 if res["io_leg_error"] else 0

        passes = res["passes"]
        warm = [p["wall_s"] for p in passes if p["pass"] > 0 and not p["traced"]]
        if a.trace:
            traced = [p["wall_s"] for p in passes if p["pass"] > 0 and p["traced"]]
            layer = dict(res["per_layer"])
            layer["trace.pass_s"] = statistics.median(traced)
            layer["trace.untraced_pass_s"] = statistics.median(warm)
            layer["trace.overhead_s"] = layer["trace.pass_s"] - layer["trace.untraced_pass_s"]
            metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
        else:
            metrics = {
                "setup_s": res["setup_s"],
                "pass_s": statistics.median(warm),
                "cold_pass_s": passes[0]["wall_s"],
                "peak_heap_mib": res["peak_heap_mib"],
                "left_behind_mib": res["retained_mib"] + res["scratch_mib"],
            }
        provenance = dict(res["provenance"], **{
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_commit": git_commit(root), "source_digest": digest,
            "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus, "heap": HEAP,
            "load1m_before": load1m, "sf": SF, "input_rows": rows,
            "warm_passes": w["warm_passes"],
            "retained_mib": res["retained_mib"], "scratch_mib": res["scratch_mib"],
            "harness_s": {k: round(phase[k] - phase[p], 3) for p, k in
                          [("start", "gen"), ("gen", "jvm"), ("jvm", "oracle")]},
            "query_order": [p["order"] for p in passes],
            "pass_walls_s": [[p["pass"], p["traced"], p["wall_s"]] for p in passes],
            "failed_ratio": failed / attempted,
            "failed_ops": [[o["query"], o["pass"], o["error"] or "oracle mismatch"]
                           for o in failed_ops],
        })
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()},
        }
        keep = os.path.join(root, ".bench_results")
        os.makedirs(keep, exist_ok=True)
        stem = os.path.join(keep, f"{a.workload}_s{a.seed}_t{a.trace}_{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump({"result": result, "provenance": provenance, "ops": ops}, f, indent=1)
        if a.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
            shutil.copy(os.path.join(out, "spans.jsonl"), stem + "_spans.jsonl")
        print(json.dumps({"provenance": provenance}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_mib", "MiB"), ("_ratio", "ratio"),
                         ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
