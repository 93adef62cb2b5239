#!/usr/bin/env python3
"""Engine and curation benchmark for graft.

    python3 perfbench/run.py --workload <engine-drain|engine-live>
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>] [--keep-work]

Run from the repository root. Builds the program offline if its sources
changed, generates the workload's inputs from the seed, runs the workload in
one JVM, checks its outputs against expectations computed here, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans are written to perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import build, checks, gentables, oracle, stats  # noqa: E402

WORKLOADS = ("engine-drain", "engine-live")
# The traced run's analytics pass runs on generated tables at this scale
# factor; its JIT warm-up pass uses the small one.
MIX_SF, WARM_SF = 0.02, 0.001
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    p.add_argument("--keep-work", action="store_true")
    return p.parse_args(argv)


def run_jvm(cp, args, work, data, warm, out, spans):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--data", data, "--warm-data", warm, "--out", out, "--spans", spans,
            "--cores", str(args.cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s (log: {log})")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    if "error" in res:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"workload raised {res['error']}")
    return res


def engine_metrics(res, seed):
    """End-to-end metrics and output checks of an engine workload."""
    spec = res["spec"]
    exp = checks.expected_for(seed, spec)
    problems, lags, batch_ms, rates = [], [], [], []
    for rnd in res["rounds"]:
        problems += checks.check_engine_round(rnd, spec, exp)
        try:
            lags.append(checks.round_lags(rnd, spec, exp))
        except ValueError as e:
            problems.append(str(e))
        batch_ms += rnd["batch_ms"]
        rates.append(spec["shards"] * spec["per_shard"] / rnd["wall_s"])
    records = spec["shards"] * spec["per_shard"] * len(res["rounds"])
    lags = np.concatenate(lags) if lags else np.zeros(0)
    m = {
        "records_per_s": stats.median(rates),
        "batch_commit_ms.p50": stats.median(batch_ms),
        "commit_lag_ms.p50": stats.percentile(lags, 50) if len(lags) else 0.0,
        "commit_lag_ms.p90": stats.percentile(lags, 90) if len(lags) else 0.0,
    }
    return m, records, problems


def mix_problems(res, data, work):
    """Oracle check of the traced run's analytics pass."""
    problems = []
    con = oracle.connect(data)
    digest = oracle.input_digest(data)
    for e in res["mix"]:
        sql = res["oracle_sql"].get(e["name"])
        if e["failed"]:
            problems.append(f"{e['name']}: {e['failed']}")
        elif sql is None:
            problems.append(f"{e['name']}: no oracle")
        else:
            why = oracle.compare(e["name"], sql, os.path.join(work, "out"), con, data,
                                 os.path.join(HERE, ".oracle-cache"), digest)
            if why:
                problems.append(f"{e['name']}: {why}")
    return problems


def per_layer_values(raw):
    """Reduce the traced run's raw per-layer observations: lists become
    their median (`.p50` and plain names) or max (`.max`)."""
    out = {}
    for k, v in raw.items():
        if isinstance(v, list):
            v = [x for x in v if x is not None]
            if not v:
                v = 0.0
            elif k.endswith(".max"):
                v = max(v)
            else:
                v = stats.median(v)
        out[k] = float(v)
    return out


def main(argv):
    args = parse(argv)
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"no program sources under {root}/src/main/scala/graft; run from the repository root")
    try:
        cp = build.classpath(root)
    except Exception as e:  # the build's own output went to stderr
        fail(str(e))
    t_setup = time.time()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "tables")
    warm = os.path.join(work, "warm-tables")
    try:
        if args.trace:
            gentables.generate(data, args.seed, MIX_SF)
            gentables.generate(warm, args.seed + 1, WARM_SF)
        spans = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
        if args.trace:
            os.makedirs(os.path.dirname(spans), exist_ok=True)
        res = run_jvm(cp, args, work, data, warm, os.path.join(work, "result.json"), spans)
        setup_s = res["timed_start_epoch_ms"] / 1000.0 - t_setup
        m, attempted, problems = engine_metrics(res, args.seed)
        if args.trace:
            problems += mix_problems(res, data, work)
        m["setup_s"] = setup_s
        m["heap_retained_mb"] = res["heap_retained_mb"]
        for p in problems:
            sys.stderr.write(f"perfbench check failed: {p}\n")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            declared = json.load(f)
        if args.trace:
            values = per_layer_values(res["per_layer"])
            metrics = {x["name"]: {"value": values[x["name"]], "unit": x["unit"]}
                       for x in declared["per_layer"]}
            sys.stderr.write("end-to-end under tracing: " + json.dumps(m) + "\n")
            if "listener_bridge" in res:
                dead = sum(len(v) for r in res["rounds"] for v in r["dead"].values())
                sys.stderr.write(f"QueryListenerBridge reported {res['listener_bridge']} "
                                 f"while the engine dead-lettered {dead} records\n")
        else:
            metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                       for x in declared["end_to_end"]}
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": 0,
                          "metrics": metrics}))
    finally:
        if not args.keep_work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
