#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one workload per run.

    python3 perfbench/run.py --workload <query_suite|cdc_stream> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
(src/main) together with the benchmark's (perfbench/src) into
.bench_build/classes; later runs reuse that build while no source changed.
Each run starts one JVM running Spark as local[4], measures for --seconds,
checks the workload's output, and prints one JSON line as the last line of
stdout:

    {"correct": true, "attempted": n, "failed": n, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1 traces
every other unit of work (query pass or micro-batch) and reports the
per-layer metrics of the traced units plus the tracing overhead: the traced
units' latency percentiles minus the untraced units'.

Extra options, for the benchmark's own tests and for re-recording:
--tiny (a few seconds of the smallest inputs), --expected <file> (the
expected query outputs; default perfbench/expected/query_suite.json) and
--record <file> (write the observed query outputs there).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("query_suite", "cdc_stream")
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        fail(f"engine sources not found under {main}; run from a full checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def jars():
    """The Spark jars: $SPARK_JARS_DIR, else the directory build.sbt names."""
    where = os.environ.get("SPARK_JARS_DIR")
    if not where:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        where = m.group(1) if m else ""
    found = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not found:
        fail(f"no Spark jars in '{where}'; set SPARK_JARS_DIR")
    return found


def build():
    """Compile src/main and perfbench/src with scalac when any source changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = ":".join(jars())
    scala = [f for f in files if f.endswith(".scala")]
    print(f"[perfbench] compiling {len(scala)} Scala files", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", CLASSES, "-classpath", cp] + scala,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def run_jvm(args, traced, timeout_s=JVM_TIMEOUT_S):
    """One JVM run of the workload; returns its raw outcome."""
    work = os.path.join(BUILD, "work", args.workload)
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp)
    out = os.path.join(work, "outcome.json")
    data = os.path.join(HERE, "data", "sf0.001")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", CLASSES + ":" + ":".join(jars()), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--work", work, "--data", data, "--expected", args.expected,
            "--out", out, "--start-ms", str(int(time.time() * 1000))] +
           (["--tiny"] if args.tiny else []) +
           (["--record", os.path.abspath(args.record)] if args.record else []))
    env = dict(os.environ, SPARK_GRAFT_TRAIN_DIR=data)
    log_path = os.path.join(BUILD, f"{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
        # a stopped benchmark stops its JVM too
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: (proc.kill(), proc.wait(), sys.exit(3)))
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"{args.workload} JVM exited with {code}; log in {log_path}")
    with open(out) as fh:
        outcome = json.load(fh)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(BUILD, f"{args.workload}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return outcome


def percentile(xs, q, steps=400):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted average of
    all order statistics, steadier than one order statistic at the sample
    sizes here (a dozen queries, a dozen and a half files). A failed
    operation (None) is +inf and, having weight, makes the estimate +inf."""
    if not xs or any(x is None for x in xs):
        return math.inf
    s = sorted(xs)
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t) - log_beta)

    h = 1.0 / (n * steps)
    weights = [sum(density((i * steps + k + 0.5) * h) for k in range(steps)) * h
               for i in range(n)]
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def operation_latencies(samples):
    """One latency per operation: the median of its samples (its query
    passes, or a landed file's one freshness). An operation with a failed
    sample (None) failed: it is None, not dropped from the median."""
    return [None if not xs or any(x is None for x in xs) else statistics.median(xs)
            for xs in samples]


def end_to_end(o):
    latencies = operation_latencies(o["latencies_s"])
    return {
        "setup_s": o["setup_s"],
        "latency_p50_s": percentile(latencies, 0.5),
        "latency_p90_s": percentile(latencies, 0.9),
        "throughput_per_s": o["throughput_per_s"],
    }


def outcome_line(run, metrics, units):
    """The result line. A failed check, a failed operation or a non-finite
    metric makes the run incorrect, and then it reports no metrics."""
    messages = run["messages"] + [
        f"{k} is not finite: an operation failed" for k in units
        if not isinstance(metrics[k], (int, float)) or not math.isfinite(metrics[k])]
    if run["failed"]:
        messages.append(f"{run['failed']} of {run['attempted']} operations failed")
    for m in messages:
        print(f"[perfbench] CHECK FAILED: {m}", file=sys.stderr)
    return {
        "correct": not messages,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {} if messages else
        {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected", "query_suite.json"))
    ap.add_argument("--record")
    args = ap.parse_args()
    args.expected = os.path.abspath(args.expected)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    if args.record:
        if args.workload != "query_suite":
            fail("--record applies to query_suite only")
        outcome = run_jvm(args, traced=False, timeout_s=1800)
        print(f"[perfbench] recorded {outcome['attempted']} queries to {args.record}; "
              f"failures: {outcome['messages']}", file=sys.stderr)
        sys.exit(0 if outcome["correct"] else 1)

    run = run_jvm(args, traced=bool(args.trace))
    print(f"[perfbench] {args.workload} {json.dumps(run['extra'], sort_keys=True)}",
          file=sys.stderr)
    e2e = end_to_end(run)

    if args.trace:
        # per-layer numbers come from the traced units of work; the
        # overhead compares them with the untraced units of the same run
        metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
        unknown = set(run["layers"]) - set(metrics)
        if unknown:
            fail(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics.update(run["layers"])
        for q, name in ((0.5, "latency_p50_s"), (0.9, "latency_p90_s")):
            metrics[f"trace.overhead_{name}"] = (
                percentile(operation_latencies(run["traced_latencies_s"]), q) - e2e[name])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    result = outcome_line(run, metrics, units)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
