"""Benchmark of the clinical pipeline, its versioned lake and its
lineage service, end to end.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), writes the seeded
inputs (perfbench/gen.py), starts the harness JVM once to run whole
rounds for at least S seconds, checks every output against
perfbench/check.py's independent model, and prints one JSON line:
correct, attempted, failed and the metrics (end-to-end with --trace 0,
per-layer with --trace 1).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_TIMEOUT_S = 150


def harness(cp, run_dir, out, seconds, trace):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spawn_ns = time.time_ns()
    # C1 only: in a cold JVM that lives for one round, C2's background
    # compiles doubled the process CPU time and moved with host load
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-Xms1g", "-Xmx1g", "-Xss4m", "-XX:-UsePerfData", *ADD_OPENS, "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
           "-cp", cp, "perfbench.Harness", "--inputs", os.path.join(run_dir, "inputs"),
           "--out", out, "--seconds", str(seconds), "--trace", str(trace),
           "--spawn-ns", str(spawn_ns)]
    log = out + ".log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("harness JVM failed (%s)" % code)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


STAGES = ("ingest", "validate", "scrub", "transform")
COMMITS = ("upsert", "delete")
READS = ("snapshot", "asof", "diff", "incremental")


def end_to_end(inputs, out, ops, res):
    """The end-to-end metrics. Each workload has one write path and one
    read path: the four stages and the lineage requests for the
    pipeline, commits and reads for the lake. Times are CPU time of the
    harness process (all threads), as a mean per operation: on a shared
    host the wall clock also counts the time other tenants hold the
    CPUs, and the mean weighs each route or read kind alike where a
    median would jump between them."""
    def cpu_ms(kinds):
        # the bulk load (commit 0) sets the table up; it is not a commit
        # of the stream
        return [o["cpu_ms"] for o in ops if o["kind"] in kinds and o.get("ordinal") != 0]
    if any(o["kind"] in STAGES for o in ops):
        # each stage call covers every pending batch: CPU of the four
        # calls per operation (one stage of one batch)
        batch_stages = sum(len(o["batches"]) for o in ops if o["kind"] in STAGES)
        write_ms = sum(cpu_ms(STAGES)) / batch_stages
        read_ms = statistics.mean(cpu_ms(("lineage",)))
        input_bytes = tree_bytes(os.path.join(inputs, "tree"))
    else:
        write_ms = statistics.mean(cpu_ms(COMMITS))
        read_ms = statistics.mean(cpu_ms(READS))
        input_bytes = os.path.getsize(os.path.join(inputs, "lake_ops.tsv"))
    stored = [tree_bytes(os.path.join(out, "round_%d" % r)) for r in range(res["rounds"])]
    values = {
        "setup_s": (res["setup_cpu_s"], "s"),
        "write_cpu_ms": (write_ms, "ms"),
        "read_cpu_ms": (read_ms, "ms"),
        "bytes_stored_per_input_byte": (statistics.mean(stored) / input_bytes, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    run_dir = os.path.join(ROOT, ".bench_run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    gen.generate(a.workload, a.seed, inputs)

    out = os.path.join(run_dir, "out")
    res = harness(cp, run_dir, out, a.seconds, a.trace)

    ops = [json.loads(line) for line in open(os.path.join(out, "ops.jsonl"))]
    verdict = check.check(inputs, out, ops)
    for err in verdict["errors"]:
        sys.stderr.write("check: %s\n" % err)

    if a.trace:
        metrics = layers.metrics(out, ops, res)
    else:
        metrics = end_to_end(inputs, out, ops, res)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if {m["name"]: m["unit"] for m in declared} != {k: v["unit"] for k, v in metrics.items()}:
        raise SystemExit("run: the metrics measured are not the metrics BENCHMARK.json declares")
    print(json.dumps({"correct": verdict["correct"], "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
