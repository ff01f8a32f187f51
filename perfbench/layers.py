"""Per-layer metrics of a traced run.

Reads the spans the harness recorded around each call into a layer and
the census listener's jobs and SQL executions (trace.json), attributes
each job or execution to the span its start falls in, and reads the
versioned tables' manifests from disk. Counts and times are per round
unless the name says otherwise. Every per-layer metric is reported on
every workload; a layer the workload does not exercise reads 0.
"""
import json
import os
import statistics

STAGES = ("ingest", "validate", "scrub", "transform")
ENDPOINTS = ("batch", "steps", "rules", "source", "search")
READS = ("snapshot", "asof", "diff", "incremental")


def _within(spans, t_ms):
    t = t_ms * 1000
    return any(s["t0"] <= t <= s["t1"] for s in spans)


def _union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _median(xs):
    """Median of the samples; 0 where the workload has none."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def _files(path):
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]


def metrics(out, ops, res):
    with open(os.path.join(out, "trace.json")) as f:
        trace = json.load(f)
    spans, jobs = trace["spans"], trace["census"]["jobs"]
    execs = {e["id"]: e for e in trace["census"]["execs"]}
    rounds = res["rounds"]
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def jobs_in(names):
        ss = [s for n in names for s in named.get(n, [])]
        return [j for j in jobs if _within(ss, j["t0"])]

    m = {}
    stage_jobs, batches = 0, sum(len(o["batches"]) for o in ops if o["kind"] == "ingest")
    for st in STAGES:
        js = jobs_in([st])
        wall = sum(s["t1"] - s["t0"] for s in named.get(st, [])) / 1e6
        inside = _union_s([(j["t0"], max(j["t1"], j["t0"])) for j in js])
        stage_jobs += len(js)
        m[st + ".s"] = (wall / rounds, "s")
        m[st + ".jobs"] = (len(js) / rounds, "count")
        m[st + ".in_jobs_s"] = (inside / rounds, "s")
        m[st + ".outside_jobs_s"] = ((wall - inside) / rounds, "s")
    m["jobs_per_batch"] = (stage_jobs / max(batches, 1), "count")

    # control plane: executions whose plan writes or reads under _control/
    plane = [s for n in ("pipeline", "lineage") for s in named.get(n, [])]
    appends, compactions, reads = [], [], []
    for e in execs.values():
        if not _within(plane, e["t0"]):
            continue
        if "_compact_tmp" in e["out"]:
            compactions.append(e)
        elif "/_control/" in e["out"]:
            appends.append(e)
        elif any("/_control/" in p for p in e["reads"]):
            reads.append(e)
    dur = lambda es: sum(max(e["t1"] - e["t0"], 0) for e in es) / 1000.0  # noqa: E731
    control_ids = {e["id"] for e in appends + compactions + reads}
    m["control.appends"] = (len(appends) / rounds, "count")
    m["control.append_s"] = (dur(appends) / rounds, "s")
    m["control.reads"] = (len(reads) / rounds, "count")
    m["control.read_s"] = (dur(reads) / rounds, "s")
    m["control.compactions"] = (len(compactions) / rounds, "count")
    m["control.files"] = (_mean(
        len(_files(os.path.join(out, "round_%d" % r, "lake", "_control"))) for r in range(rounds)), "count")

    # data zones: every other job the four stages run
    data = [j for j in jobs_in(STAGES) if j["exec"] not in control_ids]
    for key, name, scale, unit in (("in", "bytes_read", 1, "B"), ("out", "bytes_written", 1, "B"),
                                   ("task_ms", "task_s", 1000.0, "s"), ("shuffle", "shuffle_bytes", 1, "B"),
                                   ("spill", "spill_bytes", 1, "B")):
        m["data." + name] = (sum(j[key] for j in data) / scale / rounds, unit)

    lineage = [o for o in ops if o["kind"] == "lineage"]
    for ep in ENDPOINTS:
        m["lineage.%s_ms" % ep] = (_median(o["ms"] for o in lineage if o["endpoint"] == ep), "ms")
    m["lineage.jobs_per_request"] = (len(jobs_in(["lineage." + e for e in ENDPOINTS])) / max(len(lineage), 1), "count")

    # versioned table: the bulk load (commit 0) is left out, as in write_cpu_ms
    commit_ops = [o for o in ops if o["kind"] in ("upsert", "delete")]
    commit_spans = sorted(named.get("vt.upsert", []) + named.get("vt.delete", []), key=lambda s: s["t0"])
    stream = [(o, s) for o, s in zip(commit_ops, commit_spans) if o["ordinal"] != 0]
    m["vt.upsert_ms"] = (_median(o["ms"] for o, _ in stream if o["kind"] == "upsert"), "ms")
    m["vt.delete_ms"] = (_median(o["ms"] for o, _ in stream if o["kind"] == "delete"), "ms")
    m["vt.jobs_per_commit"] = (_mean(
        sum(1 for j in jobs if _within([s], j["t0"])) for _, s in stream), "count")
    buckets, files, sizes = [], [], []
    for o, _ in stream:
        root = os.path.join(out, "round_%d" % o["round"], "table")
        with open(os.path.join(root, o["commit"], "manifest.tsv")) as f:
            lines = [ln.split("\t") for ln in f.read().split("\n") if ln and not ln.startswith("#")]
        buckets.append(sum(1 for ln in lines if ln[1] == o["commit"]))
        written = _files(os.path.join(root, o["commit"]))
        files.append(sum(1 for p in written if p.endswith(".parquet")))
        sizes.append(sum(os.path.getsize(p) for p in written))
    m["vt.buckets_rewritten_per_commit"] = (_mean(buckets), "count")
    m["vt.files_written_per_commit"] = (_mean(files), "count")
    m["vt.bytes_written_per_commit"] = (_mean(sizes), "B")
    read_ops = [o for o in ops if o["kind"] in READS]
    for k in READS:
        m["vt.%s_ms" % k] = (_median(o["ms"] for o in read_ops if o["kind"] == k), "ms")
    m["vt.jobs_per_read"] = (len(jobs_in(["vt." + k for k in READS])) / max(len(read_ops), 1), "count")
    m["vt.files_read_per_read"] = (_mean(o["files"] for o in read_ops), "count")

    m["jvm.gc_s"] = (res["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (res["heap_peak_mb"], "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
