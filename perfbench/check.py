"""Output check, computed apart from the program.

Models the reference semantics that SURVEY.md and FIXTURES.md document,
from the generated inputs alone, and compares every timed operation's
outputs with it:

  ingest     raw copy and raw_sha256 equal the source file;
  validate   verdict and quarantine placement (CSV type and null probes
             cover the first 200 rows; JSONL is checked on every line;
             HL7 needs a PID segment with PID-3/5/7 in every message);
  scrub      curated content from an independent rule fold (rules in
             rule_id order, case-insensitive, PHI columns as tokens), the
             curated SHA-256 and the applied-rule set;
  transform  canonical rows in qlm_ready as a multiset, read from the
             curated file, and final_sha256 of the artifact;
  lineage    each response against the control tables folded here;
  upsert / delete  the table at that commit, read here through its
             manifest, against a Hudi model (max precombine wins, ties go
             to the incoming row, deletes remove keys);
  reads      a digest of the collected rows against the same model.

An operation that differs counts as failed. A failure explained by one
of the program faults named in FAULTS keeps `correct` true; any other
difference makes it false.
"""
import csv
import datetime
import hashlib
import io
import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq

# PHI rule set v1 (FIXTURES.md section 5, db/init.sql:163-171) in
# rule_id order: the order the reference folds them in.
RULES = sorted([
    ("PHI_ADDRESS_SIMPLE", r"\b\d+\s+[A-Za-z0-9\.\- ]+\b", "[REDACTED_ADDRESS]"),
    ("PHI_DATE_ISO", r"\b\d{4}-\d{2}-\d{2}\b", "[REDACTED_DATE]"),
    ("PHI_DATE_YYYYMMDD", r"\b\d{8}\b", "[REDACTED_DATE]"),
    ("PHI_EMAIL", r"\b[\w.+-]+@[\w-]+\.[\w.-]+\b", "[REDACTED_EMAIL]"),
    ("PHI_PHONE", r"\b\d{3}-\d{3}-\d{4}\b", "[REDACTED_PHONE]"),
    ("PHI_SSN", r"\b\d{3}-\d{2}-\d{4}\b", "[REDACTED_SSN]"),
    ("PHI_SSN_DIGITS", r"\b\d{9}\b", "[REDACTED_SSN]"),
])
COMPILED = [(rid, re.compile(p, re.IGNORECASE | re.ASCII), r) for rid, p, r in RULES]

# Registered schemas (FIXTURES.md sections 1-3): name -> (type, nullable, phi)
FIELDS = {
    "hospital_a": {"patient_id": ("string", False, False), "patient_name": ("string", False, True),
                   "ssn": ("string", False, True), "dob": ("date", True, True),
                   "visit_date": ("date", True, False), "diagnosis": ("string", True, False),
                   "notes": ("string", True, False)},
    "clinic_b": {"id": ("string", False, False), "name": ("string", False, True),
                 "date_of_birth": ("date", True, True), "encounter": ("date", True, False),
                 "icd": ("string", True, False), "free_text": ("string", True, True)},
    "hospital_c_hl7": {"PID-3": ("string", False, False), "PID-5": ("string", False, True),
                       "PID-7": ("date", False, True), "PID-11": ("string", True, True),
                       "PID-17": ("string", True, True)},
}
CANONICAL = ["patient_id", "patient_name", "dob", "visit_date", "diagnosis", "note_text",
             "address", "ssn", "source"]
TABLE_COLS = CANONICAL + ["_commit_time"]
FAULTS = ("jsonl-sampled-validation", "transform-partial-hash", "hl7-trailing-newline-row")
# What hl7-trailing-newline-row adds to a batch's canonical rows.
EMPTY_HL7_ROW = (None,) * 8 + ("hospital_c_hl7",)


def sha256(data):
    return hashlib.sha256(data).hexdigest()


def fold(value):
    """Sequential rule fold; returns (scrubbed, ids of rules that fired)."""
    fired = []
    for rid, rx, repl in COMPILED:
        nxt = rx.sub(repl, value)
        if nxt != value:
            fired.append(rid)
        value = nxt
    return value, fired


def token_csv(col, dtype):
    n = col.lower()
    if "name" in n:
        return "[REDACTED_NAME]"
    if "dob" in n or "date" in dtype:
        return "[REDACTED_DATE]"
    return "[REDACTED]"


def token_jsonl(col):
    """JSONL keys the date token on the column name (scrub_phi.py:166-171)."""
    n = col.lower()
    if "name" in n:
        return "[REDACTED_NAME]"
    if "dob" in n or "date" in n:
        return "[REDACTED_DATE]"
    return "[REDACTED]"


COLUMN_RULE = {"[REDACTED_NAME]": "PHI_COLUMN_REDACT_NAME", "[REDACTED_DATE]": "PHI_COLUMN_REDACT_DATE",
               "[REDACTED]": "PHI_COLUMN_REDACT_GENERIC"}


def parses_as_date(v):
    """The generator writes ISO dates or tokens no date parser accepts."""
    try:
        datetime.date.fromisoformat(v)
        return True
    except ValueError:
        return False


# ---------------------------------------------------------------- per format

def csv_model(raw):
    rows = list(csv.reader(io.StringIO(raw.decode())))
    header, body = rows[0], rows[1:]
    fields = FIELDS["hospital_a"]
    errors = [c for c in fields if c not in header]
    for row in body[:200]:
        for c, v in zip(header, row):
            if c not in fields:
                continue
            dtype, nullable, _ = fields[c]
            if not nullable and v == "":
                errors.append("null:" + c)
            if dtype == "date" and v != "" and not parses_as_date(v):
                errors.append("type:" + c)
    curated, fired = [], set()
    for row in body:
        out = []
        for c, v in zip(header, row):
            if c in fields and fields[c][2]:
                t = token_csv(c, fields[c][0])
                fired.add(COLUMN_RULE[t])
                out.append(t)
            elif c in fields and v != "":
                s, f = fold(v)
                fired.update(f)
                out.append(s)
            else:
                out.append(v)
        curated.append(tuple(out))
    return {"valid": not errors, "rows": len(body), "header": header, "curated": curated,
            "fired": fired, "late_only": False}


def csv_canonical(curated_bytes):
    rows = list(csv.reader(io.StringIO(curated_bytes.decode())))
    header = rows[0]
    out = []
    for row in rows[1:]:
        r = {c: (v if v != "" else None) for c, v in zip(header, row)}
        out.append((r.get("patient_id"), r.get("patient_name"), r.get("dob"), r.get("visit_date"),
                    r.get("diagnosis"), r.get("notes"), None, None, "hospital_a"))
    return out


def jsonl_model(raw):
    fields = FIELDS["clinic_b"]
    lines = [ln for ln in raw.decode().split("\n") if ln.strip()]
    errors, curated, fired = [], [], set()
    for i, ln in enumerate(lines):
        try:
            rec = json.loads(ln)
            bad = not isinstance(rec, dict) or any(
                c not in rec for c, (_, nullable, _) in fields.items() if not nullable)
        except ValueError:
            rec, bad = None, True
        if bad:
            errors.append(i)
            continue
        out = {}
        for c, (_, _, phi) in fields.items():
            if phi:
                out[c] = token_jsonl(c)
                fired.add(COLUMN_RULE[out[c]])
            elif rec.get(c) is not None:
                v = str(rec[c])
                if v != "":
                    v, f = fold(v)
                    fired.update(f)
                out[c] = v
        curated.append(json.dumps(out, sort_keys=True))
    return {"valid": not errors, "rows": len(lines), "curated": curated, "fired": fired,
            "late_only": bool(errors) and min(errors) >= 200}


def jsonl_canonical(curated_bytes):
    out = []
    for ln in curated_bytes.decode().split("\n"):
        if not ln.strip():
            continue
        r = json.loads(ln)
        out.append((r.get("id"), r.get("name"), r.get("date_of_birth"), r.get("encounter"),
                    r.get("icd"), r.get("free_text"), None, None, "clinic_b"))
    return out


def hl7_messages(text):
    return [m.strip() for m in text.split("\n\n") if m.strip()]


def hl7_scrub(msg):
    pid = {int(f.split("-")[1]): f for f in FIELDS["hospital_c_hl7"]}
    out = []
    for line in msg.split("\n"):
        if line.startswith("PID|"):
            parts = line.split("|")
            for i, x in enumerate(parts):
                if i in pid and x.strip() != "":
                    if i == 5:
                        parts[i] = "[REDACTED_NAME]"
                    elif i == 7:
                        parts[i] = "[REDACTED_DATE]"
                    else:
                        s, _ = fold(x)
                        parts[i] = s if s != x else "[REDACTED]"
            out.append("|".join(parts))
        else:
            out.append(fold(line)[0])
    return "\n".join(out)


def hl7_model(raw):
    msgs = hl7_messages(raw.decode())
    errors = []
    for m in msgs:
        pid = next((ln for ln in m.split("\n") if ln.startswith("PID|")), None)
        if pid is None:
            errors.append("missing_PID_segment")
            continue
        parts = pid.split("|")
        for n in (3, 5, 7):
            if n >= len(parts) or parts[n].strip() == "":
                errors.append("missing_required:PID-%d" % n)
    return {"valid": not errors, "rows": len(msgs), "curated": [hl7_scrub(m) for m in msgs],
            "fired": {"PHI_HL7_POSITIONAL"}, "late_only": False}


def hl7_canonical(curated_bytes):
    out = []
    for m in hl7_messages(curated_bytes.decode()):
        lines = m.split("\n")
        pid = next((ln for ln in lines if ln.startswith("PID|")), None)
        parts = pid.split("|") if pid is not None else []

        def fld(n):
            return parts[n].strip() if n < len(parts) else None
        ssn = next((v for v in (fld(16), fld(17), fld(19)) if v), None)
        obx = [ln for ln in lines if ln.startswith("OBX|")]
        out.append((fld(3), fld(5), fld(7), None, None, " ".join(obx) if obx else None,
                    fld(11), ssn, "hospital_c_hl7"))
    return out


MODELS = {"hospital_a": (csv_model, csv_canonical), "clinic_b": (jsonl_model, jsonl_canonical),
          "hospital_c_hl7": (hl7_model, hl7_canonical)}


def curated_matches(source, model, data):
    if source == "hospital_a":
        rows = list(csv.reader(io.StringIO(data.decode())))
        return rows[0] == model["header"] and sorted(map(tuple, rows[1:])) == sorted(model["curated"])
    if source == "clinic_b":
        got = [json.dumps(json.loads(ln), sort_keys=True) for ln in data.decode().split("\n") if ln.strip()]
        return sorted(got) == sorted(model["curated"])
    return sorted(hl7_messages(data.decode())) == sorted(model["curated"])


# ------------------------------------------------------------ control plane

def read_table(path):
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    rows = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def fold_batches(lake):
    """Current batch state: per batch and field, the value of the newest
    event that set it; ingest_time is the first event's time."""
    state = {}
    for ev in read_table(os.path.join(lake, "_control", "provenance_batch_events")):
        b = state.setdefault(ev["batch_id"], {"batch_id": ev["batch_id"], "_t": {}})
        b["ingest_time"] = min(b.get("ingest_time", ev["event_time"]), ev["event_time"])
        for k, v in ev.items():
            if k in ("batch_id", "event_time") or v is None:
                continue
            if k == "total_rows":
                b[k] = max(b.get(k, 0), v)
            elif ev["event_time"] >= b["_t"].get(k, ""):
                b[k], b["_t"][k] = v, ev["event_time"]
    return state


def by_batch(rows, time_key):
    out = {}
    for r in sorted(rows, key=lambda r: r[time_key]):
        out.setdefault(r["batch_id"], []).append(r)
    return out


# ------------------------------------------------------------------- check

class Checker:
    def __init__(self, inputs, out, ops):
        self.inputs, self.out, self.ops = inputs, out, ops
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.files = json.load(f)["files"]
        self.attempted = self.failed = 0
        self.faults = {k: 0 for k in FAULTS}
        self.errors = []

    def op(self, ok, what, fault=None):
        """Counts one operation; a failure with a named fault is expected."""
        self.attempted += 1
        if ok:
            return
        self.failed += 1
        if fault:
            self.faults[fault] += 1
        else:
            self.errors.append(what)

    def run(self):
        self.models = {}
        for e in self.files:
            with open(os.path.join(self.inputs, "tree", e["source"], e["file"]), "rb") as f:
                raw = f.read()
            self.models[(e["source"], e["file"])] = (e, raw, MODELS[e["source"]][0](raw))
        for r in sorted({o["round"] for o in self.ops}):
            ops = [o for o in self.ops if o["round"] == r]
            if self.files:
                self.check_pipeline(r, ops)
                self.check_lineage(r, ops)
            if os.path.exists(os.path.join(self.inputs, "lake_ops.tsv")):
                self.check_lake(r, ops)
        return {"correct": not self.errors, "attempted": self.attempted, "failed": self.failed,
                "faults": self.faults, "errors": self.errors[:20]}

    def check_pipeline(self, r, ops):
        lake = os.path.join(self.out, "round_%d" % r, "lake")
        state = fold_batches(lake)
        self.state = state
        steps = by_batch(read_table(os.path.join(lake, "_control", "provenance_steps")), "step_time")
        rules = by_batch(read_table(os.path.join(lake, "_control", "provenance_rules_applied")), "created_at")
        self.steps, self.rules = steps, rules
        stage = {o["kind"]: o["batches"] for o in ops if "batches" in o}
        ingested = stage["ingest"]
        seen = set()
        for bid in ingested:
            b = state.get(bid, {})
            src = b.get("source_name")
            name = os.path.basename(b.get("raw_file_path") or "")
            e, raw, m = self.models.get((src, name), (None, None, None))
            where = "round %d batch %s" % (r, bid)
            if e is None or (src, name) in seen:
                self.op(False, where + ": not a file of the tree")
                continue
            seen.add((src, name))
            prefix = "%s_%s_" % (src, name.replace(".", "_"))
            raw_copy = os.path.join(lake, "raw", src, name)
            quarantined = os.path.join(lake, "quarantine", src, name)
            copies = [p for p in (raw_copy, quarantined) if os.path.exists(p)]
            self.op(bid.startswith(prefix) and re.fullmatch(r"\d{14}", bid[len(prefix):]) is not None
                    and b.get("raw_sha256") == sha256(raw) and len(copies) == 1
                    and sha256(open(copies[0], "rb").read()) == sha256(raw), where + ": ingest")
            verdict = b.get("status") != "FAILED_VALIDATION"
            names = [s["step_name"] for s in steps.get(bid, [])]
            if m["valid"]:
                ok = verdict and b.get("total_rows") == m["rows"] and copies == [raw_copy]
            else:
                ok = not verdict and copies == [quarantined]
            fault = "jsonl-sampled-validation" if (not ok and m["late_only"] and verdict) else None
            self.op(ok, where + ": validate", fault)
            expected_steps = (["INGEST", "VALIDATION_PASSED", "SCRUB_PHI", "TRANSFORM"] if verdict
                              else ["INGEST", "VALIDATION_FAILED"])
            if names != expected_steps:
                self.errors.append(where + ": steps %s" % names)
            self.check_batch_outputs(lake, bid, b, e, m, stage, where, fault)
        if seen != set(self.models):
            self.errors.append("round %d: %d of %d files ingested" % (r, len(seen), len(self.models)))

    def check_batch_outputs(self, lake, bid, b, e, m, stage, where, fault):
        src = e["source"]
        scrubbed, transformed = bid in stage["scrub"], bid in stage["transform"]
        if not m["valid"] and not fault:
            if scrubbed or transformed:
                self.errors.append(where + ": quarantined batch went on")
            return
        if fault:
            # the reference quarantines this batch: its scrub and
            # transform are the same fault's consequence
            for done in (scrubbed, transformed):
                if done:
                    self.op(False, where, fault)
            return
        if not scrubbed or not transformed:
            self.errors.append(where + ": valid batch skipped a stage")
            return
        cpath = os.path.join(lake, "curated", src, e["file"])
        data = open(cpath, "rb").read() if os.path.exists(cpath) else b""
        got_rules = {x["rule_id"] for x in self.rules.get(bid, []) if x["action"] == "applied"}
        self.op(b.get("curated_path") == cpath and b.get("curated_sha256") == sha256(data)
                and curated_matches(src, m, data) and got_rules == m["fired"], where + ": scrub")
        vpath = b.get("version_path") or ""
        parts = sorted(f for f in os.listdir(vpath) if f.endswith(".parquet")) if os.path.isdir(vpath) else []
        rows = []
        for p in parts:
            rows.extend(tuple(x[c] for c in CANONICAL) for x in pq.read_table(os.path.join(vpath, p)).to_pylist())
        expected = MODELS[src][1](data)
        extra = Counter(rows)
        extra.subtract(Counter(expected))
        extra = {k: v for k, v in extra.items() if v}
        rows_ok = b.get("status") == "COMPLETED" and not extra
        hashes = [sha256(open(os.path.join(vpath, p), "rb").read()) for p in parts]
        if b.get("status") == "COMPLETED" and extra == {EMPTY_HL7_ROW: 1}:
            self.op(False, where, "hl7-trailing-newline-row")
        elif rows_ok and len(parts) == 1 and b.get("final_sha256") == hashes[0]:
            self.op(True, where)
        elif rows_ok and len(parts) > 1 and b.get("final_sha256") in hashes:
            self.op(False, where, "transform-partial-hash")
        else:
            self.op(False, where + ": transform (%d parts, rows_ok=%s)" % (len(parts), rows_ok))

    # ---- lineage: responses against the control tables folded above
    def check_lineage(self, r, ops):
        state = self.state
        order = sorted(state.values(), key=lambda b: b["ingest_time"], reverse=True)
        for o in (o for o in ops if o["kind"] == "lineage"):
            where = "round %d %s" % (r, o["path"])
            try:
                body = json.loads(o["body"])
            except ValueError:
                self.op(False, where + ": body")
                continue
            ep = o["endpoint"]
            path, _, query = o["path"].partition("?")
            q = dict(kv.split("=", 1) for kv in query.split("&") if kv)
            if ep in ("batch", "steps", "rules"):
                bid = path.rsplit("/", 1)[1]
                b = state[bid]
                if ep == "batch":
                    ok = o["code"] == 200 and all(body.get(k) == b.get(k) for k in (
                        "batch_id", "source_name", "raw_file_path", "raw_sha256", "status",
                        "curated_sha256", "curated_path", "final_sha256", "version_path")) \
                        and body.get("total_rows", 0) == b.get("total_rows", 0)
                elif ep == "steps":
                    ok = [s["step_name"] for s in body] == [s["step_name"] for s in self.steps.get(bid, [])]
                else:
                    ok = sorted(x["rule_id"] for x in body) == sorted(x["rule_id"] for x in self.rules.get(bid, []))
            else:
                want = [b for b in order if b.get("source_name") == (path.rsplit("/", 1)[1] if ep == "source" else q["source"])]
                if ep == "search":
                    want = [b for b in want if b.get("status") == q["status"]]
                want = [b["batch_id"] for b in want[:int(q["limit"])]]
                ok = o["code"] == 200 and [x["batch_id"] for x in body] == want
            self.op(ok, where)

    # ---- lake: every commit read here through its manifest, every read by digest
    def check_lake(self, r, ops):
        root = os.path.join(self.out, "round_%d" % r, "table")
        commits = {o["ordinal"]: o["commit"] for o in ops if o["kind"] in ("upsert", "delete")}
        states, cur = {}, {}
        lines = [ln.split("\t") for ln in open(os.path.join(self.inputs, "lake_ops.tsv")).read().split("\n") if ln]
        i, ordinal, reads = 0, 0, []
        while i < len(lines):
            kind, arg = lines[i][0], int(lines[i][1])
            if kind in ("upsert", "delete"):
                cid = commits[ordinal]
                cur = dict(cur)
                for row in lines[i + 1:i + 1 + arg]:
                    key = row[0]
                    if kind == "delete":
                        cur.pop(key, None)
                    elif key not in cur or row[3] >= cur[key][3]:
                        cur[key] = tuple(row) + (cid,)
                states[ordinal] = (cid, cur)
                ordinal += 1
                i += arg
            else:
                reads.append((kind, arg, ordinal - 1))
            i += 1
        for o in (o for o in ops if o["kind"] in ("upsert", "delete")):
            cid, want = states[o["ordinal"]]
            self.op(o["commit"] == cid and read_commit(root, cid) == want,
                    "round %d commit %d" % (r, o["ordinal"]))
        read_ops = [o for o in ops if o["kind"] in ("snapshot", "asof", "diff", "incremental")]
        for (kind, past, latest), o in zip(reads, read_ops):
            pid, pst = states[past]
            lid, lst = states[latest]
            if kind == "snapshot":
                want = table_lines(lst.values())
            elif kind == "asof":
                want = table_lines(pst.values())
            elif kind == "incremental":
                want = table_lines(v for v in lst.values() if v[-1] > pid)
            else:
                want = diff_lines(pst, lst)
            digest = sha256("\n".join(sorted(want)).encode())
            self.op(o["kind"] == kind and o["past"] == pid and o["latest"] == lid
                    and o["digest"] == digest and o["rows"] == len(want),
                    "round %d %s since %s" % (r, kind, pid))


def table_lines(rows):
    order = sorted(range(len(TABLE_COLS)), key=lambda i: TABLE_COLS[i])
    return ["\t".join("\\N" if row[i] is None else row[i] for i in order) for row in rows]


def diff_lines(a, b):
    payload = [c for c in CANONICAL if c != "patient_id"]
    cols = ["patient_id", "change_type"] + ["%s_%s" % (s, c) for c in payload for s in ("before", "after")]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for key in set(a) | set(b):
        ra, rb = a.get(key), b.get(key)
        pa = ra[1:len(CANONICAL)] if ra else None
        pb = rb[1:len(CANONICAL)] if rb else None
        change = "insert" if ra is None else "delete" if rb is None else "update" if pa != pb else None
        if change is None:
            continue
        vals = {"patient_id": key, "change_type": change}
        for j, c in enumerate(payload):
            vals["before_" + c] = pa[j] if pa else None
            vals["after_" + c] = pb[j] if pb else None
        row = [vals[c] for c in cols]
        out.append("\t".join("\\N" if row[i] is None else row[i] for i in order))
    return out


def read_commit(root, cid):
    """The table at commit `cid`, read through its manifest: every
    bucket's files under the commit that last wrote it."""
    rows = {}
    for line in open(os.path.join(root, cid, "manifest.tsv")).read().split("\n"):
        if not line or line.startswith("#"):
            continue
        bucket, writer = line.split("\t")[:2]
        for x in read_table(os.path.join(root, writer, "data", "_bucket=" + bucket)):
            rows[x["patient_id"]] = tuple(x[c] for c in TABLE_COLS)
    return rows


def check(inputs, out, ops):
    return Checker(inputs, out, ops).run()
