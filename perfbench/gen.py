"""Seeded input generators for the pipeline and lake benchmark.

Everything here is a pure function of (workload, seed): the same seed
writes byte-identical files. The clinical source trees follow the shapes
of the reference's synthetic generator (FIXTURES.md sections 1-3); the
lake operation stream is a list of upserts, deletes and reads over
canonical records keyed on patient_id with precombine visit_date.

Layout written under <out>:
  tree/<source>/<file>      the source tree one round ingests
  lineage.tsv               the lineage requests of one round
  lake_ops.tsv              the lake operation stream of one round
  manifest.json             the files of the tree and their defects
"""
import json
import os
import random

SOURCES = ("hospital_a", "clinic_b", "hospital_c_hl7")
CSV_HEADER = ["patient_id", "patient_name", "ssn", "dob", "visit_date",
              "diagnosis", "notes"]

FIRST = ["John", "Jane", "Alice", "Maria", "Pat", "Gary", "Lee", "Omar",
         "Nina", "Raj", "Chen", "Ana", "Tom", "Ivy", "Sam", "Eva"]
LAST = ["Doe", "Roe", "Poe", "Williams", "Smith", "Host", "Brown", "Khan",
        "Garcia", "Lopez", "Nguyen", "Kim", "Patel", "Moore", "Ruiz", "Li"]
DIAGNOSES = ["Hypertension", "Flu", "Migraine", "Diabetes", "Asthma",
             "Back pain", "Allergy", "Bronchitis"]
ICD = ["J10", "E11", "M54", "I10", "G43", "K21"]
STREETS = ["Main Street", "Elm Street", "Oak Avenue", "Pine Road",
           "Lake Drive", "Hill Lane"]
BAD_DATES = ["not-a-date", "unknown", "2025-13-45", "31st of never"]


def _date(rng, y0=1940, y1=2004):
    return "%04d-%02d-%02d" % (rng.randint(y0, y1), rng.randint(1, 12),
                               rng.randint(1, 28))


def _visit(rng):
    return "2025-%02d-%02d" % (rng.randint(1, 6), rng.randint(1, 28))


def _name(rng):
    return "%s %s" % (rng.choice(FIRST), rng.choice(LAST))


def _ssn(rng):
    return "%03d-%02d-%04d" % (rng.randint(100, 899), rng.randint(10, 99),
                               rng.randint(1000, 9999))


def _phone(rng):
    return "555-%03d-%04d" % (rng.randint(100, 999), rng.randint(0, 9999))


def _email(name):
    return name.lower().replace(" ", ".") + "@example.com"


def _note(rng, name, diag):
    """Free text with the PHI leaks of data_insert.py:58-68."""
    leak = rng.randrange(6)
    if leak == 0:
        tail = "Contact: " + _phone(rng)
    elif leak == 1:
        tail = "Email: " + _email(name)
    elif leak == 2:
        tail = "lives at %d %s" % (rng.randint(1, 999), rng.choice(STREETS))
    elif leak == 3:
        tail = "SSN %09d seen on %s" % (rng.randint(10 ** 8, 10 ** 9 - 1),
                                        _visit(rng).replace("-", ""))
    elif leak == 4:
        tail = "ssn " + _ssn(rng)
    else:
        tail = "follow up " + _visit(rng)
    return "Patient %s attended for %s. %s" % (name, diag, tail)


def csv_file(rng, n, first_id, bad=None):
    """hospital_a CSV (FIXTURES.md section 1). `bad` seeds one defect:
    missing_column drops the required ssn column, empty_required blanks
    a patient_name, bad_date puts an unparseable dob within the first
    200 rows."""
    cols = [c for c in CSV_HEADER if not (bad == "missing_column" and c == "ssn")]
    bad_row = rng.randrange(min(n, 200))
    lines = [",".join(cols)]
    records = 0
    for i in range(n):
        name = _name(rng)
        diag = rng.choice(DIAGNOSES)
        row = {"patient_id": "P%d" % (first_id + i), "patient_name": name,
               "ssn": _ssn(rng), "dob": _date(rng) if rng.random() < 0.9 else "",
               "visit_date": _visit(rng), "diagnosis": diag,
               "notes": _note(rng, name, diag)}
        if i == bad_row and bad == "empty_required":
            row["patient_name"] = ""
        if i == bad_row and bad == "bad_date":
            row["dob"] = rng.choice(BAD_DATES)
        lines.append(",".join(row[c] for c in cols))
        records += 1
    return "\n".join(lines) + "\n", records


def jsonl_file(rng, n, first_id, bad=None, invalid_at=None):
    """clinic_b JSONL (FIXTURES.md section 2). `bad` = invalid_line puts
    a non-JSON line at `invalid_at` (or a seeded position); missing_field
    drops the required name from one record."""
    if bad == "invalid_line" and invalid_at is None:
        invalid_at = rng.randrange(n + 1)
    bad_row = rng.randrange(n)
    lines = []
    for i in range(n):
        if bad == "invalid_line" and i == invalid_at:
            lines.append("this is { not json")
        name = _name(rng)
        rec = {"id": "C%d" % (first_id + i), "name": name,
               "date_of_birth": _date(rng), "encounter": _visit(rng),
               "icd": rng.choice(ICD),
               "free_text": "Complained of %s. Email: %s" % (
                   rng.choice(DIAGNOSES).lower(), _email(name))}
        if i == bad_row and bad == "missing_field":
            del rec["name"]
        lines.append(json.dumps(rec, separators=(",", ":")))
    if bad == "invalid_line" and invalid_at == n:
        lines.append("this is { not json")
    return "\n".join(lines) + "\n", n + (1 if bad == "invalid_line" else 0)


def hl7_file(rng, n, first_id, bad=None):
    """hospital_c_hl7 messages (FIXTURES.md section 3): name quoted at
    PID-5, SSN at PID-16. `bad` = missing_pid drops one PID segment."""
    bad_msg = rng.randrange(n)
    msgs = []
    for i in range(n):
        name = _name(rng)
        ts = "2025%02d%02d%02d%02d00" % (rng.randint(1, 6), rng.randint(1, 28),
                                         rng.randint(0, 23), rng.randint(0, 59))
        seg = ["MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|%s||ORU^R01|MSG%d|P|2.3"
               % (ts, first_id + i),
               'PID|1||H%d||"%s"||%s|%s|||%d %s|||||%s' % (
                   first_id + i, name, _date(rng).replace("-", ""),
                   rng.choice("MF"), rng.randint(1, 999), rng.choice(STREETS),
                   _ssn(rng)),
               "OBR|1||ORD%d|TEST^TESTNAME" % (first_id + i),
               "OBX|1|ST|RESULT||%d|units||N" % rng.randint(1, 200)]
        if i == bad_msg and bad == "missing_pid":
            del seg[1]
        msgs.append("\n".join(seg))
    return "\n\n".join(msgs) + "\n", n


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(text)


# The defect kinds FIXTURES.md section 6 names, per format. Each
# small-files tree holds one bad file (a fixed rate), its source and kind
# chosen by the seed. An empty value is a defect only for CSV:
# the reference checks JSONL with JSON-Schema `required`, which an empty
# string satisfies.
SMALL_BAD = {"hospital_a": ["missing_column", "empty_required", "bad_date"],
             "clinic_b": ["invalid_line", "missing_field"],
             "hospital_c_hl7": ["missing_pid"]}


def small_tree(rng, root, files_per_source, records):
    """`files_per_source` good files per source plus one bad file, so
    that every tree has the same count of batches that reach each stage."""
    bad_src = rng.choice(SOURCES)
    bad_kind = rng.choice(SMALL_BAD[bad_src])
    entries = []
    next_id = 10000
    for src in SOURCES:
        for k in range(files_per_source + (src == bad_src)):
            bad = bad_kind if (src == bad_src and k == files_per_source) else None
            entries.append(_emit(rng, root, src, k, records, next_id, bad))
            next_id += records
    return entries


def _emit(rng, root, src, k, n, first_id, bad, invalid_at=None, name=None):
    if src == "hospital_a":
        text, recs = csv_file(rng, n, first_id, bad)
        fname = name or "2025-%02d-%02d_clinical.csv" % (1 + k // 28, 1 + k % 28)
    elif src == "clinic_b":
        text, recs = jsonl_file(rng, n, first_id, bad, invalid_at)
        fname = name or "clinical_2025-%02d-%02d.jsonl" % (1 + k // 28, 1 + k % 28)
    else:
        text, recs = hl7_file(rng, n, first_id, bad)
        fname = name or "msgs_%03d.hl7" % (k + 1)
    _write(os.path.join(root, src, fname), text)
    return {"source": src, "file": fname, "records": recs, "bad": bad}


def lake_ops(rng, bulk_rows, cycles, upsert_rows, delete_rows):
    """One round's lake stream. Commits are named by ordinal (0 = bulk
    load); each read names an earlier commit by ordinal. A cycle is
    upsert, upsert, delete, upsert, each followed by one read of each
    kind in turn. An upsert mixes higher, lower and equal precombine on
    live keys, new keys, and re-inserts of deleted keys; a delete hits
    live keys plus one key that never existed."""
    live, deleted, lines = {}, [], []
    next_key = [0]

    def new_key():
        next_key[0] += 1
        return "P%07d" % next_key[0]

    def rec(key, visit):
        name = _name(rng)
        diag = rng.choice(DIAGNOSES)
        return [key, name, _date(rng), visit, diag, _note(rng, name, diag),
                "%d %s" % (rng.randint(1, 999), rng.choice(STREETS)), _ssn(rng),
                rng.choice(SOURCES)]

    def upsert(rows):
        lines.append("upsert\t%d" % len(rows))
        for r in rows:
            if r[0] not in live or r[3] >= live[r[0]]:
                live[r[0]] = r[3]
            lines.append("\t".join(r))

    upsert([rec(new_key(), _visit(rng)) for _ in range(bulk_rows)])
    commits = 1
    reads = ("snapshot", "asof", "diff", "incremental")
    for c in range(cycles):
        for step in range(4):
            if step == 2:
                keys = rng.sample(sorted(live), delete_rows)
                for k in keys:
                    del live[k]
                deleted.extend(keys)
                lines.append("delete\t%d" % (delete_rows + 1))
                lines.extend(keys + [new_key()])
            else:
                chosen = rng.sample(sorted(live), upsert_rows // 2)
                third = len(chosen) // 3
                rows = [rec(k, _shift(live[k], 3 if i < third else -3 if i < 2 * third else 0))
                        for i, k in enumerate(chosen)]
                rows += [rec(deleted.pop(rng.randrange(len(deleted))), _visit(rng))
                         for _ in range(min(len(deleted), upsert_rows // 8))]
                rows += [rec(new_key(), _visit(rng)) for _ in range(upsert_rows - len(rows))]
                upsert(rows)
            commits += 1
            lines.append("%s\t%d" % (reads[(c * 4 + step) % 4], rng.randrange(commits - 1)))
    return "\n".join(lines) + "\n"


def _shift(visit, days):
    """A visit date moved by `days` (28-day months keep it simple)."""
    y, m, d = map(int, visit.split("-"))
    n = (m - 1) * 28 + (d - 1) + days
    return "%04d-%02d-%02d" % (y, n // 28 + 1, n % 28 + 1)


def lineage_requests(rng, n, batches, sources):
    """`n` requests spread evenly over the five endpoints. Batch
    requests name a batch by its ingest ordinal."""
    statuses = ["COMPLETED", "FAILED_VALIDATION"]
    out = []
    for i in range(n):
        kind = ("batch", "steps", "rules", "source", "search")[i % 5]
        if kind in ("batch", "steps", "rules"):
            out.append("%s\t%d" % (kind, rng.randrange(batches)))
        elif kind == "source":
            out.append("source\t%s\t%d" % (rng.choice(sources), rng.choice((5, 10, 20))))
        else:
            out.append("search\t%s\t%s\t%d" % (rng.choice(statuses), rng.choice(sources),
                                              rng.choice((5, 10, 20))))
    return "\n".join(out) + "\n"


# Per-workload make-up. One round takes tens of seconds on a 4-core
# host (about 100 ms per Spark job), so run.py's --seconds 10 gives one
# round per run.
WORKLOADS = {
    # per-batch orchestration, job dispatch and the control plane: one
    # small file per source, one seeded-bad file, and the two fixed
    # probe files of the jsonl-sampled-validation and
    # transform-partial-hash faults
    "pipeline_small_files": dict(files_per_source=1, records=40, lineage=5),
    # the versioned table: a bulk load, then small commits of every kind
    # with a read after each
    "lake_versioned": dict(lake=(1000, 2, 16, 4)),
}

# Fixed inputs, the same for every seed, of two program faults:
# 300 valid JSONL lines and one invalid line past the 200-row probe
# window, and a CSV large enough to be read as more than one split.
JSONL_PROBE = "clinical_9999-01-01.jsonl"
CSV_PROBE = "9999-01-01_clinical.csv"
CSV_PROBE_ROWS = 3000


def generate(workload, seed, out):
    spec = WORKLOADS[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    entries = []
    if "files_per_source" in spec:
        tree = os.path.join(out, "tree")
        entries = small_tree(rng, tree, spec["files_per_source"], spec["records"])
        fixed = random.Random(0)
        entries.append(_emit(fixed, tree, "clinic_b", 0, 300, 900000, "invalid_line",
                             invalid_at=300, name=JSONL_PROBE))
        entries.append(_emit(fixed, tree, "hospital_a", 0, CSV_PROBE_ROWS, 800000, None,
                             name=CSV_PROBE))
        _write(os.path.join(out, "lineage.tsv"),
               lineage_requests(rng, spec["lineage"], len(entries), SOURCES))
    if "lake" in spec:
        _write(os.path.join(out, "lake_ops.tsv"), lake_ops(rng, *spec["lake"]))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "files": entries}, f, indent=1, sort_keys=True)
