"""Seeded input generator with planted ground truth.

The same (workload, seed, size) always yields byte-identical files; the
benchmark prints their SHA-256 so two runs can show they saw the same
inputs. Every planted case is verdict-unambiguous:

* ETL rows carry at most one violation kind each, and each dirty row
  yields exactly one error entry, so per-type error counts equal the
  plant counts.
* Duplicate and unique-daily groups are otherwise clean rows.
* Outliers are placed by z-scores this generator computes itself, over
  the same rows (and with the same sample standard deviation) the
  pipeline's statistics cover; clean rows stay far below the threshold.
* Index-ingest increment docs are either exact copies of an earlier
  seen doc (must be dropped) or drawn from a fresh per-doc vocabulary
  (must be kept).

Usage: python3 gen.py <workload> <seed> <out_dir> [--small]
"""

import hashlib
import json
import math
import os
import random
import sys
import time

HEADER = ["timestamp", "line_id", "batch_number", "product_code",
          "temperature_c", "pressure_kpa", "humidity_pct", "operator_id",
          "defect_count"]
REQUIRED = ["timestamp", "line_id", "batch_number", "product_code",
            "temperature_c", "pressure_kpa", "operator_id", "defect_count"]
# row-level kinds draw one row each; UNIQUE / DUPLICATE draw a group
ROW_KINDS = ["REQUIRED_FIELD_MISSING", "NOT_NULL", "RANGE", "NUMERIC", "REGEX",
             "DATE_RANGE", "DATE_FORMAT", "LOOKUP", "OUTLIER",
             "REFERENTIAL_INTEGRITY"]
GROUP_KINDS = ["UNIQUE", "DUPLICATE"]
ERROR_TYPES = ROW_KINDS + GROUP_KINDS

N_PRODUCTS = 40
N_OPERATORS = 400
Z_THRESHOLD = 3.0
BASE_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC
ROW_STEP_S = 37          # clean timestamps are a 37-second grid

# workload sizes: (files, rows per file, dirty share, corrupt files)
ETL_SIZES = {
    "etl_glob": (4, 7500, 0.02, 0),
    "etl_batch": (6, 200, 0.10, 2),
}
ETL_SMALL = {"etl_glob": (2, 400, 0.10, 0), "etl_batch": (4, 120, 0.15, 2)}
# index_ingest: base docs, increments, docs per increment, dim
INDEX_SIZE = (1000, 1, 100, 32)
INDEX_SMALL = (600, 2, 60, 32)
COPY_SHARE = 0.3


def fmt_ts(epoch):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def products():
    letters = "ABCDEFGHIJ"
    return ["PROD-%s%d" % (letters[i // 4], i % 4 + 1) for i in range(N_PRODUCTS)]


def operators():
    return ["OP%04d" % (i + 1) for i in range(N_OPERATORS)]


def write_lines(path, lines):
    with open(path, "w", newline="\n") as f:
        for line in lines:
            f.write(line + "\n")


class EtlGen:
    """Rows of one run scope (one file for etl_batch, the whole glob for
    etl_glob). Outlier z-scores are computed per scope."""

    def __init__(self, rng, prods, ops):
        self.rng = rng
        self.prods = prods
        self.ops = ops
        self.row_no = 0

    def clean_row(self):
        r = self.rng
        i = self.row_no
        self.row_no += 1
        ts = BASE_EPOCH + i * ROW_STEP_S
        return {
            "timestamp": fmt_ts(ts), "_ts": ts,
            "line_id": "LINE%03d" % r.randint(1, 20),
            "batch_number": "B%010d" % i,
            "product_code": r.choice(self.prods),
            "temperature_c": "%.2f" % r.uniform(140.0, 160.0),
            "pressure_kpa": "%.2f" % r.uniform(400.0, 500.0),
            "humidity_pct": "" if r.random() < 0.05 else "%.2f" % r.uniform(30.0, 60.0),
            "operator_id": r.choice(self.ops),
            "defect_count": str(r.randint(0, 5)),
        }

    def plant(self, row, kind, not_null_len):
        r = self.rng
        if kind == "REQUIRED_FIELD_MISSING":
            row[r.choice(REQUIRED)] = ""
        elif kind == "NOT_NULL":
            # whitespace-only: only batch_number has no other rule that a
            # blank value trips; a per-scope unique width keeps it clear
            # of the unique-daily window
            row["batch_number"] = " " * not_null_len
        elif kind == "RANGE":
            f = r.choice(["pressure_kpa", "humidity_pct", "defect_count"])
            row[f] = {"pressure_kpa": "%.2f" % r.uniform(1000.5, 1500.0),
                      "humidity_pct": "%.2f" % r.uniform(100.5, 150.0),
                      "defect_count": str(-r.randint(1, 50))}[f]
        elif kind == "NUMERIC":
            f = r.choice(["temperature_c", "pressure_kpa", "humidity_pct", "defect_count"])
            row[f] = r.choice(["N/A", "err", "x12", "12..5"])
        elif kind == "REGEX":
            row["line_id"] = r.choice(["LINE12", "LN0001", "line001", "LINE0001"])
        elif kind == "DATE_RANGE":
            ts = (r.randint(1514764800, 1546300799) if r.random() < 0.5
                  else r.randint(4102444800, 4133980799))  # 2018 or 2100
            row["timestamp"] = fmt_ts(ts)
            row["_ts"] = None
        elif kind == "DATE_FORMAT":
            row["timestamp"] = r.choice(["not-a-date", "bad-ts", "unknown"])
            row["_ts"] = None
        elif kind == "LOOKUP":
            row["product_code"] = "PROD-X%02d" % r.randint(0, 99)
        elif kind == "OUTLIER":
            row["temperature_c"] = "%.2f" % (150.0 + r.choice([-1, 1]) * r.uniform(40.0, 45.0))
        elif kind == "REFERENTIAL_INTEGRITY":
            row["operator_id"] = "OP%04d" % r.randint(5000, 9999)
        row["_kind"] = kind

    def scope(self, n_rows, dirty_share):
        """n_rows rows with planted errors; returns (rows, plant counts)."""
        r = self.rng
        rows = [self.clean_row() for _ in range(n_rows)]
        for row in rows:
            row["_kind"] = None
        n_dirty = max(len(ERROR_TYPES) * 2, int(n_rows * dirty_share))
        # one slot per plant: row kinds take one row, groups 2-3 rows
        idx = list(range(n_rows))
        r.shuffle(idx)
        taken = set()
        counts = {k: 0 for k in ERROR_TYPES}
        not_null_len = 0
        pos = 0
        planted = 0
        k = 0
        while planted < n_dirty and pos < len(idx):
            kind = ERROR_TYPES[k % len(ERROR_TYPES)]
            k += 1
            anchor = idx[pos]
            pos += 1
            if anchor in taken:
                continue
            if kind in GROUP_KINDS:
                size = r.randint(2, 3)
                members = [anchor]
                for j in range(anchor + 1, n_rows):
                    if len(members) == size:
                        break
                    if j not in taken:
                        members.append(j)
                if len(members) < 2:
                    continue
                a = rows[anchor]
                # stay on the anchor's day: the unique window is daily
                if (a["_ts"] % 86400) > 86400 - 10:
                    continue
                for off, m in enumerate(members):
                    row = rows[m]
                    taken.add(m)
                    row["_kind"] = kind
                    if kind == "UNIQUE":
                        row["batch_number"] = a["batch_number"]
                        row["timestamp"] = fmt_ts(a["_ts"] + off)
                    else:
                        row["timestamp"] = a["timestamp"]
                        row["line_id"] = a["line_id"]
                        row["product_code"] = a["product_code"]
                counts[kind] += len(members)
                planted += len(members)
            else:
                taken.add(anchor)
                if kind == "NOT_NULL":
                    not_null_len += 1
                self.plant(rows[anchor], kind, not_null_len)
                counts[kind] += 1
                planted += 1
        self.fix_outliers(rows)
        return rows, counts

    def fix_outliers(self, rows):
        """Check every row's |z| against the threshold with the pipeline's
        statistics (mean and sample stddev over the parseable values)."""
        vals = []
        for row in rows:
            v = row["temperature_c"]
            try:
                vals.append(float(v))
            except ValueError:
                pass
        n = len(vals)
        mean = sum(vals) / n
        sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (n - 1))
        for row in rows:
            try:
                z = abs((float(row["temperature_c"]) - mean) / sd)
            except ValueError:
                continue
            if row["_kind"] == "OUTLIER":
                assert z > Z_THRESHOLD + 0.5, ("outlier too weak", z)
            else:
                assert z < Z_THRESHOLD - 0.5, ("clean row near threshold", z)


def gen_etl(workload, seed, out, small):
    n_files, n_rows, dirty, n_corrupt = (ETL_SMALL if small else ETL_SIZES)[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    prods, ops = products(), operators()
    os.makedirs(os.path.join(out, "csv"))
    write_lines(os.path.join(out, "products.csv"),
                ["ProductCode,ProductName"] + ["%s,Product %s" % (p, p) for p in prods])
    write_lines(os.path.join(out, "operators.csv"),
                ["OperatorID,Shift"] + ["%s,%s" % (o, "ABC"[i % 3]) for i, o in enumerate(ops)])
    gen = EtlGen(rng, prods, ops)
    files = []
    total = {k: 0 for k in ERROR_TYPES}
    if workload == "etl_glob":
        rows, counts = gen.scope(n_files * n_rows, dirty)
        chunks = [rows[i * n_rows:(i + 1) * n_rows] for i in range(n_files)]
        scopes = [(chunks[i], None) for i in range(n_files)]
    else:
        scopes = [gen.scope(n_rows, dirty) for _ in range(n_files)]
    for i, (rows, _) in enumerate(scopes):
        name = "production_data_%03d.csv" % i
        per_type = {k: 0 for k in ERROR_TYPES}
        for row in rows:
            if row["_kind"]:
                per_type[row["_kind"]] += 1
                total[row["_kind"]] += 1
        lines = [",".join(HEADER)] + [",".join(row[h] for h in HEADER) for row in rows]
        write_lines(os.path.join(out, "csv", name), lines)
        invalid = sum(per_type.values())
        files.append({"name": name, "rows": len(rows), "valid": len(rows) - invalid,
                      "invalid": invalid, "errors": per_type, "corrupt": False})
    for c in range(n_corrupt):
        # planted-corrupt files: one lacks a declared column, one has a
        # reordered header; both must fail in isolation
        rows, _ = gen.scope(n_rows, 0.0)
        name = "production_data_%03d.csv" % (n_files + c)
        if c % 2 == 0:
            hdr = [h for h in HEADER if h != "operator_id"]
        else:
            hdr = list(HEADER)
            hdr[1], hdr[2] = hdr[2], hdr[1]
        lines = [",".join(hdr)] + [",".join(row[h] for h in hdr) for row in rows]
        write_lines(os.path.join(out, "csv", name), lines)
        files.append({"name": name, "rows": len(rows), "corrupt": True})
    good = [f for f in files if not f["corrupt"]]
    expected = {
        "workload": workload, "seed": seed, "files": files,
        "rows": sum(f["rows"] for f in good),
        "total": sum(f["rows"] for f in good),
        "valid": sum(f["valid"] for f in good),
        "invalid": sum(f["invalid"] for f in good),
        # one error entry per dirty row by construction
        "error_count": sum(f["invalid"] for f in good),
        "errors": total,
        "input_bytes": sum(os.path.getsize(os.path.join(out, "csv", f["name"]))
                           for f in files),
    }
    return expected


def gen_index(seed, out, small):
    n_base, n_inc, per_inc, dim = INDEX_SMALL if small else INDEX_SIZE
    rng = random.Random("index_ingest:%d" % seed)
    vocab = ["w%04d" % i for i in range(3000)]
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(16)]

    def vec():
        c = rng.choice(centers)
        return [round(x + rng.gauss(0.0, 0.35), 4) for x in c]

    def base_text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60)))

    def doc_line(doc_id, text, emb):
        return json.dumps({"doc_id": doc_id, "text": text, "embedding": emb},
                          separators=(",", ":"))

    os.makedirs(os.path.join(out, "base"))
    os.makedirs(os.path.join(out, "stage"))
    seen = []  # (doc_id, text) of every doc seen so far
    lines = []
    for i in range(n_base):
        t = base_text()
        seen.append((i, t))
        lines.append(doc_line(i, t, vec()))
    write_lines(os.path.join(out, "base", "base.json"), lines)
    next_id = n_base
    batches = []
    for b in range(n_inc):
        lines, kept, dropped = [], [], []
        batch_seen = []
        for _ in range(per_inc):
            d = next_id
            next_id += 1
            if rng.random() < COPY_SHARE:
                _, t = rng.choice(seen)
                dropped.append(d)
            else:
                # fresh per-doc vocabulary: no shingle overlaps anything
                t = " ".join("f%dt%d" % (d, j) for j in range(rng.randint(30, 60)))
                kept.append(d)
            batch_seen.append((d, t))
            lines.append(doc_line(d, t, vec()))
        seen.extend(batch_seen)  # visible to later increments only
        write_lines(os.path.join(out, "stage", "inc_%03d.json" % b), lines)
        batches.append({"first_id": next_id - per_inc, "last_id": next_id - 1,
                        "kept": kept, "dropped": dropped})
    # the file source orders by modification time: make it strictly ascending
    for b in range(n_inc):
        p = os.path.join(out, "stage", "inc_%03d.json" % b)
        os.utime(p, (1700000000 + b * 10, 1700000000 + b * 10))
    files = ["base/base.json"] + ["stage/inc_%03d.json" % b for b in range(n_inc)]
    return {
        "workload": "index_ingest", "seed": seed, "base_docs": n_base,
        "increments": n_inc, "per_increment": per_inc, "dim": dim,
        "rows": n_inc * per_inc, "batches": batches,
        "input_bytes": sum(os.path.getsize(os.path.join(out, f)) for f in files[1:]),
    }


def tree_hash(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(workload, seed, out, small=False):
    os.makedirs(out)
    if workload in ETL_SIZES:
        expected = gen_etl(workload, seed, out, small)
    elif workload == "index_ingest":
        expected = gen_index(seed, out, small)
    else:
        raise ValueError("unknown workload %r" % workload)
    expected["input_sha256"] = tree_hash(out)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    exp = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], "--small" in sys.argv[4:])
    print(exp["input_sha256"])
