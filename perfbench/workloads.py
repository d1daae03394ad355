"""Workload definitions: seeded inputs, the operations the harness runs,
and the expected output of every operation.

An operation is a dict the harness reads (`id`, `kind`, `args` or
`name`) plus fields only this side uses (`check`, `input_bytes`,
`scan_kind`, `export`). Expectations are computed without graft: from
sqlite3 (Python's stdlib) over a mirror of the sqawk table, or from
what the generator knows about its own rows.
"""
import csv
import hashlib
import io
import json
import os
import random
import re
import sqlite3

WORDS = ["alpha", "bravo", "bar", "baz", "beta", "charlie", "delta", "echo",
         "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "bingo"]
OUTPUTS = ["awk", "csv", "json", "table"]
TINY = 200  # lines of each warm-up input

# Operators that may legitimately return no rows at sf0.1 (graft.Bench's
# documented `mayBeEmpty` set); any other empty result fails the vacuity gate.
MAY_BE_EMPTY = {"p13_dedup_ngram_jaccard", "q09_join_anti", "q21_except"}


def file_entry(path):
    h = hashlib.sha256()
    lines = 0
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
            lines += chunk.count(b"\n")
    return {"file": os.path.basename(path), "bytes": os.path.getsize(path),
            "lines": lines, "sha256": h.hexdigest()}


def _write(path, text):
    with open(path, "w", newline="") as f:
        f.write(text)


# ---------------------------------------------------------------- sqlite mirror

def _regexp(pattern, value):
    return 1 if value is not None and re.search(pattern, str(value)) else 0


def _regsub(pattern, value, sub):
    return re.sub(pattern, sub, "" if value is None else str(value), count=1)


def _lindex(value, i):
    parts = ("" if value is None else str(value)).split()
    return parts[i] if 0 <= i < len(parts) else ""


def _mirror(columns, rows):
    """An in-memory sqlite table `a` shaped like sqawk's: `anr` INTEGER
    PRIMARY KEY, `anf`, the raw line `a0`, then the fields declared
    INTEGER (sqawk's default), so SQLite applies the same affinity."""
    db = sqlite3.connect(":memory:")
    db.create_function("regexp", 2, _regexp)
    db.create_function("regsub", 3, _regsub)
    db.create_function("lindex", 2, _lindex)
    decl = ", ".join(f"{c} INTEGER" for c in columns)
    db.execute(f"CREATE TABLE a (anr INTEGER PRIMARY KEY, anf INTEGER, a0 TEXT, {decl})")
    marks = ", ".join("?" * (len(columns) + 3))
    db.executemany(f"INSERT INTO a VALUES ({marks})",
                   [(i + 1, len(f), line, *f) for i, (line, f) in enumerate(rows)])
    return db


def _render(db, v):
    """A value as sqawk prints it: NULL empty, REAL in SQLite's text form."""
    if v is None:
        return ""
    if isinstance(v, float):
        return db.execute("SELECT CAST(? AS TEXT)", (v,)).fetchone()[0]
    return str(v)


def _expect_sqlite(columns, rows, script):
    db = _mirror(columns, rows)
    stmts = [s for s in script.split(";") if s.strip()]
    out = []
    for s in stmts:
        cur = db.execute(s)
        if cur.description:
            out += [[_render(db, v) for v in r] for r in cur.fetchall()]
    return out


# ---------------------------------------------------------------- output parsing

def parse_output(fmt, text):
    """Rows of string values from a serializer's output."""
    if fmt == "awk":
        return [line.split(" ") for line in text.split("\n") if line != ""]
    if fmt == "csv":
        return [r for r in csv.reader(io.StringIO(text))]
    if fmt == "json":
        data = json.loads(text) if text.strip() else []
        return [list(r.values()) if isinstance(r, dict) else list(r) for r in data]
    if fmt == "table":
        rows = []
        for line in text.split("\n"):
            if line.startswith("│"):
                rows.append([c.strip() for c in line.split("│")[1:-1]])
        return rows
    raise ValueError(fmt)


# ---------------------------------------------------------------- cli-small

def _mixed(rng):
    r = rng.random()
    if r < 0.4:
        return str(rng.randint(0, 500))
    if r < 0.7:
        return f"{rng.randint(0, 500)}.5"
    return rng.choice(WORDS)


def gen_cli_small(rng, d, n=3000):
    """Five small inputs (awk whitespace, FS=',', quoted CSV, JSON lines,
    header TSV) and a fixed mix of six invocations over them, with output
    in awk, csv, json and table."""
    files, mirrors = {}, {}

    rows = []
    for _ in range(n):
        f = [rng.choice(WORDS), str(rng.randint(0, 999)), str(rng.randint(0, 99999)),
             _mixed(rng), "x" + rng.choice(WORDS)[:3]]
        rows.append((" ".join(f), f))
    files["ws"] = "ws.txt"
    _write(os.path.join(d, "ws.txt"), "".join(line + "\n" for line, _ in rows))
    mirrors["ws"] = (["a1", "a2", "a3", "a4", "a5"], rows)

    rows = []
    for _ in range(n):
        f = [rng.choice(WORDS[:8]), str(rng.randint(0, 999)), str(rng.randint(0, 999)),
             str(rng.randint(0, 99))]
        rows.append((",".join(f), f))
    files["comma"] = "comma.txt"
    _write(os.path.join(d, "comma.txt"), "".join(line + "\n" for line, _ in rows))
    mirrors["comma"] = (["a1", "a2", "a3", "a4"], rows)

    rows, text = [], []
    for _ in range(n):
        f = [f"{rng.choice(WORDS)}, {rng.choice(WORDS)}", str(rng.randint(0, 999)),
             _mixed(rng), rng.choice(WORDS)]
        text.append(f'"{f[0]}",{f[1]},"{f[2]}",{f[3]}')
        rows.append((None, f))
    files["quoted"] = "quoted.csv"
    _write(os.path.join(d, "quoted.csv"), "".join(t + "\n" for t in text))
    mirrors["quoted"] = (["a1", "a2", "a3", "a4"], rows)

    rows, text = [], []
    for i in range(n):
        name = rng.choice(WORDS) + str(rng.randint(0, 99))
        tags = " ".join(rng.choice(WORDS) for _ in range(3))
        score = rng.randint(0, 999)
        text.append(json.dumps({"id": i + 1, "name": name, "tags": tags, "score": score}))
        rows.append((None, [str(i + 1), name, tags, str(score)]))
    files["json"] = "lines.json"
    _write(os.path.join(d, "lines.json"), "".join(t + "\n" for t in text))
    mirrors["json"] = (["id", "name", "tags", "score"], rows)

    rows = []
    for i in range(n):
        f = [str(i + 1), rng.choice(WORDS), str(rng.randint(0, 50)), str(rng.randint(1, 999))]
        rows.append(("\t".join(f), f))
    files["tsv"] = "header.tsv"
    _write(os.path.join(d, "header.tsv"),
           "id\tname\tqty\tprice\n" + "".join(line + "\n" for line, _ in rows))
    mirrors["tsv"] = (["id", "name", "qty", "price"], rows)

    def path(k, tiny=False):
        return os.path.join(d, ("tiny_" if tiny else "") + files[k])

    # Warm-up copies: the first lines of each input, so the warm-up runs
    # every script shape (and compiles its code) at a small cost.
    for k, f in files.items():
        with open(path(k)) as src:
            head = [next(src) for _ in range(TINY + (k == "tsv"))]
        _write(path(k, True), "".join(head))

    w = rng.choice(WORDS)
    # One invocation per script kind, each with its own output format.
    # Constants are seeded; LIMITs and fixed group counts keep the rows each
    # one prints the same for every seed, so the work per lap does not
    # depend on the seed.
    scripts = [
        ("filter", "ws", "awk", [],
         f"select a1, a2, a3 from a where a2 > {rng.randint(700, 800)} "
         f"and a3 < {rng.randint(50000, 60000)} order by anr limit 100"),
        ("groupby", "comma", "csv", ["FS=,"],
         f"select a1, count(*), sum(a2), total(a3) from a "
         f"where a4 > {rng.randint(10, 20)} group by a1 order by a1"),
        ("mixedorder", "quoted", "json", ["format=csv"],
         f"select a3, a4 from a where anr % 40 = {rng.randint(0, 39)} order by a3, anr"),
        ("tclregex", "json", "table", ["format=json", "lines=1", "header=1"],
         f"select regsub('[0-9]+', name, '#'), lindex(tags, {rng.randint(0, 2)}) from a "
         f"where name REGEXP '^b' and tags GLOB '*a*' order by id limit 100"),
        ("dml", "tsv", "csv", ["header=1", "FS=\t"],
         f"update a set qty = qty + {rng.randint(1, 9)} where name = '{w}'; "
         f"delete from a where price < {rng.randint(100, 400)}; "
         f"insert into a (id, name, qty, price) values ({n + 1}, 'zz', 7, 1000); "
         f"select count(*), sum(qty), max(price) from a"),
        # sqlite3 answers an integer-truthy WHERE; graft fails it today
        # (DATATYPE_MISMATCH.FILTER_NOT_BOOLEAN), and the mix keeps it.
        ("inttruthy", "ws", "awk", [], "select count(*) from a where a2 % 2"),
    ]
    def op(op_id, src, fmt, opts, script, tiny):
        cols, rows = mirrors[src]
        return {"id": op_id, "kind": "cli",
                "args": ["-output", fmt, script] + opts + [path(src, tiny)],
                "input_bytes": os.path.getsize(path(src, tiny)),
                "check": {"type": "rows", "format": fmt, "expected": _expect_sqlite(
                    cols, rows[:TINY] if tiny else rows, script)}}

    warm = [op(f"warm_{kind}", *rest, tiny=True) for kind, *rest in scripts]
    timed = [op(kind, *rest, tiny=False) for kind, *rest in scripts]
    return warm, timed, [path(k) for k in files]


# ---------------------------------------------------------------- cli-bulk

def _csv_field(v):
    if any(c in v for c in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def gen_cli_bulk(rng, d, n):
    """Four large inputs of n lines (awk whitespace, regex FS, quoted CSV,
    JSON lines); aggregate-only scans over each ingest path, and filters
    that export most rows through the csv, json and awk serializers."""
    a2 = [rng.randint(0, 9999) for _ in range(n)]
    a3 = [rng.randint(0, 999999) for _ in range(n)]
    w1 = rng.choices(WORDS, k=n)
    w4 = rng.choices(WORDS, k=n)
    cut = 2000  # exports keep 80% of the rows for every seed

    def make(prefix, m):
        p = {k: os.path.join(d, prefix + f) for k, f in
             [("ws", "ws.txt"), ("re", "re.txt"), ("csv", "quoted.csv"), ("json", "lines.json")]}
        ws_lines = [f"{w1[i]} {a2[i]} {a3[i]} {w4[i]} {i}" for i in range(m)]
        _write(p["ws"], "".join(line + "\n" for line in ws_lines))
        _write(p["re"], "".join(f"{w1[i]}:{a2[i]};{a3[i]}:{w4[i]}\n" for i in range(m)))
        csv_a1 = [f"{w1[i]}, {w4[i]}" for i in range(m)]
        csv_a3 = [f'say "{w4[i]}"' for i in range(m)]
        _write(p["csv"], "".join(
            f'"{csv_a1[i]}",{a2[i]},"{csv_a3[i].replace(chr(34), chr(34) * 2)}",{a3[i]}\n'
            for i in range(m)))
        _write(p["json"], "".join(
            f'{{"k": "{w1[i]}", "n": {a2[i]}, "v": {a3[i]}, "t": "{w4[i]}"}}\n'
            for i in range(m)))

        agg = f"{m} {sum(a2[:m])} {max(a3[:m])}"
        scans = [
            ("awk", [p["ws"]], "select count(*), sum(a2), max(a3) from a", agg),
            ("awk_nosplit", ["FS=x^", p["ws"]], "select count(*), sum(length(a1)), 0 from a",
             f"{m} {sum(len(s) for s in ws_lines)} 0"),
            ("awk_nof0", ["F0=0", p["ws"]], "select count(*), sum(a2), max(a3) from a", agg),
            ("awk_fields13", ["fields=1,3", p["ws"]], "select count(*), 0, max(a2) from a",
             f"{m} 0 {max(a3[:m])}"),
            ("awk_regexfs", ["FS=[:;]", p["re"]], "select count(*), sum(a2), max(a3) from a", agg),
            ("csv", ["format=csv", p["csv"]], "select count(*), sum(a2), max(a4) from a", agg),
            ("json", ["format=json", "lines=1", "header=1", p["json"]],
             "select count(*), sum(n), max(v) from a", agg),
        ]
        keep = [i for i in range(m) if a2[i] >= cut]
        exports = [
            ("csv", ["format=csv", p["csv"]], f"select a1, a2, a3 from a where a2 >= {cut}",
             "".join(f"{_csv_field(csv_a1[i])},{a2[i]},{_csv_field(csv_a3[i])}\n" for i in keep)),
            ("json", ["format=json", "lines=1", "header=1", p["json"]],
             f"select k, n, t from a where n >= {cut}",
             "[" + ",".join(f'{{"k":"{w1[i]}","n":"{a2[i]}","t":"{w4[i]}"}}' for i in keep)
             + "]\n"),
            ("awk", [p["ws"]], f"select a1, a2, a3, a5 from a where a2 >= {cut}",
             "".join(f"{w1[i]} {a2[i]} {a3[i]} {i}\n" for i in keep)),
        ]

        def op(op_id, fmt, fargs, script, expected, **extra):
            body = expected.encode()
            return {"id": prefix + op_id, "kind": "cli", "args": ["-output", fmt, script] + fargs,
                    "input_bytes": os.path.getsize(fargs[-1]),
                    "check": {"type": "sha256", "sha256": hashlib.sha256(body).hexdigest(),
                              "bytes": len(body)}, **extra}

        return ([op(f"scan_{k}", "awk", fa, sc, ex + "\n", scan_kind=k) for k, fa, sc, ex in scans]
                + [op(f"export_{f}", f, fa, sc, ex, export=True, rows=len(keep))
                   for f, fa, sc, ex in exports]), list(p.values())

    # Warm-up on 200-line copies: one awk scan (the session's first
    # invocation) and the three exports.
    warm = [o for o in make("tiny_", TINY)[0] if o["id"] == "tiny_scan_awk" or "export" in o]
    timed, paths = make("", n)
    return warm, timed, paths


def generate(workload, seed, d, bulk_lines):
    """(warm-up operations, timed operations, input paths) of a CLI workload."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "cli-small":
        return gen_cli_small(rng, d)
    return gen_cli_bulk(rng, d, bulk_lines)


# ---------------------------------------------------------------- sweeps

def sweep_ops(names, sf):
    return [{"id": name, "kind": "query", "name": name, "sf": sf,
             "check": {"type": "query_rows"}} for name in names]
