#!/usr/bin/env python3
"""Benchmark of the sqawk-compatible CLI and the operator inventory.

    python3 perfbench/run.py --workload cli-small --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the program from source
(perfbench/build.py), makes the workload's inputs from the seed, runs
one JVM (perfbench/harness) with one closed-loop client on local[k],
checks every output, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A record of the run (host stamp, input manifest, per-operation times
and checks) is written under .bench_work/runs/. See perfbench/README.md.
"""
import argparse
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build as builder  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("cli-small", "cli-bulk", "operator-sweep")
CORES = max(1, min(4, len(os.sched_getaffinity(0))))
HEAP = "3g"
BULK_LINES = 60_000
# Timed laps per 15 s of --seconds. The lap count follows --seconds only,
# never how fast this machine is, so every run's statistics are over the
# same executions. The CLI workloads warm up on 200-line copies of their
# inputs; the sweep's lap 1 is cold (its first operator also pays the
# session's first query), lap 2 warm.
LAPS_PER_15S = {"cli-small": 2, "cli-bulk": 1, "operator-sweep": 2}
# The harness starts no operation after this much JVM uptime, and the JVM
# is killed after JVM_TIMEOUT_S, so a run always ends well inside 180 s.
DEADLINE_S = 150
JVM_TIMEOUT_S = 172
# The sweep: q10 first (its lap-1 run also pays the session's first query),
# the streaming row next in a still-fresh JVM (graft.Bench forks the
# s-family for that reason), then sorted names. Two ROADMAP perf-backlog
# rows (p62 with its fused graft_kmr_emit kernel, s10), plus one row per
# mechanism the CLI workloads bypass: shuffle aggregate (q10), the asof and
# range join operators (q39, q40). The other backlog rows, and GlobalRank
# (q45), do not fit the run budget.
SWEEP = ["q10_agg_group", "s10_stream_full_join", "p62_repeat_mining", "q39_asof_join",
         "q40_range_join"]
FAMILY = {"q": "Relational", "p": "Pipeline", "s": "Streaming"}
# Perf-backlog rows in the sweep, reported one by one in a traced run.
BACKLOG = ["p62_repeat_mining", "s10_stream_full_join"]
SCAN_KINDS = ["awk", "awk_nosplit", "awk_nof0", "awk_fields13", "awk_regexfs", "csv", "json"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2], v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def sf_dir(root):
    """The fixed sf0.1 tables: $SPARK_GRAFT_SF_DIR, else the sf0.1 row of
    TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
    if not m:
        raise RuntimeError("TESTDATA.md names no sf0.1 directory")
    return m.group(1).rstrip("/")


# ---------------------------------------------------------------- inputs

def prepare(root, workload, seed, work):
    """Inputs and operations for (workload, seed); generated once per seed
    and re-verified against the manifest on every run."""
    if workload == "operator-sweep":
        sf = sf_dir(root)
        files = sorted(f for f in os.listdir(sf) if f.endswith(".parquet"))
        manifest = [wl.file_entry(os.path.join(sf, name)) for name in files]
        return [], wl.sweep_ops(SWEEP, sf), {
            "source": "fixed read-only TESTDATA sf0.1 (generator seed 42); --seed does not "
                      "change it", "dir": sf, "files": manifest}

    # inputs are cached per seed and per version of the generator
    with open(wl.__file__, "rb") as f:
        gen = hashlib.sha256(f.read() + str(BULK_LINES).encode()).hexdigest()[:12]
    d = os.path.join(work, f"inputs-seed{seed}-{gen}")
    spec = os.path.join(d, "ops.json")
    if not os.path.exists(spec):
        for old in os.listdir(work):
            if old.startswith("inputs-"):
                shutil.rmtree(os.path.join(work, old), ignore_errors=True)
        os.makedirs(d)
        warm, ops, paths = wl.generate(workload, seed, d, BULK_LINES)
        files = [wl.file_entry(p) for p in paths]
        with open(spec + ".tmp", "w") as f:
            json.dump({"warm": warm, "ops": ops, "files": files}, f)
        os.rename(spec + ".tmp", spec)
    with open(spec) as f:
        s = json.load(f)
    files = [wl.file_entry(os.path.join(d, e["file"])) for e in s["files"]]
    if files != s["files"]:
        raise RuntimeError(f"inputs under {d} differ from their manifest")
    return s["warm"], s["ops"], {"source": f"generated from seed {seed}", "files": files}


# ---------------------------------------------------------------- JVM

def run_jvm(root, classes, jars, plan_path, result_path, log_path, work):
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
            "graftbench.Harness", plan_path, result_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness JVM timed out after {JVM_TIMEOUT_S}s; see {log_path}")
        finally:
            if proc.poll() is None:  # timed out, or this process was told to stop
                proc.kill()
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"harness JVM exited {rc}; see {log_path}")
    with open(result_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check(op, rec, pinned_rows):
    """(passed, wrong): wrong means the operation finished without an error
    but its output is not the expected one."""
    c = op["check"]
    if not rec["ok"]:
        return False, False
    if c["type"] == "rows":
        got = wl.parse_output(c["format"], rec.get("text", ""))
        ok = got == c["expected"]
    elif c["type"] == "sha256":
        ok = rec.get("sha256") == c["sha256"] and rec.get("bytes") == c["bytes"]
    else:
        rows = rec.get("rows", 0)
        if rows == 0 and op["name"] not in wl.MAY_BE_EMPTY:
            return False, False  # vacuity gate
        pin = pinned_rows.get(op["name"])
        ok = pin is None or rows == pin
    return ok, not ok


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The value at the highest percentile with at least ten samples beyond
    it (the 11th largest) and that percentile; the maximum when that
    percentile would not lie above the median (fewer than 21 samples)."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0.0
    if len(xs) < 21:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def per_op_walls(records, keep):
    walls = {}
    for r in records:
        if r["phase"] == "timed" and r["ok"] and keep(r):
            walls.setdefault(r["op"], []).append(r["wall_ns"] / 1e6)
    return walls


def end_to_end(workload, res, ops, records, passed):
    by_id = {o["id"]: o for o in ops}
    walls = per_op_walls(records, lambda r: not r["traced"])
    samples = [w for ws in walls.values() for w in ws]
    op_med = {k: median(v) for k, v in walls.items()}
    tail_ms, tail_pct = tail(samples)

    def rate(select, amount):
        """Work per second of wall time over the selected operations."""
        rs = [r for r in records if r["phase"] == "timed" and r["ok"] and not r["traced"]
              and select(by_id[r["op"]])]
        wall = sum(r["wall_ns"] for r in rs) / 1e9
        return sum(amount(by_id[r["op"]], r) for r in rs) / wall if wall else 0.0

    if workload == "operator-sweep":
        scan = rate(lambda o: True, lambda o, r: r.get("input_bytes", 0) / 1e6)
        rows = rate(lambda o: True, lambda o, r: r.get("rows", 0))
    elif workload == "cli-bulk":
        scan = rate(lambda o: "scan_kind" in o, lambda o, r: o["input_bytes"] / 1e6)
        rows = rate(lambda o: o.get("export"), lambda o, r: o["rows"])
    else:
        scan = rate(lambda o: True, lambda o, r: o["input_bytes"] / 1e6)
        rows = rate(lambda o: True, lambda o, r: len(o["check"]["expected"]))
    first = records[0]
    return {
        "setup_s": ("s", res["setup_s"]),
        "cold_cli_s": ("s", (first["end_ms"] - res["jvm_start_ms"]) / 1e3),
        "invoke_p50_ms": ("ms", median(op_med.values())),
        "invoke_tail_ms": ("ms", tail_ms),
        "scan_mb_s": ("MB/s", scan),
        "export_rows_s": ("rows/s", rows),
        "sweep_total_s": ("s", sum(op_med.values()) / 1e3),
        "sweep_geomean_ms": ("ms", geomean(op_med.values())),
        "pass_ratio": ("ratio", passed / len(records)),
        "rss_peak_mb": ("MB", res["rss_hwm_kb"] / 1024),
    }, {"invoke_tail_pct": tail_pct, "samples": len(samples), "op_median_ms": op_med}


def per_layer(res, ops, records):
    by_id = {o["id"]: o for o in ops}
    spans = res.get("spans", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["parent"] == -1]
    # Lap 1 is the lap an untraced run times; laps 2 and 3 only give the
    # trace overhead.
    rec_of = {(r["op"], r["lap"]): r for r in records if r["traced"]}
    roots = [s for s in roots if s["lap"] == 1
             and rec_of.get((s["op"], s["lap"]), {}).get("ok")]
    planning = res.get("planning", [])

    def tree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out += tree(c)
        return out

    def total(s, key):
        return sum(x.get(key, 0) for x in tree(s))

    def child(s, name):
        return next((c for c in children.get(s["id"], []) if c["name"] == name), None)

    def union_ms(intervals):
        t, end = 0, None
        for a, b in sorted(intervals):
            if end is None or a > end:
                t += b - a
                end = b
            elif b > end:
                t += b - end
                end = b
        return t

    def plan_sum(s, idx):
        start = s["start_ms"]
        stop = start + s["dur_ns"] / 1e6
        return sum(p[idx] for p in planning if start <= p[0] <= stop)

    def mean(f, rs=None):
        rs = roots if rs is None else rs
        return sum(f(s) for s in rs) / len(rs) if rs else 0.0

    cli = [s for s in roots if by_id[s["op"]]["kind"] == "cli"]
    wall = {s["id"]: s["dur_ns"] / 1e6 for s in roots}
    m = {
        "jvm.boot_s": ("s", res["jvm_boot_s"]),
        "cli.session.build_s": ("s", res["session_build_s"]),
        "cli.load_ms": ("ms", mean(lambda s: child(s, "cli.load")["dur_ns"] / 1e6, cli)),
        "cli.script_ms": ("ms", mean(lambda s: (child(s, "cli.script")["dur_ns"]
                                               - s.get("serializers.self_ns", 0)) / 1e6, cli)),
        "serializers.self_ms": ("ms", mean(lambda s: s.get("serializers.self_ns", 0) / 1e6, cli)),
        "serializers.rows": ("count", mean(lambda s: s.get("serializers.rows", 0), cli)),
        "serializers.bytes": ("bytes", mean(lambda s: s.get("serializers.chars", 0), cli)),
    }
    file_bytes = sum(rec_of[(s["op"], s["lap"])].get("input_bytes", by_id[s["op"]].get(
        "input_bytes", 0)) for s in roots)
    m["sources.scan_passes"] = ("ratio", sum(total(s, "input_bytes") for s in roots) / file_bytes
                                if file_bytes else 0.0)
    for kind in SCAN_KINDS:
        rs = [s for s in roots if by_id[s["op"]].get("scan_kind") == kind]
        m[f"sources.{kind}.scan_mb_s"] = ("MB/s", mean(
            lambda s: by_id[s["op"]]["input_bytes"] / 1e6 / (wall[s["id"]] / 1e3), rs))
    m.update({
        "catalyst.analysis_ms": ("ms", mean(lambda s: plan_sum(s, 1))),
        "catalyst.optimization_ms": ("ms", mean(lambda s: plan_sum(s, 2))),
        "catalyst.planning_ms": ("ms", mean(lambda s: plan_sum(s, 3))),
        "plans.rule_ms": ("ms", mean(lambda s: plan_sum(s, 4) / 1e6)),
        "codegen.compile_ms": ("ms", mean(lambda s: s.get("codegen.compile_ns", 0) / 1e6)),
        "codegen.compiles": ("count", mean(lambda s: s.get("codegen.compiles", 0))),
        "spark.jobs": ("count", mean(lambda s: total(s, "jobs"))),
        "spark.stages": ("count", mean(lambda s: total(s, "stages"))),
        "spark.tasks": ("count", mean(lambda s: total(s, "tasks"))),
        "spark.job_ms": ("ms", mean(lambda s: union_ms(
            [iv for x in tree(s) for iv in x.get("job_ms", [])]))),
        "driver.tail_ms": ("ms", mean(lambda s: wall[s["id"]] - union_ms(
            [iv for x in tree(s) for iv in x.get("job_ms", [])]))),
        "spark.executor_cpu_ms": ("ms", mean(lambda s: total(s, "cpu_ns") / 1e6)),
        "spark.executor_run_ms": ("ms", mean(lambda s: total(s, "run_ms"))),
        "spark.gc_ms": ("ms", mean(lambda s: total(s, "gc_ms"))),
        "spark.shuffle_read_bytes": ("bytes", mean(lambda s: total(s, "shuffle_read"))),
        "spark.shuffle_write_bytes": ("bytes", mean(lambda s: total(s, "shuffle_write"))),
        "spark.spill_bytes": ("bytes", mean(lambda s: total(s, "spill"))),
        "spark.peak_exec_mem_mb": ("MB", max([x.get("peak_mem", 0) for s in roots
                                              for x in tree(s)], default=0) / 2 ** 20),
        "spark.result_bytes": ("bytes", mean(lambda s: total(s, "result_bytes"))),
    })
    op_med = {k: median(v) for k, v in per_op_walls(records, lambda r: r["lap"] == 1).items()}
    for fam in ("Relational", "Pipeline", "Streaming"):
        m[f"queries.{fam}.total_s"] = ("s", sum(
            v for k, v in op_med.items() if by_id[k]["kind"] == "query"
            and FAMILY.get(k[0]) == fam) / 1e3)
    for name in BACKLOG:
        m[f"queries.{name}_s"] = ("s", op_med.get(name, 0.0) / 1e3)
    traced = per_op_walls(records, lambda r: r["lap"] == 3)
    untraced = per_op_walls(records, lambda r: r["lap"] == 2)
    common = [k for k in traced if k in untraced]
    base = sum(untraced[k][0] for k in common)
    m["trace_overhead"] = ("ratio", sum(traced[k][0] for k in common) / base if base else 0.0)
    return m


# ---------------------------------------------------------------- main

def main():
    # SIGTERM unwinds like an exception, so the harness JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("run from the root of a checkout: src/main/scala and build.sbt are missing")
    host = {"nproc": os.cpu_count(), "cores_used": CORES, "loadavg_start": loadavg(),
            "git_commit": git_commit(root)}
    cpu0 = cpu_times()
    try:
        classes, jars, build_s = builder.build(root)
    except (OSError, RuntimeError) as e:
        fail(f"build failed: {e}")
    host["build_s"] = build_s

    work = os.path.join(root, ".bench_work", a.workload)
    os.makedirs(work, exist_ok=True)
    try:
        t0 = time.time()
        warm, ops, manifest = prepare(root, a.workload, a.seed, work)
        prep_s = time.time() - t0
    except (OSError, RuntimeError) as e:
        fail(f"cannot prepare inputs: {e}")

    laps = max(3 if a.trace else 1, round(LAPS_PER_15S[a.workload] * a.seconds / 15))
    plan = {"master": f"local[{CORES}]", "laps": laps, "trace": bool(a.trace),
            "deadline_s": DEADLINE_S, "work": work, "warmup": warm, "timed": ops}
    if a.workload == "operator-sweep":
        # graft.Bench's session: Spark's ANSI default, one shuffle partition per core.
        plan["session_conf"] = {"spark.sql.ansi.enabled": "true",
                                "spark.sql.shuffle.partitions": str(CORES)}
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    result_path = os.path.join(work, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    try:
        res = run_jvm(root, classes, jars, plan_path, result_path,
                      os.path.join(work, "jvm.log"), work)
    except (OSError, RuntimeError) as e:
        fail(str(e), 1)
    host["loadavg_end"] = loadavg()
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[2] > cpu0[2]:
        # the host's CPU share taken from this machine while the run ran
        host["cpu_steal_pct"] = 100.0 * (cpu1[1] - cpu0[1]) / (cpu1[2] - cpu0[2])
        host["cpu_busy_pct"] = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[2] - cpu0[2])
    host["java_version"] = res["java_version"]
    host["spark_version"] = res["spark_version"]

    # Operator row counts pinned on the default sf0.1 tables.
    pinned = {}
    pin_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sweep_rows.json")
    if a.workload == "operator-sweep" and not os.environ.get("SPARK_GRAFT_SF_DIR"):
        with open(pin_path) as f:
            pinned = json.load(f)
    by_id = {o["id"]: o for o in warm + ops}
    records = res["records"]
    passed, wrong, detail = 0, [], []
    rows_seen = {}
    for r in records:
        op = by_id[r["op"]]
        ok, bad = check(op, r, pinned)
        passed += ok
        if bad:
            wrong.append(r["op"])
        if op["kind"] == "query" and r["ok"]:
            rows_seen.setdefault(r["op"], set()).add(r.get("rows"))
        detail.append({k: r.get(k) for k in ("op", "lap", "phase", "traced", "wall_ns", "ok",
                                             "error", "rows", "bytes")} | {"passed": ok})
    # Row counts of an operator must not change between executions.
    wrong += [k for k, v in rows_seen.items() if len(v) > 1]
    correct = not wrong and not res.get("truncated")

    e2e, extra = end_to_end(a.workload, res, ops, records, passed)
    layers = per_layer(res, warm + ops, records) if a.trace else {}
    chosen = layers if a.trace else e2e
    metrics = {k: {"value": v, "unit": u} for k, (u, v) in chosen.items()}

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "laps": laps,
              "trace": a.trace,
              "host": host, "inputs": manifest, "prepare_s": prep_s,
              "window_s": res["window_s"], "truncated": res.get("truncated"),
              "wrong_outputs": sorted(set(wrong)),
              "operator_rows": {k: sorted(v) for k, v in rows_seen.items()},
              "end_to_end": {k: v for k, (_, v) in e2e.items()} | extra,
              "per_layer": {k: v for k, (_, v) in layers.items()}, "executions": detail}
    runs = os.path.join(root, ".bench_work", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                                 f"{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": len(records),
                      "failed": len(records) - passed, "metrics": metrics}))


if __name__ == "__main__":
    main()
