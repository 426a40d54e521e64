#!/usr/bin/env python3
"""graft's benchmark. Run from the root of a checkout:

  python3 perfbench/run.py --workload <catalog_short|iterative_tail|taar_nightly>
      --seed <n> --seconds <s> --trace <0|1>

It builds the program together with the driver (sbt, perfbench/build.sbt)
when the sources changed, makes the workload's inputs from the seed, runs
one measured pass on local[<cores>] in a fresh JVM, checks the outputs
(gate.py) and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The full record (host evidence, sample
counts, the drift-free counter table, spans) goes to
perfbench/.work/records/. Exit status is non-zero on any wrong output.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gate  # noqa: E402
import gen_nightly  # noqa: E402

ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "tables" / "sf0.01"
HEAP = "3g"
# every driver JVM of an invocation must end within this many seconds
# of the build's end, so the invocation ends within 180 s
RUN_BUDGET_S = 160
DEADLINE = None
ITERATIVE = ["q79_bfs_hops", "q82_pagerank_converge", "q88_cluster_keeper",
             "q100_pipeline_verdict", "q117_semdedup_learned", "q140_lpa_communities",
             "q141_lpa_assign", "q145_lpa_converge", "q146_lpa_edge_churn",
             "q154_pipeline_gated"]
# Seconds of cold execution per unit of work at sf0.01 on 4 cores, used
# only to size a pass to --seconds: one catalog query, one round of all
# ten iterative queries, one nightly day after the first (which takes
# about FIRST_DAY_S).
UNIT_S = {"catalog_short": 1.0, "iterative_tail": 40.0, "taar_nightly": 4.5}
FIRST_DAY_S = 10.5
# catalog queries slower than this cold are the heavy tail, not "short"
SHORT_S = 2.5
FIXED_HEAD = 8
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
LAYER_NOTES = {
    "plans": "GraftExtensions rules and PrefixSumPlan run inside planning; "
             "visible only within queries.plan_s",
    "functions": "native expressions run inside tasks; visible only within queries.task_cpu_s",
    "queries.plan_s": "from QueryPlanningTracker phases of actions that report to a "
                      "QueryExecutionListener; eager checkpoints inside a query do not",
    "io.bytes_written_mb": "Spark task output metrics only: Avro part files and bz2 "
                           "artifacts are written outside them",
    "streaming, cli, tools, schema": "not measured: no performance item targets streaming, "
                                     "cli wraps jobs, tools is slated for deletion",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host():
    try:
        procs = sum(1 for p in os.listdir("/proc") if p.isdigit())
    except OSError:
        procs = -1
    return {"load1": os.getloadavg()[0], "procs": procs}


# ------------------------------------------------------------------ build

def build():
    """Compile the program and the driver when their sources changed;
    returns the runtime classpath."""
    sources = sorted(p for d in (ROOT / "src" / "main", HERE / "src")
                     for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in sources + [HERE / "build.sbt", HERE / "project" / "build.properties"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no JVM of the build writes hsperfdata outside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.ipcsocket.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(h.hexdigest())
    return lines[-1].strip()


# ------------------------------------------------------------------ plans

def catalog_draw(seed, n):
    """n short catalog queries: the middle query of each of n cost strata,
    in an order whose ends are fixed and whose middle the seed shuffles.
    The first FIXED_HEAD queries of a cold JVM pay its JIT warm-up, and the
    last one decides what the pass leaves live on the heap (one query
    alone moved it by 20%), so neither end is left to the seed. The set
    does not depend on the seed either: seeded draws moved live heap by up
    to 45% between seeds, through which memo frames they built.
    catalog_costs.json holds each catalog query's cold seconds at sf0.01 on
    4 cores; it decides only which queries count as short and how they are
    stratified."""
    costs = json.loads((HERE / "catalog_costs.json").read_text())
    ranked = sorted((q for q in costs if costs[q] <= SHORT_S), key=lambda q: (costs[q], q))
    n = max(1, min(n, len(ranked)))
    drawn = [ranked[(2 * i + 1) * len(ranked) // (2 * n)] for i in range(n)]
    random.Random(0).shuffle(drawn)
    head, middle, last = drawn[:FIXED_HEAD], drawn[FIXED_HEAD:-1], drawn[-1:]
    random.Random(seed).shuffle(middle)
    return head + middle + last


def units(workload, seconds):
    if workload == "taar_nightly":
        return max(2, 1 + round((seconds - FIRST_DAY_S) / UNIT_S[workload]))
    return max(1, round(seconds / UNIT_S[workload]))


def make_plan(workload, seed, seconds, cores, run_dir):
    plan = {"workload": workload, "seed": seed, "cores": cores, "data": str(DATA)}
    n = units(workload, seconds)
    if workload == "catalog_short":
        plan["queries"] = catalog_draw(seed, n)
    elif workload == "iterative_tail":
        rng = random.Random(seed)
        plan["queries"] = [q for _ in range(n) for q in rng.sample(ITERATIVE, len(ITERATIVE))]
    else:
        plan["nightly"] = gen_nightly.generate(seed, n, run_dir / "inputs")
    return plan


# ------------------------------------------------------------------ JVMs

def jvm(cp, mode, plan, run_dir, tag):
    """Start the driver; returns (seconds from process start to READY,
    record or None). The driver's stderr goes to <run_dir>/<tag>.log."""
    out = run_dir / tag
    work = run_dir / "work"
    for d in (out, work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    plan = dict(plan, out=str(out), work=str(work))
    plan_file = run_dir / f"{tag}.plan.json"
    plan_file.write_text(json.dumps(plan))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in OPENS]
           + ["-cp", cp, "graftbench.Driver", mode, str(plan_file)])
    ready = []
    with open(run_dir / f"{tag}.log", "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)

        def watch():
            for line in p.stdout:
                if line.strip() == "READY" and not ready:
                    ready.append(time.perf_counter() - t0)
        reader = threading.Thread(target=watch, daemon=True)
        reader.start()
        try:
            p.wait(timeout=max(1.0, DEADLINE - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            reader.join()
    setup = ready[0] if ready else None
    if setup is None or p.returncode != 0:
        tail = (run_dir / f"{tag}.log").read_text()[-3000:]
        fail(f"driver {mode} exited {p.returncode} before finishing:\n{tail}")
    rec = out / "record.json"
    return setup, json.loads(rec.read_text()) if rec.exists() else None


# ------------------------------------------------------------------ metrics

def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): a weighted
    mean of all order statistics with Beta((n+1)q, (n+1)(1-q)) weights. It
    moves much less between runs than a single order statistic when a
    pass holds only a few dozen operations."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x) - log_beta)

    steps = 64  # Simpson's rule on each order statistic's interval
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        weights.append(h / 3 * sum((1 if k in (0, steps) else 4 if k % 2 else 2) * pdf(lo + k * h)
                                   for k in range(steps + 1)))
    return sum(w * x for w, x in zip(weights, v)) / sum(weights)


def du(*paths):
    total = 0
    for p in paths:
        p = Path(p)
        if p.is_file():
            total += p.stat().st_size
        elif p.is_dir():
            total += sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return total


def union_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of intervals."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, end = 0, lo
    for a, b in spans:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return covered


def layer_metrics(rec, cores, nightly):
    """Per-layer metrics from the traced run's spans, and the drift-free
    counter table: one row per top-level span, that is per query or per
    nightly step."""
    spans = rec["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def tree(s):
        return [s] + [d for c in kids.get(s["id"], []) for d in tree(c)]

    def total(ss, k):
        return sum(s["counters"].get(k, 0.0) for s in ss)

    def peak(ss, k):
        return max([s["counters"].get(k, 0.0) for s in ss] or [0.0])

    def dur(layer):
        return sum(s["dur_s"] for s in spans if s["layer"] == layer)

    mb = 1024.0 * 1024.0
    tops = [s for s in spans if s["parent"] == -1]
    queries = [(s, tree(s)) for s in tops if s["layer"] == "queries"]
    qall = [s for _, t in queries for s in t]
    qwall = sum(q["dur_s"] for q, _ in queries)
    m = {"queries.build_s": dur("queries.build"),
         "queries.plan_s": total(qall, "plan_ms") / 1000.0,
         "queries.driver_gap_s": sum(
             q["dur_s"] - union_ms([j for s in t for j in s["jobs"]],
                                   q["start_ms"], q["end_ms"]) / 1000.0
             for q, t in queries)}
    for k in ("jobs", "stages", "tasks", "exchanges"):
        m[f"queries.{k}"] = total(qall, k)
    m["queries.task_run_s"] = total(qall, "task_run_ms") / 1000.0
    m["queries.task_cpu_s"] = total(qall, "task_cpu_ns") / 1e9
    m["queries.cpu_util"] = m["queries.task_cpu_s"] / (qwall * cores) if qwall else 0.0
    m["queries.shuffle_write_mb"] = total(qall, "shuffle_write_bytes") / mb
    m["queries.shuffle_read_mb"] = total(qall, "shuffle_read_bytes") / mb
    m["queries.spill_mb"] = total(qall, "spill_bytes") / mb
    m["queries.peak_exec_mem_mb"] = peak(qall, "peak_exec_mem_bytes") / mb
    m["queries.gc_s"] = total(qall, "gc_ms") / 1000.0
    m["queries.task_retries"] = total(spans, "task_failures") + total(spans, "stage_resubmits")
    m["queries.error_logs"] = total(spans, "error_logs")
    m["operators.blocks_created"] = total(spans, "blocks_created")
    m["operators.blocks_live_after"] = tops[-1]["counters"].get("blocks_live_after", 0.0) if tops else 0.0
    m["operators.storage_peak_mb"] = peak(spans, "storage_peak_bytes") / mb
    m["sources.scan_s"] = dur("sources.scan")
    m["sources.tasks"] = total([s for s in spans if s["layer"] == "sources.scan"], "tasks")
    m["sources.rows_per_s"] = (nightly["catalog_rows"] / m["sources.scan_s"]
                               if nightly and m["sources.scan_s"] else 0.0)
    for job in ("amo_dump", "amo_whitelist", "update_whitelist", "guid_ranking"):
        m[f"jobs.{job}_s"] = dur(f"jobs.{job}")
    m["jobs.spark_jobs"] = total([s for s in spans if s["layer"].startswith("jobs.")], "jobs")
    for step in ("avro_write", "avro_read", "kv_write", "kv_delete", "kv_expire"):
        m[f"io.{step}_s"] = dur(f"io.{step}")
    m["io.bytes_written_mb"] = total(spans, "output_bytes") / mb

    counters = [{"op": s["name"], "layer": s["layer"],
                 "jobs": total(tree(s), "jobs"),
                 "exchanges": total(tree(s), "exchanges"),
                 "blocks_created": total(tree(s), "blocks_created"),
                 "blocks_live_after": s["counters"].get("blocks_live_after", 0.0),
                 "files_live": s["counters"].get("files_live", 0.0)} for s in tops]
    return m, counters


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(UNIT_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail("program sources (src/main/scala) not found beside perfbench/")
    if not DATA.is_dir() or not (HERE / "catalog_costs.json").is_file():
        fail("benchmark data missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark distribution")

    host_start = host()
    WORK.mkdir(exist_ok=True)
    cp = build()
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_BUDGET_S
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    plan = make_plan(a.workload, a.seed, a.seconds, cores, run_dir)
    nightly = plan.get("nightly")

    setups, untraced_wall = [], None
    if a.trace:
        _, base = jvm(cp, "run", dict(plan, trace=False), run_dir, "untraced")
        untraced_wall = base["pass"]["wall_s"]
        setup, rec = jvm(cp, "run", dict(plan, trace=True), run_dir, "traced")
        setups.append(setup)
        out_dir = run_dir / "traced"
        ops = base["pass"]["ops"] + rec["pass"]["ops"]
    else:
        setups.append(jvm(cp, "probe", plan, run_dir, "probe")[0])
        setup, rec = jvm(cp, "run", dict(plan, trace=False), run_dir, "pass")
        setups.append(setup)
        out_dir = run_dir / "pass"
        ops = rec["pass"]["ops"]

    # correctness gate (untimed)
    kv_space_amp = io_extra = None
    unchecked = []
    if nightly:
        checks, sample, json_bytes = gate.check_nightly(nightly, out_dir, rec["pass"]["avro_check"])
        kind = "nightly"
        if json_bytes:
            kv = out_dir / "kv"
            on_disk = du(kv, f"{kv}.tmp_rewrite", f"{kv}.old_rewrite")
            kv_space_amp = on_disk / json_bytes
            io_extra = {"kv_on_disk_bytes": on_disk, "kv_live_json_bytes": json_bytes,
                        "artifact_bytes": du(out_dir / "artifacts")}
    else:
        names = list(dict.fromkeys(o["name"] for o in rec["pass"]["ops"] if o["ok"]))
        checks, unchecked, sample = gate.check_queries(
            names, out_dir, DATA, WORK / "oracle_cache.json")
        kind = "queries"
    planted = gate.self_check(kind, sample)
    wrong = {k: v for k, v in checks.items() if v}
    failed_ops = {o["name"] for o in ops if not o["ok"]}
    failed_ops |= {k for k in wrong if any(o["name"] == k for o in ops)}
    failed = (sum(1 for o in ops if o["name"] in failed_ops)
              + sum(1 for k in wrong if k not in failed_ops))
    correct = not wrong and not failed_ops and planted is None

    p = rec["pass"]
    lat = [o["seconds"] for o in p["ops"]]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (p["wall_s"], "s"),
        "query_p50_s": (quantile(lat, 0.5), "s"),
        "query_p90_s": (quantile(lat, 0.9), "s"),
        "cpu_s": (p["cpu_s"], "s"),
        "peak_live_heap_mb": (p["peak_live_heap_mb"], "MB"),
    }
    host_end = host()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "driver_heap": HEAP, "jvm": rec["jvm"], "spark": rec["spark"],
        "host": {"start": host_start, "end": host_end,
                 "non_comparable": max(host_start["load1"], host_end["load1"]) > cores},
        "flush_policy": "local filesystem, no fsync, same on both sides",
        "inputs": ({k: v for k, v in nightly.items() if k != "days"} | {"days": len(nightly["days"])}
                   if nightly else {"data": "perfbench/tables/sf0.01", "queries": plan["queries"]}),
        "samples": {"operations": len(lat), "setup": len(setups)},
        "error_rate": failed / max(1, len(ops)),
        "gate": {"checked": len(checks), "wrong": wrong, "unchecked": unchecked, "planted_wrong_caught": planted is None,
                 "failed_ops": sorted(failed_ops)},
        "driver_error_logs": rec["error_logs"],
        "pass": {k: v for k, v in p.items() if k != "ops"},
        "operations": p["ops"],
    }
    if a.trace:
        layers, counters = layer_metrics(rec, cores, nightly)
        layers["jobs.artifact_mb"] = (io_extra or {}).get("artifact_bytes", 0) / 1048576.0
        live_kv = (io_extra or {}).get("kv_on_disk_bytes", 0)
        layers["io.write_amp"] = (layers["io.bytes_written_mb"] * 1048576.0 / live_kv) if live_kv else 0.0
        layers["io.files_live"] = p.get("files_live", 0)
        layers["kv_space_amp"] = kv_space_amp or 0.0
        layers["tracing_overhead"] = p["wall_s"] / untraced_wall - 1.0
        record.update(per_layer=layers, counters=counters, spans=rec["spans"],
                      untraced_wall_s=untraced_wall, notes=LAYER_NOTES)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        record["end_to_end"]["error_rate"] = {"value": record["error_rate"], "unit": "ratio"}
        if kv_space_amp is not None:
            record["end_to_end"]["kv_space_amp"] = {"value": kv_space_amp, "unit": "ratio"}
        record["setup_samples_s"] = setups
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    records = WORK / "records"
    records.mkdir(exist_ok=True)
    (records / f"{a.workload}_seed{a.seed}_trace{a.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    shown = dict(record.get("end_to_end") or metrics, error_rate={
        "value": record["error_rate"], "unit": "ratio"})
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} operations={len(lat)} "
          f"setup_samples={len(setups)} " + " ".join(
              f"{k}={m['value']:.4g}{m['unit']}" for k, m in shown.items()), file=sys.stderr)
    if wrong or planted:
        print(f"perfbench: correctness gate failed: {planted or ''} "
              f"{json.dumps(dict(list(wrong.items())[:5]))}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("queries.cpu_util", "io.write_amp", "kv_space_amp", "tracing_overhead"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
