#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload search|iterate|curate --seed N \
      --seconds S --trace 0|1

Builds the engine and the benchmark program from source (once per source
change, with sbt), generates the workload's inputs from the seed
(perfbench/gen.py), runs perfbench.Main in one JVM on local[4], checks
every operator's output against its DuckDB oracle with scripts/check.py,
and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, computed from the run's span file alone.
Work files go to perfbench/.work/.  BENCHMARK.json describes the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CORES = 4
RUN_LIMIT_S = 140  # for the JVM; the oracle check gets 30 s more

# The workloads.  Operators are SparkEntry.queries ids; BENCHMARK.json
# records why each workload exists.
WORKLOADS = {
    "search": {"docs": 12000, "sink": "noop", "ops": [
        "q_inverted_index", "q_search_qld", "q_spell_correct"]},
    "iterate": {"docs": 300, "sink": "noop", "ops": [
        "q_graph_bfs", "q_kmeans_iter", "q_logreg_gd", "s_stream_dedup"]},
    "curate": {"docs": 600, "sink": "parquet", "ops": [
        "q_dedup_minhash", "q_dedup_simhash", "q_contamination_bloom"]},
}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    out = WORK / "build"
    stamp, cp_file = out / "stamp", out / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    log = out / "sbt.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=840).returncode
    lines = log.read_text().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed, see {log}")
    cp_file.write_text(cp[-1].strip())
    stamp.write_text(want)
    return cp[-1].strip()


def generate(workload, seed):
    """The workload's tables, generated once per (gen.py, seed, size)."""
    docs = WORKLOADS[workload]["docs"]
    gen = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    data = WORK / "data" / f"gen{gen}-seed{seed}-docs{docs}"
    if not (data / "manifest.json").exists():
        subprocess.run([sys.executable, str(HERE / "gen.py"), "--seed", str(seed),
                        "--docs", str(docs), "--out", str(data)],
                       check=True, stdout=subprocess.DEVNULL, timeout=30)
    return data


def run_jvm(cp, args, log, deadline):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = args["out"] / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java), *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=args["out"], stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit, see {log}")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}, see {log}")


def oracle_check(data, dump, ops):
    """scripts/check.py over the dump: {op: None if PASS else reason}."""
    r = subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"),
                        str(data), str(dump), *ops],
                       capture_output=True, text=True, timeout=30)
    verdict = {}
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name = line.split()[1].rstrip(":")
            verdict[name] = line[len("FAIL "):]
    return verdict


def pct(xs, q):
    """q-th percentile (0-100) by linear interpolation."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(res):
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    lat = [c["build_ms"] + c["materialize_ms"] for p in warm for c in p["calls"]]
    return {
        "setup_s": res["setup_s"][0],
        "cold_s": cold["wall_ms"] / 1000.0,
        "warm_s": statistics.median(p["wall_ms"] for p in warm) / 1000.0,
        "call_p50_ms": pct(lat, 50),
        "call_p90_ms": pct(lat, 90),
        "pinned_mb": res["pinned_bytes"] / 1e6,
    }, len(warm), len(lat)


def layers(spans_path, res):
    """Per-layer metrics of the traced warm passes, from the span file."""
    spans = [json.loads(l) for l in open(spans_path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(sid, kind):
        out, todo = [], list(kids.get(sid, []))
        while todo:
            s = todo.pop()
            if s["kind"] == kind:
                out.append(s)
            todo += kids.get(s["id"], [])
        return out

    def dur(s):
        return s["end"] - s["start"]

    def covered(intervals, lo, hi):
        total, cur = 0.0, lo
        for a, b in sorted(intervals):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                total += b - a
                cur = b
        return total

    per_pass = []
    passes = [s for s in spans if s["kind"] == "pass" and s["name"].startswith("warm")]
    for p in passes:
        stages, jobs = under(p["id"], "stage"), under(p["id"], "job")
        queries, batches = under(p["id"], "query"), under(p["id"], "batch")
        calls, builds = under(p["id"], "call"), under(p["id"], "build")
        mats = under(p["id"], "materialize")
        build_ids = {b["id"] for b in builds}
        sc = lambda k: sum(s["counters"].get(k, 0.0) for s in stages)
        skews = [s["counters"]["task_skew"] for s in stages if s["counters"]["tasks"] >= 2]
        bd = [dur(b) for b in batches]
        wall = dur(p)
        per_pass.append({
            "tables.scan_mb": sc("input_bytes") / 1e6,
            "tables.scan_files": sum(q["counters"]["scan_files"] for q in queries),
            "plan.analysis_ms": sum(q["counters"]["analysis_ms"] for q in queries),
            "plan.optimizer_ms": sum(q["counters"]["optimizer_ms"] for q in queries),
            "plan.planning_ms": sum(q["counters"]["planning_ms"] for q in queries),
            "exchange.shuffle_write_mb": sc("shuffle_write_bytes") / 1e6,
            "exchange.shuffle_read_mb": sc("shuffle_read_bytes") / 1e6,
            "exchange.stages": len(stages),
            "exchange.task_skew": pct(skews, 90) if skews else 1.0,
            "exec.tasks": sc("tasks"),
            "exec.run_ms": sc("run_ms"),
            "exec.cpu_ms": sc("cpu_ms"),
            "exec.gc_ms": sc("gc_ms"),
            "exec.spill_mb": sc("spill_bytes") / 1e6,
            "exec.busy_ratio": sc("run_ms") / (wall * CORES),
            "driver.build_ms": sum(dur(b) for b in builds),
            "driver.jobs": len(jobs),
            "driver.jobs_in_build": sum(1 for j in jobs if j["parent"] in build_ids),
            "driver.checkpoints": sum(c["counters"]["persisted_added"] for c in calls),
            "driver.idle_ms": wall - covered(
                [(s["start"], s["end"]) for s in stages], p["start"], p["end"]),
            "stream.batches": len(batches),
            "stream.empty_batches": sum(1 for b in batches if b["counters"]["input_rows"] == 0),
            "stream.batch_p50_ms": pct(bd, 50) if bd else 0.0,
            "stream.batch_max_ms": max(bd) if bd else 0.0,
            "sink.mb_written": sc("output_bytes") / 1e6,
            "sink.files": sum(m["counters"]["sink_files"] for m in mats),
            "sink.write_ms": sum(dur(m) for m in mats),
            "_wall_ms": wall,
        })
    m = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    # the set-up of the measured session, on the warm JVM
    setup = max((s for s in spans if s["kind"] == "setup"), key=lambda s: s["start"])
    wl = [s for s in spans if s["kind"] == "workload"][0]
    m["tables.memo_build_ms"] = setup["counters"]["memo_build_ms"]
    m["tables.memo_pinned_mb"] = setup["counters"]["pinned_bytes"] / 1e6
    m["tables.persisted_rdds"] = wl["counters"]["persisted_rdds"]
    untraced = [p["wall_ms"] for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    m["trace.overhead_pct"] = 100.0 * (m["_wall_ms"] / statistics.median(untraced) - 1.0)
    m["trace.spans"] = len(spans)
    return m


def attribution(m):
    """How the traced warm pass splits: by call phase, and by whether any
    stage was running."""
    wall = m["_wall_ms"]
    plan = m["plan.analysis_ms"] + m["plan.optimizer_ms"] + m["plan.planning_ms"]
    rows = [
        ("warm pass (traced)", wall),
        ("= build calls (driver loops, micro-batches)", m["driver.build_ms"]),
        ("+ materialize calls (sink)", m["sink.write_ms"]),
        ("= stages running (scan, exchange, execution)", wall - m["driver.idle_ms"]),
        ("+ no stage running (driver)", m["driver.idle_ms"]),
        ("  of which Catalyst phases", plan),
        ("streaming micro-batches, n x p50", m["stream.batches"] * m["stream.batch_p50_ms"]),
        ("task run time / cores", m["exec.run_ms"] / CORES),
    ]
    for name, ms in rows:
        print(f"  {name:<46} {ms:9.1f} ms {100.0 * ms / wall:6.1f}%")


def reported(values, declared):
    """The metrics BENCHMARK.json declares, with its units; a metric the
    run did not produce, or one it produced but did not declare, is a bug
    here, not a result."""
    names = {m["name"]: m["unit"] for m in declared}
    values = {k: v for k, v in values.items() if not k.startswith("_")}
    if set(values) != set(names):
        fail(f"metrics out of step with BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    return {k: {"value": values[k], "unit": u} for k, u in names.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "scripts" / "check.py").is_file():
        fail(f"{ROOT} is not a checkout of the engine repository")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    start = time.time()
    cp = build()
    # a run that had to build gets its full run time after the build
    deadline = max(start, time.time() - 5) + RUN_LIMIT_S
    w = WORKLOADS[a.workload]
    data = generate(a.workload, a.seed)
    out = WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    run_jvm(cp, {"workload": a.workload, "data": data, "out": out,
                 "ops": ",".join(w["ops"]), "sink": w["sink"], "seconds": a.seconds,
                 "trace": a.trace, "cores": CORES},
            out / "jvm.log", deadline)
    res = json.loads((out / "result.json").read_text())
    shutil.rmtree(out / "spark-local", ignore_errors=True)

    # correctness: throws, oracle mismatches, unstable no-oracle hashes
    calls = [c for p in res["passes"] for c in p["calls"]]
    errors = [f"{c['op']}: {c['error']}" for c in calls if c["error"]]
    errors += [f"{op} (dump): {e}" for op, e in res["dump_errors"].items()]
    oracle = json.loads((out / "dump" / "oracle_sql.json").read_text())
    verdict = oracle_check(data, out / "dump", w["ops"])
    for op in w["ops"]:
        if op in res["dump_errors"]:
            continue
        if op in oracle and verdict.get(op, "missing") is not None:
            errors.append(verdict.get(op) or f"{op}: no oracle verdict")
        elif op not in oracle and verdict.get(op):
            errors.append(verdict[op])
        elif op not in oracle and len(set(res["hashes"].get(op, []))) != 1:
            errors.append(f"{op}: output hash differs across passes")
    attempted = len(calls) + len(w["ops"])
    for e in errors:
        print(f"FAIL {e}")

    manifest = json.loads((data / "manifest.json").read_text())
    print(f"workload {a.workload} seed {a.seed}: {manifest['docs']} docs, "
          f"{manifest['tokens']} tokens, {len(w['ops'])} operators, sink {w['sink']}")
    if a.trace:
        m = layers(out / "spans.jsonl", res)
        print(f"span file: {out / 'spans.jsonl'} ({m['trace.spans']} spans); "
              f"tracing overhead {m['trace.overhead_pct']:.1f}% of the untraced warm pass")
        attribution(m)
        metrics = reported(m, spec["per_layer"])
    else:
        e2e, n_warm, n_lat = end_to_end(res)
        print(f"samples: 1 cold pass, {n_warm} warm passes, {n_lat} warm calls; "
              f"second set-up on the warm JVM {res['setup_s'][1]:.2f} s; untimed dump "
              f"on the first session {res['dump_ms'] / 1000.0:.2f} s")
        metrics = reported(e2e, spec["end_to_end"])
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
