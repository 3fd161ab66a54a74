#!/usr/bin/env python3
"""Benchmark of the declared queries: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/harness); later runs reuse the build while
the sources are unchanged. Each run then:

  1. generates the workload's tables from the seed (perfbench/gen.py) into
     a fresh run directory under perfbench/runs/, which also holds the
     JVM's java.io.tmpdir, SPARK_LOCAL_DIRS and the artifact directories,
     so nothing from an earlier run or from the machine's /tmp turns an
     artifact build into a hit;
  2. starts one JVM (local[4]) that runs the seeded query order as set-up
     passes and then as timed passes for --seconds (see Harness.scala);
  3. checks, outside the timed region, every query that has an oracle
     against SparkEntry.oracleSql run by DuckDB on the same tables,
     with tools/check.py's canonical row comparison;
  4. prints the run record's summary lines and, as the last line, one
     JSON object with the end-to-end metrics (--trace 0) or the
     per-layer metrics of the traced passes (--trace 1).

The full run record (every pass's per-query wall and CPU time, the
spans of traced passes, contention readings) is written to
perfbench/runs/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
RUNS = os.path.join(HERE, "runs")
CLASSPATH_FILE = os.path.join(HARNESS, "target", "perfbench-classpath.txt")
SETUPS = 2
# Heap and young generation are fixed so that the resident set follows the
# retained data rather than the collector's sizing choices, run to run.
JVM_HEAP = "3g"
JVM_YOUNG = "768m"
RUN_TIMEOUT_S = 150
# Task slots of the local session, and its shuffle partitions.
CPUS = 4

# Why each workload exists is in perfbench/README.md. `warmups` untimed
# passes run between set-up and the timed region: a fresh JVM keeps
# getting faster for several passes, and ingest-cold's short passes
# level off only after about five. warm-2x's longer passes leave no room
# in a run for more than its two set-up passes.
WORKLOADS = {
    "warm-2x": dict(sf=0.05, copies=2, cold=False, warmups=0, queries=[
        "q05_join_inner4", "q14_agg_hash", "q55_mr_wordcount", "q328_kcore"]),
    "ingest-cold": dict(sf=0.01, copies=1, cold=True, warmups=3, queries=[
        "q90_sorted_layout", "q323_cms_artifact", "q285_stream_cdc_apply"]),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine with the harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no engine sources under src/main/scala; run from a checkout root")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_stamp, cp = f.read().split("\n")[:2]
        if cached_stamp == stamp:
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [l for l in r.stdout.splitlines()
             if os.path.join("target", "scala-2.13", "classes") in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(f"{stamp}\n{cp}\n")
    return cp


def duckdb_views(con, data):
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")


def check_outputs(oracles, check_dir, data):
    """Names of the queries whose set-up output disagrees with the oracle,
    each with the reason."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repo's canonical comparison
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    duckdb_views(con, data)
    bad = {}
    for name, sql in sorted(oracles.items()):
        d = os.path.join(check_dir, name)
        files = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            bad[name] = "no output"
            continue
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            scols, srows = check.frame_rows(sdf)
            ocols, orows = check.frame_rows(con.execute(sql).df())
        except Exception as e:  # an oracle error, or a cell check.py refuses
            bad[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if scols != ocols:
            bad[name] = f"columns {scols} vs oracle {ocols}"
        elif srows != orows:
            diff = sum(a != b for a, b in zip(srows, orows))
            bad[name] = (f"rows {len(srows)} vs oracle {len(orows)}, "
                         f"{diff} differ")
    return bad


def layer_metrics(passes, untraced_walls):
    """Per-layer totals of each traced pass; the median over passes."""
    def dur(span):
        return span.get("end_s", 0) - span.get("start_s", 0)

    per_pass = []
    for p in passes:
        m = {k: 0.0 for k in LAYER_UNITS}
        for q in p["queries"]:
            spans = {s["name"]: s for s in q["spans"]}
            b, pl = spans.get("build", {}), spans.get("plan", {})
            ex, dr = spans.get("exec", {}), spans.get("drain", {})
            m["build.s"] += dur(b)
            m["build.jobs"] += b.get("jobs", 0)
            m["build.task_s"] += b.get("task_s", 0)
            m["pin.count"] += q["pin_count"]
            m["pin.mb"] += q["pin_mb"]
            m["pin.drain_s"] += dur(dr)
            m["plan.s"] += dur(pl)
            m["plan.exchanges"] += q["exchanges"]
            m["exec.s"] += dur(ex)
            for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                      "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                      "one_task_s"):
                m[f"exec.{k}"] += ex.get(k, 0)
            all_task_s = sum(s["task_s"] for s in q["spans"])
            m["serial_s"] += q["wall_s"] - all_task_s / CPUS
            m["scan.mb"] += sum(s["scan_mb"] for s in q["spans"])
            m["scan.rows"] += sum(s["scan_rows"] for s in q["spans"])
            m["artifact.builds"] += q["artifact_builds"]
            m["artifact.write_mb"] += q["artifact_write_mb"]
            m["stream.batches"] += q["stream_batches"]
            m["stream.batch_s"] += q["stream_batch_s"]
            m["stream.input_rows"] += q["stream_input_rows"]
            m["stream.state_rows"] = max(m["stream.state_rows"],
                                         q["stream_state_rows"])
            m["stream.state_mb"] = max(m["stream.state_mb"],
                                       q["stream_state_mb"])
            if q["q"] == "q55_mr_wordcount":
                m["mr.run_s"] += dur(b)
        m["exec.core_util"] = (m["exec.task_s"] / (m["exec.s"] * CPUS)
                               if m["exec.s"] else 0.0)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_UNITS}
    traced = statistics.median(p["wall_s"] for p in passes)
    out["trace.overhead"] = traced / statistics.median(untraced_walls) - 1
    return out


E2E_UNITS = {"wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
             "pass_frac": "ratio", "setup_s": "s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "build.task_s": "s",
    "pin.count": "count", "pin.mb": "MB", "pin.drain_s": "s",
    "plan.s": "s", "plan.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.core_util": "ratio", "exec.one_task_s": "s", "serial_s": "s",
    "scan.mb": "MB", "scan.rows": "count",
    "artifact.builds": "count", "artifact.write_mb": "MB",
    "stream.batches": "count", "stream.batch_s": "s",
    "stream.input_rows": "count", "stream.state_rows": "count",
    "stream.state_mb": "MB", "mr.run_s": "s",
}


def main():
    # Turn a termination request into an exit, so the JVM is stopped and
    # the run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = build()
    if args.workload != "all":
        result = run_one(args.workload, args, cp)
        print(json.dumps(result))
        return
    # Every workload in turn; the last line maps each to its result.
    results = {name: run_one(name, args, cp) for name in WORKLOADS}
    print(json.dumps(results))


def run_one(name, args, cp):
    """One run of a workload in a fresh run directory; prints the run's
    summary line and returns its result object."""
    t0 = time.time()
    tag = f"{name}-seed{args.seed}-trace{args.trace}"
    run = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run, d))
    try:
        record = run_workload(name, WORKLOADS[name], args, cp, run)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    record["summary"]["run_s"] = round(time.time() - t0, 2)
    with open(os.path.join(RUNS, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps(record["summary"]))
    for k, m in record["result"]["metrics"].items():
        print(f"{name} {k} = {m['value']:.6g} {m['unit']}")
    return record["result"]


def run_workload(name, w, args, cp, run):
    g0 = time.time()
    sys.path.insert(0, HERE)
    import gen
    data = os.path.join(run, "data")
    gen.generate(data, w["sf"], args.seed, w["copies"])
    gen_s = time.time() - g0

    order = list(w["queries"])
    random.Random(args.seed).shuffle(order)
    out = os.path.join(run, "record.json")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            f"-Djava.io.tmpdir={run}/tmp",
            "-cp", cp]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Harness", f"data={data}", f"run={run}", f"out={out}",
              "queries=" + ",".join(order), f"seconds={args.seconds}",
              f"cpus={CPUS}", f"setups={SETUPS}", f"warmups={w['warmups']}",
              f"cold={int(w['cold'])}",
              f"trace={args.trace}"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    launch_ms = time.time() * 1000
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "a timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        rec = json.load(f)

    bad = check_outputs(rec["oracle_sql"], os.path.join(run, "check"), data)
    passes = rec["passes"]
    untraced = [p for p in passes if p["traced"] is False]
    traced = [p for p in passes if p["traced"] is True]
    all_runs = [q for p in passes for q in p["queries"]]
    errors = {q["q"]: q["error"] for q in all_runs if q["error"]}
    failures = dict(errors, **bad)
    attempted = len(all_runs)
    failed = sum(1 for q in all_runs if q["q"] in failures)
    launch_s = (rec["session_ready_ms"] - launch_ms) / 1000
    setups = [gen_s + launch_s + s for s in rec["warm_s"]]
    lat = [q["wall_s"] for p in untraced for q in p["queries"]]
    by_query = {}
    for p in untraced:
        for q in p["queries"]:
            by_query.setdefault(q["q"], []).append(q["wall_s"])

    if args.trace:
        values = layer_metrics(traced, [p["wall_s"] for p in untraced])
        units = dict(LAYER_UNITS, **{"trace.overhead": "ratio"})
    else:
        values = {
            "wall_s": statistics.median(p["wall_s"] for p in untraced),
            # The median over queries of each query's median: the
            # median of the pooled samples would fall in the gap between
            # two queries' latencies and read an extreme sample of one.
            "query_p50_s": statistics.median(
                statistics.median(v) for v in by_query.values()),
            "query_p90_s": statistics.quantiles(lat, n=10,
                                                method="inclusive")[8],
            "pass_frac": 1 - failed / attempted,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rec["vm_hwm_kb"] / 1024,
        }
        units = E2E_UNITS
    summary = {
        "workload": name, "seed": args.seed, "trace": args.trace,
        "order": order, "passes": len(passes), "samples": len(lat),
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "artifact_builds_per_pass": [p["artifact_builds"] for p in passes],
        "setup_s": [round(s, 3) for s in setups],
        "failed_queries": failures,
        "oracle_checked": sorted(rec["oracle_sql"]),
        "loadavg": [rec["loadavg_before"], rec["loadavg_after"]],
        "nproc": rec["nproc"], "process_cpu_s": round(rec["process_cpu_s"], 2),
    }
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }
    return {"summary": summary, "result": result, "gen_s": gen_s,
            "launch_s": launch_s, "record": rec}


if __name__ == "__main__":
    main()
