#!/usr/bin/env python3
"""The engine's benchmark: one command per workload.

    python3 perfbench/run.py --workload <lake-sql|lake-derived|pipeline> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source with sbt (outputs in .bench_build/); each run
then generates its inputs from the seed, starts one JVM (local[4]), sets up,
measures for about --seconds, checks the outputs, and prints one provenance
line and, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (see
README.md). The exit code is 0 only when every check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
# BENCHMARK.json gates lake-derived and pipeline; lake-sql runs the same
# way for the per-query split README.md records (three workloads do not fit
# the gated run budget)
WORKLOADS = ("lake-sql", "lake-derived", "pipeline")
# lake tables are generated at this scale (lineitem = 6M x sf rows) from a
# fixed data seed, so every run measures the same work; the run's seed
# orders the lake-sql queries and picks the queries checked against their
# oracles. lake-derived then replicates its tables x2 (ScaleUp).
LAKE_SF = {"lake-sql": 0.01, "lake-derived": 0.002}
LAKE_DATA_SEED = 0
# -Xms = -Xmx and pre-touched: the whole heap is resident from the start,
# so peak RSS does not swing with how much of it the collector happened to
# touch (heap use itself is the traced jvm.heap_peak_mb)
DRIVER_HEAP = "2g"
JVM_TIMEOUT_S = 150
CORES = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# every end-to-end metric a run prints, with its unit
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
             "throughput_per_s": "1/s", "peak_rss_mb": "MB", "ops_ok_frac": "ratio"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                  + [os.path.join(HERE, "build.sbt")])


def src_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(files):
    """Compile with sbt unless the last build was of the same sources.
    Returns the classpath and the sources' digest."""
    digest = src_digest(files)
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest_file = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log("building with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(digest_file, "w") as fh:
        fh.write(digest)
    return lines[-1].strip(), digest


def jvm(cp, args, run_dir, data_dir, out, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", ROOT, "--dir", run_dir, "--data", data_dir, "--out", out])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        launched_us = time.time() * 1e6
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as fh:
        rec = json.load(fh)
    # set-up runs from the JVM launch to the start of the measured phase
    rec["setup_s"] = (rec["measure"]["start_us"] - launched_us) / 1e6
    return rec


def lake_checks(rec):
    """Compare each checked query's result with its DuckDB oracle, using the
    canonical form of tools/check.py. Returns [(name, ok, detail)]."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import TABLES, canon
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    data = rec["data_dir"]
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    out = []
    for c in rec["lake_checks"]:
        if c["err"]:
            out.append((c["name"], False, c["err"]))
            continue
        try:
            got = canon(con, f"SELECT * FROM '{c['path']}/*.parquet'")
            want = canon(con, c["oracle"])
        except Exception as e:  # an oracle or read error is a failed check
            out.append((c["name"], False, str(e)[:300]))
            continue
        ok = got == want
        out.append((c["name"], ok, "" if ok else
                    f"columns {got[0]} vs {want[0]}, rows {got[1]} vs {want[1]}"))
    return out


def e2e_lake(rec, gen_s):
    """A lake run's end-to-end metrics. A pass is too few queries for a
    percentile tail, so the tail is the slowest query's median latency over
    the passes."""
    ok = [o for o in rec["ops"] if o["ok"]]
    lat = [(o["end_us"] - o["start_us"]) / 1000.0 for o in ok]
    per_query = {}
    for o, ms in zip(ok, lat):
        per_query.setdefault(o["name"], []).append(ms)
    slowest, slowest_ms = M.slowest_median(per_query)
    passes = [p / 1e6 for p in rec["pass_us"]]
    rates = [sum(o["pass"] == i for o in ok) / s for i, s in enumerate(passes)]
    return {
        "setup_s": gen_s + rec["setup_s"],
        "wall_s": statistics.median(passes),
        "op_p50_ms": M.percentile(lat, 50),
        "op_tail_ms": slowest_ms,
        "throughput_per_s": statistics.median(rates),
    }, {"op": "query", "samples": len(lat), "tail": f"median of {slowest}",
        "pass_s": passes}


def e2e_pipeline(rec):
    p = rec["pipeline"]
    lat = M.slice_latencies(p["slices"], p["batches"])
    tail = M.tail_percentile(len(lat))
    ttb = M.time_to_block(p["bot_first_slice"], p["slices"], p["versions"], p["batches"])
    p["layers"].update({
        "streaming.backlog_files_max": M.backlog_max(p["slices"], p["batches"]),
        "streaming.pacer_late_ms": max(M.lateness(
            [s["due_us"] for s in p["slices"]], [s["actual_us"] for s in p["slices"]])) / 1000,
        "jobs.time_to_block_s": statistics.median(ttb) if ttb else 0.0})
    return {
        "setup_s": rec["setup_s"],
        "wall_s": p["wall_us"] / 1e6,
        "op_p50_ms": M.percentile(lat, 50),
        "op_tail_ms": M.percentile(lat, tail),
        "throughput_per_s": statistics.median(
            b["rows"] / (b["us"] / 1e6) for b in p["drain_batches"] if b["us"] > 0),
    }, {"op": "slice", "samples": len(lat), "tail_pct": tail,
        "rate_slices_per_s": p["rate_slices_per_s"],
        "time_to_block_s": p["layers"]["jobs.time_to_block_s"],
        "bots_blocked": len(ttb),
        "drain_batch_rows_per_s": [round(b["rows"] / (b["us"] / 1e6))
                                   for b in p["drain_batches"] if b["us"] > 0]}


def layer_metrics(rec, gen_s, e2e):
    """Per-layer metrics of a traced run, scoped to the measured phase."""
    sp = rec["spark"]
    m0, m1 = rec["measure"]["start_us"], rec["measure"]["end_us"]
    wall_s = (m1 - m0) / 1e6
    spans = rec["spans"]
    inside = [s for s in spans if m0 <= s["start_us"] <= m1]

    def span_sum(layer, name):
        return sum(s["end_us"] - s["start_us"] for s in inside
                   if s["layer"] == layer and s["name"] == name) / 1e6

    def setup_span(layer, name):
        return sum(s["end_us"] - s["start_us"] for s in spans
                   if s["layer"] == layer and s["name"] == name
                   and not m0 <= s["start_us"] <= m1) / 1e6

    jobs = [j for j in sp.get("jobs", []) if m0 / 1000 <= j["start_ms"] <= m1 / 1000]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in sp.get("stages", []) if s["stage"] in stage_ids and s["tasks"] > 0]
    qes = [q for q in sp.get("qes", []) if m0 / 1000 <= q["start_ms"] <= m1 / 1000]
    job_iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs]
    ops = rec.get("ops", [])
    windows = [(o["start_us"], o["end_us"]) for o in ops] or [(m0, m1)]
    tasks = sum(s["tasks"] for s in stages)
    task_run_s = sum(s["run_ms"] for s in stages) / 1000
    skews = [max(s["durations_ms"]) / max(1, statistics.median(s["durations_ms"]))
             for s in stages if len(s["durations_ms"]) >= 2]
    builds = [o["build_us"] / 1000 for o in ops if o["ok"]]
    lat = {True: 0.0, False: 0.0}
    for o in ops:
        if o["ok"]:
            lat[o["family_first"]] += (o["end_us"] - o["start_us"]) / 1e6
    p = rec.get("pipeline", {})
    out = {
        "session.create_s": setup_span("session", "GraftSession.create"),
        "sources.scaleup_s": rec.get("layers", {}).get("sources.scaleup_s", 0.0),
        "sources.datagen_s": p.get("datagen_s", 0.0),
        "sources.rows": p.get("datagen_rows", 0),
        "streaming.stage_s": p.get("stage_s", 0.0),
        "inputs.lakegen_s": gen_s,
        "operators.build_s": sum(builds) / 1000,
        "operators.build_p50_ms": M.percentile(builds, 50) if builds else 0.0,
        "plans.analysis_s": sum(q["analysis_ms"] for q in qes) / 1000,
        "plans.optimization_s": sum(q["optimization_ms"] for q in qes) / 1000,
        "plans.planning_s": sum(q["planning_ms"] for q in qes) / 1000,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / len(stages) if stages else 0.0,
        "exec.outside_jobs_s": sum(M.uncovered(w, job_iv) for w in windows) / 1e6,
        "exec.sched_delay_s": sum(s["sched_delay_ms"] for s in stages) / 1000,
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
        "exec.core_util": task_run_s / (CORES * wall_s) if wall_s else 0.0,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
        "exec.input_bytes": sum(s["input_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "Graft.clear_s": span_sum("Graft", "clearCaches"),
        "Graft.release_s": span_sum("Graft", "releaseStagedCheckpoints"),
        "Graft.storage_peak_bytes": rec.get("graft", {}).get("storage_peak_bytes", 0),
        "Graft.family_first_s": lat[True],
        "Graft.family_rest_s": lat[False],
        "jvm.gc_s": rec["jvm"]["gc_ms"] / 1000,
        "jvm.heap_peak_mb": rec["jvm"]["heap_peak_bytes"] / 2**20,
        "trace.wall_s": e2e["wall_s"],
    }
    out.update(p.get("layers", {}))
    selfs = M.self_by_layer(inside)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return out


# span layers whose self time is reported
LAYERS = ("bench", "session", "sources", "streaming", "operators", "exec", "Graft",
          "jobs", "ml")
# every per-layer metric a traced run prints, in BENCHMARK.json order; a
# layer a workload does not exercise reads 0
PER_LAYER = (
    "session.create_s", "sources.scaleup_s", "sources.datagen_s", "sources.rows",
    "streaming.stage_s", "inputs.lakegen_s",
    "operators.build_s", "operators.build_p50_ms",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_per_stage", "exec.outside_jobs_s",
    "exec.sched_delay_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.core_util", "exec.task_skew", "exec.input_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "Graft.clear_s", "Graft.release_s", "Graft.storage_peak_bytes",
    "Graft.family_first_s", "Graft.family_rest_s",
    "jvm.gc_s", "jvm.heap_peak_mb", "trace.wall_s",
    "streaming.batches", "streaming.batch_p50_ms", "streaming.latestOffset_ms",
    "streaming.getBatch_ms", "streaming.queryPlanning_ms", "streaming.addBatch_ms",
    "streaming.walCommit_ms", "streaming.backlog_files_max", "streaming.pacer_late_ms",
    "streaming.state_rows", "streaming.state_bytes", "streaming.sink_files",
    "jobs.detect_runs", "jobs.detect_s", "jobs.snapshot_rows", "jobs.filtered_frac",
    "jobs.time_to_block_s", "ml.train_s", "ml.score_s", "ml.score_rows",
) + tuple(f"self.{layer}_s" for layer in LAYERS)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources (src/main/scala/graft) in this checkout")
    files = sources()
    cp, digest = build(files)

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_s = 0.0
        data_dir = ""
        if args.workload.startswith("lake"):
            import lakegen
            data_dir = os.path.join(run_dir, "lake")
            t0 = time.monotonic()
            lakegen.write(data_dir, LAKE_SF[args.workload], LAKE_DATA_SEED)
            gen_s = time.monotonic() - t0
        # the JVM's time limit starts after the build and input generation
        deadline = time.monotonic() + JVM_TIMEOUT_S
        rec = jvm(cp, args, run_dir, data_dir, os.path.join(run_dir, "record.json"), deadline)
        if args.workload.startswith("lake"):
            e2e, prov = e2e_lake(rec, gen_s)
            checks = lake_checks(rec)
            attempted = len(rec["ops"]) + len(checks)
            failed = sum(not o["ok"] for o in rec["ops"]) + sum(not ok for _, ok, _ in checks)
        else:
            e2e, prov = e2e_pipeline(rec)
            checks = [(c["name"], c["ok"], c.get("detail", "")) for c in rec["pipeline"]["checks"]]
            attempted = rec["pipeline"]["attempted"] + len(checks)
            failed = rec["pipeline"]["failed"] + sum(not ok for _, ok, _ in checks)
        e2e["peak_rss_mb"] = rec["jvm"]["peak_rss_mb"]
        e2e["ops_ok_frac"] = (attempted - failed) / attempted
        for name, ok, detail in checks:
            if not ok:
                log(f"check failed: {name}: {detail}")
        prov = dict(rec["provenance"], **prov, src_digest=digest,
                    host_nproc=os.cpu_count(), lake_sf=LAKE_SF.get(args.workload),
                    checks=[n for n, _, _ in checks])
        if args.trace:
            got = layer_metrics(rec, gen_s, e2e)
            values = {k: got.get(k, 0) for k in PER_LAYER}
            units = {k: unit_of(k) for k in PER_LAYER}
        else:
            values = {k: e2e[k] for k in E2E_UNITS}
            units = E2E_UNITS
        correct = failed == 0
        print(json.dumps({"provenance": prov}))
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_bytes", "bytes"),
                         ("_frac", "ratio"), ("_util", "ratio"), ("_skew", "ratio"),
                         ("_per_stage", "count")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
