#!/usr/bin/env python3
"""End-to-end benchmark of the library's three whole jobs.

    python3 perfbench/run.py --workload daily_batch --seed 7 --seconds 12 --trace 0

Workloads: daily_batch, stream_ingest, corpus_curation (see README.md in
this directory). Run from the root of a checkout. The first run compiles
the library and the benchmark's Scala code (perfbench/build.py); each run then
starts one JVM on `local[<cores>]`, stages seeded inputs into a fresh
directory under the build directory, times the job, checks its outputs,
deletes the directory, and prints:

  - one line `{"stamp": ...}` describing the run (host, cores, input,
    seed, JDK, sources, load average before and after);
  - one line `{"samples": ...}` with each metric's sample count;
  - as the last line, `{"correct", "attempted", "failed", "metrics"}`:
    with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
    metrics of a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("daily_batch", "stream_ingest", "corpus_curation")
RUN_LIMIT_S = 170


def run_jvm(jar, jsa, work, args, deadline):
    report = os.path.join(work, "report.json")
    extra = [f"-XX:SharedArchiveFile={jsa}"] if jsa else []
    cmd = build.java_cmd(jar, work, extra) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(build.cores()), "--work", os.path.join(work, "w"),
        "--report", report]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"[perfbench] JVM run failed: {rc}")
    with open(report) as fh:
        return json.load(fh)


# -- correctness: DuckDB twins of the nine batch queries ----------------

def norm_row(row):
    return tuple(repr(float(v)) if isinstance(v, float) else repr(v) for v in row)


def rows_digest(rows):
    h = hashlib.sha256()
    for r in sorted(norm_row(r) for r in rows):
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_checks(report):
    """daily_batch: every query output of the cold and the last pass
    against its DuckDB twin. stream_ingest: the last fresh q1 against
    the q1 twin over the orders of the landed waves."""
    import duckdb
    wr = report["workload_report"]
    con = duckdb.connect()
    bound = wr.get("orders_key_bound")
    for t in ("orders", "customer", "nation"):
        where = f" WHERE o_orderkey < {bound}" if t == "orders" and bound else ""
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{wr['sf_dir']}/{t}.parquet/*.parquet'){where}")
    checks = []
    for q, sql in sorted(wr["oracle"].items()):
        rel = con.sql(sql)
        cols, want = rel.columns, rows_digest(rel.fetchall())
        if "fresh_q1" in wr:
            got_cols = wr["fresh_q1"]["columns"] or cols
            idx = [got_cols.index(c) for c in cols]
            got = rows_digest([[r[i] for i in idx] for r in wr["fresh_q1"]["rows"]])
            checks.append({"name": "stream.fresh_q1_equals_duckdb", "ok": got == want,
                           "detail": f"{got[0]} rows vs {want[0]} from DuckDB"})
            continue
        for kind, out in sorted(report["outputs"].items()):
            sel = ", ".join(f'"{c}"' for c in cols)
            got = rows_digest(con.sql(
                f"SELECT {sel} FROM read_parquet('{out}/{q}/*.parquet')").fetchall())
            checks.append({"name": f"batch.{kind}.{q}_equals_duckdb",
                           "ok": got == want,
                           "detail": f"{got[0]} rows vs {want[0]} from DuckDB"})
    return checks


# -- metrics -------------------------------------------------------------

def warm(report, traced):
    return [p for p in report["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def end_to_end(report):
    """Every end-to-end metric, from the untraced warm passes."""
    ps = warm(report, False)
    wl = report["workload"]
    walls = [p["wall_ms"] for p in ps]
    if wl == "stream_ingest":
        lat = [p["counters"]["wave_latency_ms"] for p in ps]
        rows = sum(p["counters"]["rows_committed"] for p in ps)
        rate = rows / (sum(p["counters"]["ingest_ms"] for p in ps) / 1e3)
    else:
        lat = walls
        rate = stats.median([report["input"]["rows"] / (w / 1e3) for w in walls])
    tail, pct, beyond = stats.tail(lat)
    setup = [s["session_ms"] + s["stage_ms"] for s in report["setup"]]
    m = {
        "setup_s": (stats.median(setup) / 1e3, "s", len(setup)),
        "cold_job_s": (report["passes"][0]["wall_ms"] / 1e3, "s", 1),
        "job_s": (stats.median(walls) / 1e3, "s", len(walls)),
        "cpu_s": (stats.median([p["cpu_ms"] for p in ps]) / 1e3, "s", len(ps)),
        "ingest_rows_per_s": (rate, "rows/s", len(ps)),
        "wave_latency_p50_ms": (stats.median(lat), "ms", len(lat)),
        "wave_latency_tail_ms": (tail, "ms", len(lat)),
        "fresh_query_p50_ms": (stats.median([p["counters"]["fresh_ms"] for p in ps]),
                               "ms", len(ps)),
    }
    notes = {"wave_latency_tail_ms": {"percentile": round(pct, 1),
                                      "samples_beyond": beyond}}
    return m, notes


# per-layer job aggregates: metric suffix -> job field
JOB_FIELDS = {
    "executor_cpu_ms": ("cpu_ms", "ms"), "tasks": ("tasks", "count"),
    "stages": ("stages", "count"), "input_bytes": ("input_bytes", "bytes"),
    "shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spill_bytes": ("spill_bytes", "bytes"), "task_deser_ms": ("deser_ms", "ms"),
    "task_queue_ms": ("queue_ms", "ms"), "gc_ms": ("gc_ms", "ms"),
}
# layer span name -> its job-derived metrics (README.md, per-layer table)
LAYERS = {
    "ingest.readTopic": ["input_bytes", "tasks"],
    "pipeline.PinQueries": ["executor_cpu_ms", "tasks", "stages", "input_bytes",
                            "shuffle_write_bytes", "spill_bytes", "task_deser_ms",
                            "task_queue_ms", "gc_ms"],
    "streaming": ["tasks", "executor_cpu_ms"],
    "pipeline.fresh_q1": ["tasks", "input_bytes"],
    "ext.Curation.pretrainingCorpus": ["executor_cpu_ms", "tasks", "stages",
                                       "shuffle_write_bytes", "spill_bytes",
                                       "task_deser_ms", "task_queue_ms"],
    "ext.Curation.curationFunnel": ["executor_cpu_ms", "tasks"],
    "ext.Sampling.pack": ["executor_cpu_ms", "tasks"],
}
WALL_LAYERS = ["ingest.readTopic", "pipeline.PinQueries", "pipeline.fresh_q1",
               "ext.Curation.pretrainingCorpus", "ext.Curation.curationFunnel",
               "ext.Sampling.pack"]
COUNTERS = {  # metric -> (counter, unit)
    "streaming.planning_ms": ("planning_ms", "ms"),
    "streaming.offset_log_ms": ("offset_log_ms", "ms"),
    "streaming.state_rows": ("state_rows", "count"),
    "streaming.state_bytes": ("state_bytes", "bytes"),
    "ingest.TxLog.write_ms": ("txlog_write_ms", "ms"),
    "ingest.TxLog.commits": ("commits", "count"),
    "ingest.TxLog.files_per_wave": ("files_per_wave", "count"),
    "ingest.TxLog.live_files": ("live_files", "count"),
    "ext.Pin.persisted_rdds_after": ("persisted_rdds_after", "count"),
}


def in_layer(name, layer):
    return name == layer or name.startswith(layer + ".")


def pass_layers(p, spans, jobs):
    """Per-layer values of one traced pass."""
    c = p["counters"]
    sp = [s for s in spans if s["pass"] == p["index"]]
    by_id = {s["id"]: s for s in sp}
    pj = [j for j in jobs if j["span"] in by_id]

    def wall(name):
        return sum(s["end_ms"] - s["start_ms"] for s in sp if s["name"] == name)

    v = {}
    for layer, fields in LAYERS.items():
        lj = [j for j in pj if in_layer(by_id[j["span"]]["name"], layer)]
        for f in fields:
            v[f"{layer}.{f}"] = sum(j[JOB_FIELDS[f][0]] for j in lj)
    for layer in WALL_LAYERS:
        v[f"{layer}.wall_ms"] = wall(layer)
    qs = [s["end_ms"] - s["start_ms"] for s in sp
          if s["name"].startswith("pipeline.PinQueries.")]
    v["pipeline.PinQueries.slowest_query_ms"] = max(qs, default=0.0)
    scanned = sum(j["input_bytes"] for j in pj)
    landed = c.get("landed_bytes", 0.0)
    v["pipeline.scan_amplification"] = scanned / landed if landed else 0.0
    stream_wall = sum(wall(f"streaming.{t}") for t in ("pin", "geo", "user"))
    v["streaming.query_start_ms"] = (stream_wall - c["trigger_ms"]) if stream_wall else 0.0
    v["ingest.TxLog.snapshot_ms"] = wall("ingest.TxLog.snapshot")
    for name, (key, _) in COUNTERS.items():
        v[name] = c.get(key, 0.0)
    root = next(s for s in sp if s["parent"] == -1)
    v["trace.span_coverage"] = stats.coverage(root, sp)
    return v


def per_layer(report, failed, attempted):
    """Every per-layer metric: medians over the traced warm passes, plus
    set-up, tracing overhead and the failure share."""
    traced, untraced = warm(report, True), warm(report, False)
    vals = [pass_layers(p, report["spans"], report["jobs"]) for p in traced]
    units = {f"{layer}.{f}": JOB_FIELDS[f][1] for layer, fs in LAYERS.items() for f in fs}
    units.update({f"{layer}.wall_ms": "ms" for layer in WALL_LAYERS})
    units.update({k: u for k, (_, u) in COUNTERS.items()})
    units.update({"pipeline.PinQueries.slowest_query_ms": "ms",
                  "pipeline.scan_amplification": "ratio",
                  "streaming.query_start_ms": "ms", "ingest.TxLog.snapshot_ms": "ms",
                  "trace.span_coverage": "ratio"})
    m = {k: (stats.median([v[k] for v in vals]), u, len(vals)) for k, u in units.items()}
    m["trace.span_coverage"] = (min(v["trace.span_coverage"] for v in vals), "ratio", len(vals))
    t_job = stats.median([p["wall_ms"] for p in traced]) / 1e3
    u_job = stats.median([p["wall_ms"] for p in untraced]) / 1e3
    m["trace.job_s_traced"] = (t_job, "s", len(traced))
    m["trace.job_s_untraced"] = (u_job, "s", len(untraced))
    m["trace_overhead_frac"] = (t_job / u_job - 1.0, "ratio", len(traced))
    setup = report["setup"]
    m["Engine.session_ms"] = (stats.median([s["session_ms"] for s in setup]), "ms", len(setup))
    m["setup.stage_ms"] = (stats.median([s["stage_ms"] for s in setup]), "ms", len(setup))
    m["failed_frac"] = (failed / attempted, "ratio", attempted)
    # JVM peak RSS varies by more than a tenth between runs of one
    # workload, so it is reported here rather than end to end
    m["rss_peak_mb"] = (report["rss_peak_kb"] / 1024.0, "MB", 1)
    tagged = sum(1 for j in report["jobs"] if j["tagged"])
    m["trace.jobs_tagged_frac"] = (tagged / max(1, len(report["jobs"])), "ratio",
                                   len(report["jobs"]))
    return m


def git_commit():
    """HEAD of the checkout, if the checkout is itself a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=build.ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(build.ROOT):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    why = build.missing()
    if why:
        sys.exit(f"[perfbench] cannot run: {why}")
    load_before = os.getloadavg()
    jar, jsa, source_stamp = build.build()
    deadline = time.time() + RUN_LIMIT_S
    work = tempfile.mkdtemp(prefix="run-", dir=build.build_dir())
    try:
        t0 = time.time()
        report = run_jvm(jar, jsa, work, args, deadline)
        jvm_s = time.time() - t0
        checks = list(report["checks"])
        if "oracle" in report["workload_report"]:
            checks += oracle_checks(report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            print(f"[perfbench] check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    failed = sum(1 for c in checks if not c["ok"])
    attempted = report["ops"] + len(checks)
    notes = {}
    if args.trace:
        metrics = per_layer(report, failed, attempted)
    else:
        metrics, notes = end_to_end(report)
    print(json.dumps({"stamp": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": build.cpus(), "spark_cores": report["cores"],
        "input": report["input"], "jdk": report["jdk"], "spark": report["spark"],
        "git_commit": git_commit(), "source_sha256_16": source_stamp,
        "class_data_archive": jsa is not None,
        "jvm_s": round(jvm_s, 3), "setups": report["setup"],
        "pass_ms": [round(p["wall_ms"]) for p in report["passes"]],
        "warm_elapsed_s": report["warm_elapsed_s"],
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "checks": len(checks)}}))
    print(json.dumps({"samples": {k: n for k, (_, _, n) in metrics.items()},
                      "notes": notes}))
    print(json.dumps({
        "correct": failed == 0 and len(checks) > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
