#!/usr/bin/env python3
"""Benchmark driver: builds the program, generates seeded inputs, runs
one workload in a fresh JVM, checks every output, prints the metrics.

    python3 perfbench/run.py --workload sync|relational|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. A run measures a fixed amount of work:
one round of the workload (four when traced), however long it takes;
--seconds is accepted and recorded but does not change the work. The
last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}; with --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones (see
perfbench/README.md). Build output goes to
.bench_build/, run scratch to .bench_runs/<workload>-<seed>-t<trace>/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
DEADLINE_S = 175          # seconds a run may take after the build
HEAP = "3g"               # benchmark JVM heap

# input sizes (see README.md, "Sizing")
TABLE_SF, N_DOCS, N_VECS = 0.01, 500, 500
FLEET_VENDORS, FLEET_ITEMS, FLEET_SYNCS = 12, 600, 2

# contract metrics (every workload) and the workload-specific names of
# the report line; op_* are over the workload's operations: queries, or
# syncs (op_p50_s over incremental syncs only)
E2E = ["setup_s", "wall_s", "op_p50_s", "op_tail_s"]
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "heap_peak_mb": "MB", "op_p50_s": "s",
    "op_tail_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "sync_initial_s": "s", "sync_p50_s": "s", "failed_frac": "ratio",
}
WORKLOADS = ("curation", "relational", "sync")
LAYER_UNITS = {
    "pipeline.driver_s": "s", "pipeline.jobs_per_sync": "count",
    "sources.parse_s": "s", "sources.scan_mb": "MB",
    "ops.enrich_s": "s", "ops.match_s": "s", "ops.aggregate_s": "s",
    "ops.match_hit_ratio": "ratio", "ops.exact_share": "ratio",
    "sink.read_s": "s", "sink.write_s": "s", "sink.merge_s": "s",
    "sink.write_mb": "MB", "sink.rows_written_per_changed_row": "ratio",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.eager_jobs": "count",
    "queries.driver_only_s": "s", "queries.index_build_s": "s",
    "functions.kernel_task_cpu_s": "s",
    "plans.rule_s": "s", "plans.rule_effective_ratio": "ratio",
    "spark.analysis_s": "s", "spark.optimizer_s": "s", "spark.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.scheduler_delay_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.gc_s": "s", "spark.cache_peak_mb": "MB", "spark.failed_tasks": "count",
    "trace.overhead": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep) for f in fs)
        for f in paths:
            if f.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in f:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark JVM once per source state;
    return (classpath, jvm options)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no program sources here: run from the repository root")
    stamp = _source_stamp()
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    opts_file = os.path.join(HERE, "target", "bench.javaopts")
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(cp_file) and os.path.exists(opts_file))
    if not fresh:
        log("building (sbt)")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                           " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g").strip()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(cp_file):
            fail(f"build failed (exit {rc}); see .bench_build/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    opts = [o for o in open(opts_file).read().split("\n") if o and not o.startswith("-Xmx")]
    return open(cp_file).read().strip(), opts


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest whole percentile with at least 10 samples beyond it
    (nearest rank); with 20 samples or fewer that would sit at or below
    the median, so the tail is then the maximum: (value, percentile, n)."""
    n = len(xs)
    if n <= 20:
        return max(xs), 100, n
    pct = math.floor(100.0 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted(xs)[rank - 1], pct, n


def end_to_end(workload, res, gen_s, good_ops):
    """Contract metrics plus the report line's workload-specific ones,
    over round 0 (the one round of an untraced run), failed operations
    excluded."""
    ops = [o for o in good_ops if o["round"] == 0]
    secs = [o["seconds"] for o in ops]
    tail_s, pct, n = tail(secs)
    m = {
        "setup_s": res["jvm_start_s"] + gen_s + res["setup_s"] + res["warmup_s"],
        "wall_s": sum(secs),
        "heap_peak_mb": res["heap_peak_mb"],
        "op_tail_s": tail_s,
    }
    info = {"op_tail": {"percentile": pct, "n": n}}
    if workload == "sync":
        m["sync_initial_s"] = median([o["seconds"] for o in ops if o["kind"] == "sync_initial"])
        m["sync_p50_s"] = m["op_p50_s"] = median(
            [o["seconds"] for o in ops if o["kind"] == "sync"])
    else:
        m["query_p50_s"] = m["op_p50_s"] = median(secs)
        m["query_tail_s"] = tail_s
    return m, info


def per_layer(res, good_ops):
    """Per-layer figures of the traced cold round (round 0), and the
    tracing overhead: traced round 2 over the mean of untraced rounds 1
    and 3, which cancels a steady warm-up drift."""
    traced = [o for o in good_ops if o["traced"] and o["round"] == 0]
    n = max(1, len(traced))

    def total(k):
        return sum(o["layers"].get(k, 0.0) for o in traced)

    def ratio(a, b):
        return total(a) / total(b) if total(b) > 0 else 0.0

    m = {k: total(k) / n for k in LAYER_UNITS}
    m["ops.match_hit_ratio"] = ratio("ops.match_hits", "ops.match_names")
    m["ops.exact_share"] = ratio("ops.exact_hits", "ops.match_hits")
    m["sink.rows_written_per_changed_row"] = ratio("sink.rows_written", "sink.changed_rows")
    m["plans.rule_effective_ratio"] = ratio("plans.rule_effective", "plans.rule_runs")
    m["queries.index_build_s"] = sum(res["index_s"].values())
    m["spark.cache_peak_mb"] = res["cache_peak_mb"]

    def wall(r):
        return sum(o["seconds"] for o in good_ops if o["round"] == r)
    m["trace.overhead"] = wall(2) / ((wall(1) + wall(3)) / 2)
    return m


# ------------------------------------------------------------------ run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, jvm_opts = build()
    import check  # needs the repository's tools/, present once build() passed
    t_begin = time.monotonic()  # the time limit of a run starts after the build

    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    t0 = time.monotonic()
    if a.workload == "sync":
        expected = gen.write_fleet(data, a.seed, FLEET_VENDORS, FLEET_ITEMS, FLEET_SYNCS)
    else:
        gen.write_tables(data, a.seed, TABLE_SF, N_DOCS, N_VECS)
    gen_s = time.monotonic() - t0

    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", *jvm_opts,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--data", data, "--run", run_dir,
            "--trace", str(a.trace)])
    budget = DEADLINE_S - (time.monotonic() - t_begin)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, frame):  # a run that is stopped stops its JVM first
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10.0, budget - 15))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded its time budget; see {run_dir}/jvm.log")
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited {rc}; see {run_dir}/jvm.log")
    res = json.load(open(result_file))

    # output checks (outside every timed span)
    t0 = time.monotonic()
    bad = {}
    if a.workload == "sync":
        creds_db = {}
        with open(os.path.join(data, "creds.json")) as f:
            for line in f:
                c = json.loads(line)
                creds_db[c["vendorId"]] = c["database"]
        for i, o in enumerate(res["ops"]):
            if not o["error"]:
                why = check.check_sync(o["extra"]["summary"], expected[o["extra"]["step"]], creds_db)
                if why:
                    bad[i] = why
    else:
        verdict = check.check_queries(os.path.join(run_dir, "check"), data,
                                      [(o["round"], o["name"]) for o in res["ops"]
                                       if not o["error"]], log)
        for i, o in enumerate(res["ops"]):
            if verdict.get((o["round"], o["name"])):
                bad[i] = verdict[(o["round"], o["name"])]
    check_s = time.monotonic() - t0

    failed = {i: o["error"] for i, o in enumerate(res["ops"]) if o["error"]}
    failed.update({i: why for i, why in bad.items() if i not in failed})
    good_ops = [o for i, o in enumerate(res["ops"]) if i not in failed]
    for i, why in sorted(failed.items())[:20]:
        log(f"FAILED {res['ops'][i]['name']} (round {res['ops'][i]['round']}): {why}")
    attempted = len(res["ops"])
    if not good_ops:
        fail("every operation failed")

    e2e, info = end_to_end(a.workload, res, gen_s, good_ops)
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "rounds": res["rounds"], "timed_s": res["timed_s"],
        "cores": res["cores"],
        **{k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "failed_frac": {"value": len(failed) / attempted, "unit": "ratio"},
        **info,
        "setup_parts": {k: res[k] for k in ("jvm_start_s", "session_s", "setup_s",
                                            "warmup_s")} | {"gen_s": gen_s},
        "check_s": check_s,
    }
    if a.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in per_layer(res, good_ops).items()}
        report["spans"] = os.path.relpath(os.path.join(run_dir, "spans.jsonl"), ROOT)
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E}
    print("report " + json.dumps(report))
    # keep the record and the spans; drop generated inputs and derived state
    for d in os.listdir(run_dir):
        if d not in ("result.json", "spans.jsonl", "jvm.log"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
