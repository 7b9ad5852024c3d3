#!/usr/bin/env python3
"""Benchmark of the monthly close and of the multi-stage registered queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload close_month --seed 1 --seconds 5 --trace 0

It builds the program and the harness from source (perfbench/harness, sbt),
generates the inputs from --seed, runs one JVM with one SparkSession
(local[N], N = cores available), one client, operations one after another,
then checks every output outside the timed window. The last stdout line is
one JSON object: end-to-end metrics with --trace 0; with --trace 1 a second
JVM repeats the run with spans and listeners on, and the metrics are the
per-layer ones.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import tables  # noqa: E402

QUERIES = json.load(open(os.path.join(BENCH, "queries.json")))

WORKLOADS = {
    # a pass closes a clean month (cold), then a month with DQ defects
    "close_month": {"months": 2},
    # scale of the star schema; documents/embeddings are fixed-size
    "queries_multistage": {"sf": 0.001, "queries": [
        "k_truss", "conductance", "near_dup_components", "pca_power", "kaplan_meier",
        "curation_funnel", "dedup_threshold_curve"]},
}

END_TO_END = [("setup_s", "s"), ("first_op_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_max_s", "s"), ("rows_per_s", "rows/s"), ("peak_storage_mb", "MB")]

PER_LAYER = [
    ("fin.run_month_s", "s"), ("fin.run_month_jobs", "count"),
    ("fin.bi_export_s", "s"), ("fin.bi_export_jobs", "count"),
    ("fin.star_export_s", "s"), ("fin.star_export_jobs", "count"),
    ("fin.dashboard_s", "s"), ("fin.dashboard_jobs", "count"),
    ("fin.dq_exceptions", "count"),
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("operators.action_s", "s"), ("operators.action_jobs", "count"),
    ("graftbridge.storage_peak_mb", "MB"), ("graftbridge.cached_blocks", "count"),
    ("plans.analyze_ms", "ms"), ("plans.optimize_ms", "ms"), ("plans.planning_ms", "ms"),
    ("plans.exchanges", "count"), ("plans.scans", "count"),
    ("sources.scan_bytes", "bytes"), ("sources.scan_rows", "rows"),
    ("sources.write_bytes", "bytes"), ("sources.write_rows", "rows"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.idle_core_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]

JVM_TIMEOUT_S = 150
SETUPS = 5  # set-up time is the median of the set-up before the timed window and 4 after it
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Digest of everything the build reads; the build is redone when it changes."""
    files = [os.path.join(root, "build.sbt"), os.path.join(BENCH, "harness", "build.sbt")]
    files += glob.glob(os.path.join(root, "project", "*.*"))
    files += glob.glob(os.path.join(BENCH, "harness", "project", "*.*"))
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "harness", "src")):
        files += [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
    h = hashlib.sha256()
    for p in sorted(f for f in files if os.path.isfile(f)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, state):
    """Compiles the program and the harness; returns the runtime classpath."""
    os.makedirs(state, exist_ok=True)
    with open(os.path.join(state, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest(root)
        stamp, cp_file = os.path.join(state, "stamp"), os.path.join(state, "classpath")
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
            return open(cp_file).read()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if "sbt.repository.config" not in opts and os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(BENCH, "harness"), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
        lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp, "w") as f:
            f.write(digest)
        return lines[-1].strip()


def run_jvm(classpath, work, args, log):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launched = time.time()
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish in {JVM_TIMEOUT_S}s (log: {log})")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode} (log: {log})")
    return launched, json.load(open(args["out"]))


def measure(classpath, workload, seed, seconds, trace, work, reports, cfg):
    """One JVM run: generates inputs, runs the workload, returns its report."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(reports, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "cpus": cfg["cpus"], "work": work, "out": os.path.join(reports, f"{tag}.report.json")}
    args["setup_repeats"] = SETUPS - 1
    gen_s = [0.0] * SETUPS
    if "queries" in cfg:
        dirs = [work] + [os.path.join(work, f"setup-{k}") for k in range(1, SETUPS)]
        for i, d in enumerate(dirs):
            t0 = time.perf_counter()
            cfg["rows"], cfg["digest"] = tables.generate(os.path.join(d, "data"), cfg["sf"], seed)
            gen_s[i] = time.perf_counter() - t0
        args["queries"] = ",".join(cfg["queries"])
        args["tables"] = ",".join(sorted({t for q in cfg["queries"] for t in QUERIES[q]["tables"]}))
    else:
        args["months"] = cfg["months"]
    if trace:
        args["trace_out"] = os.path.join(reports, f"{tag}.trace.json")
    t_launch, report = run_jvm(classpath, work, args, os.path.join(reports, f"{tag}.log"))
    first = report["setup_done_ms"] / 1000.0 - t_launch + gen_s[0]
    report["setup_s"] = statistics.median(
        [first] + [r + g for r, g in zip(report["setup_repeats_s"], gen_s[1:])])
    report["report_path"] = args["out"]
    return report


def check_ops(report, work, cfg, corrupt=False):
    """Marks each operation with why its output is wrong (None when right);
    returns the failed operations. `corrupt` spoils every expected result."""
    ops = report["ops"]
    if "queries" in cfg:
        expected = checks.expected_answers(os.path.join(work, "data"), cfg["digest"], QUERIES,
                                           [o["name"] for o in ops if o["ok"] == "true"])
        if corrupt:
            for df in expected.values():
                df.iloc[0, 0] = "corrupted"
    for op in ops:
        why = op.get("error")
        if why is None:
            if "queries" in cfg:
                why = checks.same_result(op["result"], expected[op["name"]])
            else:
                why = checks.check_close(os.path.join(work, "close"), op, corrupt)
        op["check"] = why
    return [o for o in ops if o["check"] is not None]


def input_rows(op, work, cfg):
    if "queries" in cfg:
        return sum(cfg["rows"][t] for t in QUERIES[op["name"]]["tables"])
    return checks.raw_rows(os.path.join(work, "close", "raw", op["name"]))


def end_to_end(report, work, cfg):
    ops = report["ops"]
    first_pass = [o for o in ops if o["pass"] == 0]
    warm = [o["seconds"] for o in ops[1:]] or [ops[0]["seconds"]]
    wall = sum(o["seconds"] for o in first_pass)
    return {
        "setup_s": report["setup_s"],
        "first_op_s": ops[0]["seconds"],
        "wall_s": wall,
        "op_p50_s": statistics.median(warm),
        "op_max_s": max(o["seconds"] for o in ops),
        "rows_per_s": sum(input_rows(o, work, cfg) for o in first_pass) / wall,
        "peak_storage_mb": report["peak_storage_mb"],
    }


LAYER_CALLS = ("fin.run_month", "fin.bi_export", "fin.star_export", "fin.dashboard",
               "operators.construct", "operators.action")


def per_layer(report, spans, overhead_s):
    m = {name: 0.0 for name, _ in PER_LAYER}
    totals = {}
    for s in spans:
        for k, v in s["counters"].items():
            totals[k] = totals.get(k, 0.0) + v
        if s["kind"] == "call" and s["name"] in LAYER_CALLS:
            m[s["name"] + "_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
            m[s["name"] + "_jobs"] += s["counters"].get("jobs", 0.0)
    for k in ("analyze_ms", "optimize_ms", "planning_ms", "exchanges", "scans"):
        m["plans." + k] = totals.get(k, 0.0)
    for k in ("scan_bytes", "scan_rows", "write_bytes", "write_rows"):
        m["sources." + k] = totals.get(k, 0.0)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m["spark." + k] = totals.get(k, 0.0)
    timed = sum(o["seconds"] for o in report["ops"])
    m["spark.idle_core_s"] = timed * report["cpus"] - m["spark.executor_run_s"]
    m["graftbridge.storage_peak_mb"] = report["peak_storage_mb"]
    m["graftbridge.cached_blocks"] = report["rdd_blocks_stored"]
    m["fin.dq_exceptions"] = sum(int(o.get("defects", 0)) for o in report["ops"]
                                 if o["check"] is None)
    m["trace.overhead_s"] = overhead_s
    return m


def rollup(spans):
    """Self time, jobs, CPU and bytes per layer call, from the spans."""
    by = {}
    for s in spans:
        if s["kind"] == "job":
            continue
        # workload self time is the harness's own work between operations
        key = {"call": s["name"], "workload": "harness"}.get(s["kind"], s["kind"])
        r = by.setdefault(key, {"self_s": 0.0, "jobs": 0.0, "cpu_s": 0.0, "bytes": 0.0})
        c = s["counters"]
        r["self_s"] += s["self_ms"] / 1000.0
        r["jobs"] += c.get("jobs", 0.0)
        r["cpu_s"] += c.get("executor_cpu_s", 0.0)
        r["bytes"] += sum(c.get(k, 0.0) for k in (
            "scan_bytes", "write_bytes", "shuffle_read_bytes", "shuffle_write_bytes"))
    return by


def invocation(classpath, digest, workload, seed, seconds, trace, cfg, corrupt):
    """Measures, checks and scores one JVM run; writes and returns its report."""
    work = os.path.join(BENCH, ".work", workload)
    report = measure(classpath, workload, seed, seconds, trace, work,
                     os.path.join(BENCH, "reports"), cfg)
    report["failed"] = len(check_ops(report, work, cfg, corrupt))
    report["end_to_end"] = end_to_end(report, work, cfg)
    report["digest"] = digest
    shutil.rmtree(work, ignore_errors=True)
    with open(report["report_path"], "w") as f:
        json.dump(report, f, indent=1)
    return report


def run(workload, seed, seconds, trace, months=None, queries=None, corrupt=False):
    """One benchmark invocation; returns (result line dict, printable lines)."""
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program (no build.sbt or src/main/scala)")
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {sorted(WORKLOADS)}")
    cfg = dict(WORKLOADS[workload], cpus=len(os.sched_getaffinity(0)))
    if months is not None:
        cfg["months"] = months
    if queries is not None:
        cfg["queries"] = queries
    classpath = build(root, os.path.join(BENCH, ".build"))
    # the digest covers the program, the benchmark and the run's settings, so
    # a report is only reused by a traced run of the same code and seed
    bench_files = sorted(glob.glob(os.path.join(BENCH, "*.py")) + glob.glob(os.path.join(BENCH, "*.json")))
    digest = hashlib.sha256(json.dumps(
        [sources_digest(root), [open(p).read() for p in bench_files],
         workload, seed, seconds, cfg, corrupt], sort_keys=True).encode()).hexdigest()
    untraced_path = os.path.join(BENCH, "reports", f"{workload}-seed{seed}-trace0.report.json")
    untraced = None
    if trace and os.path.exists(untraced_path):
        untraced = json.load(open(untraced_path))
        if untraced.get("digest") != digest:
            untraced = None
    runs = []  # the JVM runs made by this invocation
    if untraced is None:
        untraced = invocation(classpath, digest, workload, seed, seconds, False, cfg, corrupt)
        runs.append(untraced)
    e2e = untraced["end_to_end"]
    units = dict(END_TO_END, error_rate="ratio")
    lines = [f"{workload} seed={seed} cpus={cfg['cpus']} ops={len(untraced['ops'])} "
             f"passes={untraced['passes']} failed={untraced['failed']}"]
    lines += [f"  FAILED {o['name']}: {o['check']}" for o in untraced["ops"] if o["check"]]
    printed = dict(e2e, error_rate=untraced["failed"] / len(untraced["ops"]))
    lines += [f"  {k} = {v:.6g} {units[k]}" for k, v in printed.items()]
    metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}

    if trace:
        traced = invocation(classpath, digest, workload, seed, seconds, True, cfg, corrupt)
        runs.append(traced)
        spans = json.load(open(traced["report_path"].replace(".report.json", ".trace.json")))
        layer = per_layer(traced, spans, traced["end_to_end"]["wall_s"] - e2e["wall_s"])
        units = dict(PER_LAYER)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        lines += [f"  traced run: {traced['report_path']} (spans: .trace.json beside it)"]
        lines += [f"  FAILED (traced) {o['name']}: {o['check']}" for o in traced["ops"] if o["check"]]
        lines += [f"  {k} = {v:.6g} {units[k]}" for k, v in layer.items()]
        for name, r in sorted(rollup(spans).items()):
            lines.append(f"  rollup {workload} {name}: self_s={r['self_s']:.3f} "
                         f"jobs={r['jobs']:.0f} cpu_s={r['cpu_s']:.3f} bytes={r['bytes']:.0f}")
    result = {"correct": all(r["failed"] == 0 for r in runs),
              "attempted": sum(len(r["ops"]) for r in runs),
              "failed": sum(r["failed"] for r in runs), "metrics": metrics}
    return result, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result, lines = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print("\n".join(lines))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
