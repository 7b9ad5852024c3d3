#!/usr/bin/env python3
"""Empirical scaling curves: run the bench at several SFs and report how
each query's wall-time scales with data size — the measured answer to
"would this plan survive a 100x scale-up?".

Usage: tools/scaling.py [outJson]  (default reports/scaling.json)

Runs graft.Bench once per SF in {sf0.001, sf0.01, sf0.1} with the
per-query report redirected, then computes, per query, the ratio
t(sf0.1)/t(sf0.01) — data grows 10x, so a ratio near 1 is
overhead-dominated, near 10 is linear, well past 10 is super-linear
(the scale smell this report exists to catch). Queries faster than
50 ms at sf0.01 are tagged overhead-bound rather than ratio'd: their
denominators measure the harness, not the plan.
"""
import json, os, subprocess, sys

SFS = ["sf0.001", "sf0.01", "sf0.1"]
OUT = sys.argv[1] if len(sys.argv) > 1 else "reports/scaling.json"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(sf):
    # each SF's numbers are what this invocation measured: one bench run,
    # never merged with an earlier run's file
    path = f"/tmp/scaling_{sf}.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=f"/root/testdata/{sf}",
               SPARK_GRAFT_BENCH_ITERS="3",
               SPARK_GRAFT_BENCH_REPORT=path)
    print(f"== bench {sf}", flush=True)
    # plain-java fork (tools/run_bench.sh, which also defaults the session
    # width to every core), not sbt: no build-server contention and no
    # per-leg sbt startup in the timing environment
    subprocess.run(["tools/run_bench.sh", "", path], env=env, cwd=ROOT,
                   check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    return json.load(open(path))


def main():
    runs = {sf: run(sf) for sf in SFS}
    qsets = [set(r["queries"]) for r in runs.values()]
    shared = sorted(set.intersection(*qsets))
    per_query = {}
    for q in shared:
        t = {sf: runs[sf]["queries"][q] for sf in SFS}
        if any(v < 0 for v in t.values()):
            continue
        entry = {"secs": {sf: round(t[sf], 4) for sf in SFS}}
        if t["sf0.01"] >= 0.05:
            entry["ratio_10x"] = round(t["sf0.1"] / t["sf0.01"], 2)
        else:
            entry["overhead_bound"] = True
        per_query[q] = entry
    ratios = sorted((v["ratio_10x"], k) for k, v in per_query.items()
                    if "ratio_10x" in v)
    report = {
        "sfs": SFS,
        "totals": {sf: round(runs[sf]["value"], 2) for sf in SFS},
        "iters": runs[SFS[0]].get("iters"),
        "cpus": runs[SFS[0]].get("cpus"),
        "n_queries": len(per_query),
        "worst_ratio_10x": [{"query": k, "ratio": r} for r, k in ratios[-10:][::-1]],
        "median_ratio_10x": ratios[len(ratios) // 2][0] if ratios else None,
        "per_query": per_query,
    }
    os.makedirs(os.path.dirname(OUT) or ".", exist_ok=True)
    json.dump(report, open(OUT, "w"), indent=1, sort_keys=True)
    print(f"totals: {report['totals']}")
    print(f"median 10x-data ratio: {report['median_ratio_10x']}")
    print("worst ratios (10x data -> Nx time):")
    for w in report["worst_ratio_10x"]:
        print(f"  {w['query']:32s} {w['ratio']:6.2f}x")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
