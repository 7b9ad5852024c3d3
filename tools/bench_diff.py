#!/usr/bin/env python3
"""Round-over-round bench adjudication: diff two bench_per_query.json
records (or a record vs a BENCH_r*.json tail line) and print per-query
deltas, so "is the total move real or noise?" is answerable from
artifacts instead of a re-measurement session (the r7 96->145s scare).

Usage:
  tools/bench_diff.py OLD.json NEW.json [--min-delta 0.5] [--min-ratio 1.5]
  tools/bench_diff.py --streaming OLD_stream.json NEW_stream.json

Reads the {"queries": {name: secs}} map from each file (first JSON line
holding one). Queries present in only one file are listed separately.
When both records carry Bench's per-query "counters" ({jobs, cpu_s,
draws} of the best draw), each moved query is labelled "host" (same jobs,
executor CPU within --min-ratio: the host ran slower or faster) or
"query" (jobs or CPU moved: the query changed). Records taken at different
"cpus" are not comparable, and a warning says so.
With --streaming, diffs the per-gate rates of the "streaming" field of a
bench record, or of an older {"metric":"streaming_throughput", gate:
{"rows_per_s":...}} file (reports/streaming_throughput*.json).
A uniform inflation across families reads as machine load; isolated
spikes read as plan regressions - the median ratio at the bottom makes
that call quickly.
"""
import json, sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(d, dict) and isinstance(d.get("queries"), dict):
                return d
    raise SystemExit(f"{path}: no JSON line with a 'queries' map")


def load_streaming(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(d, dict) and isinstance(d.get("streaming"), dict):
                d = d["streaming"]
            if isinstance(d, dict) and d.get("metric") == "streaming_throughput":
                return {k: v for k, v in d.items()
                        if isinstance(v, dict) and "rows_per_s" in v}
    raise SystemExit(f"{path}: no streaming_throughput JSON line or field")


def diff_streaming(old_path, new_path):
    old, new = load_streaming(old_path), load_streaming(new_path)
    print(f"{'gate':20s} {'old r/s':>10s} {'new r/s':>10s} {'ratio':>7s}")
    for k in sorted(set(old) | set(new)):
        a = old.get(k, {}).get("rows_per_s")
        b = new.get(k, {}).get("rows_per_s")
        r = f"{b / a:6.2f}x" if a and b else "   n/a"
        print(f"{k:20s} {a if a is not None else '-':>10} "
              f"{b if b is not None else '-':>10} {r:>7s}")


def main():
    if "--streaming" in sys.argv[1:]:
        paths = [a for a in sys.argv[1:] if not a.startswith("--")]
        if len(paths) != 2:
            raise SystemExit(__doc__)
        return diff_streaming(*paths)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a.lstrip("-").split("=", 1) if "=" in a else (a.lstrip("-"), True)
                for a in sys.argv[1:] if a.startswith("--"))
    if len(args) != 2:
        raise SystemExit(__doc__)
    min_delta = float(opts.get("min-delta", 0.5))
    min_ratio = float(opts.get("min-ratio", 1.5))
    old, new = load(args[0]), load(args[1])
    oq = {k: v for k, v in old["queries"].items() if v >= 0}
    nq = {k: v for k, v in new["queries"].items() if v >= 0}
    for tag, d, q in (("old", old, oq), ("new", new, nq)):
        print(f"{tag}: total={sum(q.values()):8.1f}s n={len(q)} sf={d.get('sf')} "
              f"iters={d.get('iters')} cpus={d.get('cpus')}")
    if old.get("cpus") != new.get("cpus"):
        print(f"WARNING: cpus differ ({old.get('cpus')} vs {new.get('cpus')}); "
              "per-query times may not be comparable")
    shared = sorted(set(oq) & set(nq))
    moved = []
    for k in shared:
        a, b = oq[k], nq[k]
        d = b - a
        r = b / a if a > 0 else float("inf")
        if abs(d) >= min_delta and (r >= min_ratio or r <= 1 / min_ratio):
            moved.append((d, r, k, a, b))
    oc, nc = old.get("counters") or {}, new.get("counters") or {}

    def cause(k):
        a, b = oc.get(k), nc.get(k)
        if not (a and b):
            return ""
        ca, cb = a["cpu_s"], b["cpu_s"]
        cpu_moved = ca > 0 and not (1 / min_ratio < cb / ca < min_ratio)
        label = "query" if a["jobs"] != b["jobs"] or cpu_moved else "host"
        return (f"  [{label}: jobs {a['jobs']}->{b['jobs']}, "
                f"cpu {ca:.2f}->{cb:.2f}s]")

    if moved:
        print(f"\nmoved (|delta| >= {min_delta}s and ratio >= {min_ratio}x):")
        for d, r, k, a, b in sorted(moved, key=lambda t: -abs(t[0])):
            print(f"  {k:32s} {a:7.2f} -> {b:7.2f}  ({d:+6.2f}s, {r:5.2f}x){cause(k)}")
    else:
        print("\nno per-query moves past thresholds")
    unmeasured = set(old.get("unmeasured") or []) | set(new.get("unmeasured") or [])
    only_new = sorted(set(nq) - set(oq) - unmeasured)
    only_old = sorted(set(oq) - set(nq) - unmeasured)
    for tag, d in (("old", old), ("new", new)):
        if d.get("unmeasured"):
            print(f"\n{tag}: {len(d['unmeasured'])} queries left unmeasured at the deadline")
    if only_new:
        add = sum(nq[k] for k in only_new)
        print(f"\nnew-only queries (+{add:.1f}s): " +
              ", ".join(f"{k}={nq[k]:.2f}" for k in only_new))
    if only_old:
        print("\nremoved queries: " + ", ".join(only_old))
    # uniform-inflation check: median ratio over shared queries
    ratios = sorted(nq[k] / oq[k] for k in shared if oq[k] > 0.05)
    if ratios:
        med = ratios[len(ratios) // 2]
        print(f"\nmedian shared-query ratio: {med:.2f}x "
              f"({'uniform shift - suspect machine/load' if med > 1.2 or med < 0.8 else 'flat'})")


if __name__ == "__main__":
    main()
