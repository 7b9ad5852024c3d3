#!/usr/bin/env python3
"""Self-test of the benchmark, at scale 0.001 with one month.

    python3 perfbench/selftest.py        # from the root of a checkout

Asserts that every end-to-end and per-layer metric is emitted with its unit,
and that a deliberately corrupted expected result is reported as a failed
operation, never as a fast success. Takes a few minutes.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

SEED = 424242
CASES = {"close_month": {"months": 1},
         "queries_multistage": {"queries": ["conductance", "dedup_threshold_curve"]}}


def main():
    for workload, opts in CASES.items():
        result, lines = run.run(workload, SEED, 0, True, **opts)
        print("\n".join(lines))
        assert result["correct"] and result["failed"] == 0, result
        for name, unit in run.END_TO_END + [("error_rate", "ratio")]:
            assert any(ln.startswith(f"  {name} = ") and ln.endswith(f" {unit}")
                       for ln in lines), (workload, name, unit)
        for name, unit in run.PER_LAYER:
            assert result["metrics"][name]["unit"] == unit, (workload, name)
        assert any(ln.startswith(f"  rollup {workload} ") for ln in lines), workload

        bad, lines = run.run(workload, SEED, 0, False, corrupt=True, **opts)
        print("\n".join(lines))
        assert not bad["correct"] and bad["failed"] == bad["attempted"] >= 1, bad
    print("selftest OK")


if __name__ == "__main__":
    main()
