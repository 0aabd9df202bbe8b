#!/usr/bin/env python3
"""Summarise the run records under .bench_build/perfbench/results.

    python3 perfbench/report.py

For each workload: the median of every end-to-end metric over the
untraced runs and over the traced runs, and their difference (the
tracing overhead), with the run counts.
"""
import glob
import json
import os
import statistics


def main():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    runs = {}
    for path in glob.glob(os.path.join(base, "perfbench", "results", "*-trace[01].json")):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], bool(rec["trace"])), []).append(rec)
    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, False), []), runs.get((workload, True), [])
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs")
        names = (plain or traced)[0]["end_to_end"].keys()
        for name in names:
            def med(recs):
                xs = [r["end_to_end"][name]["value"] for r in recs]
                return statistics.median(xs) if xs else None
            a, b = med(plain), med(traced)
            diff = f"{b - a:+.4g}" if a is not None and b is not None else "n/a"
            print(f"  {name:12s} untraced {a!s:>22} traced {b!s:>22} overhead {diff}")


if __name__ == "__main__":
    main()
