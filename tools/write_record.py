#!/usr/bin/env python3
"""Promote bench_last.json to bench_record.json (driver-side tooling).

Run after a verified-quiet full-map bench (sentinel grade_spread, the
cleanest per-pass bracket, <= ~1.15; artifacts older than grade_spread
are gated on the overall sentinel spread).
Writes the new record with the reset protocol tagged, and preserves
the previous record's per-key map under a history key (the in-JVM
record parser matches only the exact '"queries":{' prefix, so the
history key is invisible to it).

Usage: python3 tools/write_record.py [--force]
       python3 tools/write_record.py --compose run1.json run2.json ...

--compose takes the per-key MIN across several saved best-of-2-reset
artifacts (per key that is a best-of-2N; each key needs one quiet
visit among 2N passes) — for hosts that never hand out a single
spread<=1.15 window. The composed record carries every source run's
noise block so the provenance is auditable.
"""
import json
import sys

if "--compose" in sys.argv:
    paths = sys.argv[sys.argv.index("--compose") + 1:]
    runs = [json.load(open(p)) for p in paths]
    assert runs, "--compose needs at least one artifact path"
    keys = set().union(*[r["queries"].keys() for r in runs])
    queries = {k: min(r["queries"][k] for r in runs
                      if r["queries"].get(k, -1) >= 0)
               for k in sorted(keys)}
    last = {
        "value": sum(queries.values()),
        "protocol": runs[0].get("protocol", "best_of_2_reset")
                    + f"_composite_min_{len(runs)}_runs",
        "noise": {"source_runs": [r.get("noise", {}) for r in runs]},
        "queries": queries,
        "errors": {},
        "sf": runs[0].get("sf", ""),
    }
    spread = 0.0
else:
    last = json.load(open("/root/repo/bench_last.json"))
    # grade_spread is the gate when the artifact carries it; older
    # artifacts only have the raw sentinel spread
    noise = last.get("noise", {})
    spread = noise.get("grade_spread", noise.get("spread", -1))
    quality = noise.get("window_quality", "unknown")
    if spread > 1.15 and "--force" not in sys.argv:
        sys.exit(f"refusing: sentinel grade spread {spread:.3f} > 1.15 "
                 f"(quality={quality}); rerun in a quieter window or --force")

old = json.load(open("/root/repo/bench_record.json"))
old_queries = old.get("queries", {})
history = old.get("history", {})
# keep exactly one entry per superseded protocol generation
if "protocol" not in old:
    history["warm_single_pass_r10"] = {
        "value": old.get("value"), "queries": old_queries}
else:
    history[f"{old['protocol']}_superseded"] = {
        "value": old.get("value"), "queries": old_queries}

rec = {
    "metric": "total",
    "value": last["value"],
    "unit": "sec",
    "protocol": last.get("protocol", "best_of_2_reset"),
    "noise": last.get("noise", {}),
    "queries": last["queries"],
    "errors": last.get("errors", {}),
    "sf": last.get("sf", ""),
    "history": history,
}
with open("/root/repo/bench_record.json", "w") as f:
    json.dump(rec, f, separators=(",", ":"))
print(f"record <- total {last['value']:.1f}s, protocol {rec['protocol']}")
