#!/usr/bin/env python3
"""Summarise this checkout's timed runs: per workload, sources and
end-to-end metric, the median, the quartiles and the quartile spread as
a share of the median (the figure BENCHMARK.json's bounds are compared
with), and the share of CPU time the hypervisor stole during each run.
Records of different sources (engine or benchmark versions) are
summarised apart, never mixed.

Usage (from the root of the checkout, after some timed runs):

    python3 perfbench/spread.py
"""
import glob
import json
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    for path in sorted(glob.glob(os.path.join(BENCH, ".work", "records", "*.jsonl"))):
        name = os.path.basename(path)[:-len(".jsonl")]
        groups = {}
        with open(path) as f:
            for r in map(json.loads, filter(str.strip, f)):
                groups.setdefault(r.get("source_digest", "unknown"), []).append(r)
        for digest, recs in groups.items():
            summarise(f"{name} (sources {digest})", recs, bounds)


def summarise(title, recs, bounds):
    print(f"{title}: {len(recs)} runs, seeds {sorted(r['seed'] for r in recs)}")
    steal = [r["host_steal_frac"] for r in recs if "host_steal_frac" in r]
    if steal:
        print(f"  host steal per run: {' '.join(f'{x:.3f}' for x in steal)}")
    for m, bound in bounds.items():
        vs = [r["e2e"][m] for r in recs]
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bound / 3 else "  above a third of the bound"
            print(f"  {m:10s} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}"
                  f"  spread {spread:6.3f} (bound {bound}){flag}")
        else:
            print(f"  {m:10s} {med:9.4f}")


if __name__ == "__main__":
    main()
