#!/usr/bin/env python3
"""Compares benchmark records, or tabulates which counters repeat exactly.

Usage:
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl
        Per workload and end-to-end metric: each side's median and quartiles,
        the change against the bound in BENCHMARK.json, and a verdict.
        Refuses (exit 2) to pair records made at different core counts.
    python3 perfbench/compare.py --repeatability RECORDS.jsonl...
        For every exec.*, mr.*, stream.* and fs.* counter of the traced
        records, per workload: whether it repeated exactly across all runs,
        whether it did across runs of the same seed, and its range.

The records are the lines run.py appends to .perfbench/results/<workload>.jsonl.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTER_PREFIXES = ("exec.", "mr.", "stream.", "fs.")
# Timings and ratios of timings; everything else under the prefixes counts work.
NOT_COUNTERS = ("_ms", "_util", "_share", "_skew", "_ratio")


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs += [json.loads(line) for line in f if line.strip()]
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def compare(base, new):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    base = [r for r in base if not r["env"]["trace"]]
    new = [r for r in new if not r["env"]["trace"]]
    stamps = {(r["env"]["cpus"], r["env"]["master"]) for r in base + new}
    if len(stamps) > 1:
        print(f"refusing to compare: records come from different core counts {sorted(stamps)}",
              file=sys.stderr)
        return 2
    rc = 0
    for wl in sorted({r["env"]["workload"] for r in base} & {r["env"]["workload"] for r in new}):
        b = [r for r in base if r["env"]["workload"] == wl]
        n = [r for r in new if r["env"]["workload"] == wl]
        print(f"{wl}: {len(b)} base runs, {len(n)} new runs")
        for name, m in bounds.items():
            bv = [r["metrics"][name]["value"] for r in b]
            nv = [r["metrics"][name]["value"] for r in n]
            bq1, bmed, bq3 = quartiles(bv)
            nq1, nmed, nq3 = quartiles(nv)
            worse = (nmed - bmed) / bmed if m["better"] == "lower" else (bmed - nmed) / bmed
            spread = (bq3 - bq1) / bmed
            if worse > m["bound"]:
                verdict, rc = "REGRESSED", 1
            elif spread > m["bound"]:
                verdict = "unresolved (base spread above bound)"
            else:
                verdict = "within bound"
            print(f"  {name:18s} base {bmed:10.4g} [{bq1:.4g}, {bq3:.4g}]  "
                  f"new {nmed:10.4g} [{nq1:.4g}, {nq3:.4g}]  worse by {worse:+.1%} "
                  f"(bound {m['bound']:.0%})  {verdict}")
        bf = sum(r["failed"] for r in b)
        nf = sum(r["failed"] for r in n)
        print(f"  failed operations: base {bf}, new {nf}")
    return rc


def repeatability(recs):
    table = {}
    for wl in sorted({r["env"]["workload"] for r in recs if r["env"]["trace"]}):
        runs = [r for r in recs if r["env"]["trace"] and r["env"]["workload"] == wl]
        names = sorted(k for k in runs[0]["metrics"]
                       if k.startswith(COUNTER_PREFIXES) and not k.endswith(NOT_COUNTERS))
        table[wl] = {"runs": len(runs), "seeds": sorted({r["env"]["seed"] for r in runs}),
                     "counters": {}}
        for k in names:
            vs = [r["metrics"][k]["value"] for r in runs]
            by_seed = {}
            for r in runs:
                by_seed.setdefault(r["env"]["seed"], set()).add(r["metrics"][k]["value"])
            table[wl]["counters"][k] = {
                "exact": len(set(vs)) == 1,
                "exact_same_seed": all(len(v) == 1 for v in by_seed.values()),
                "min": min(vs), "max": max(vs)}
    print(json.dumps(table, indent=1))
    return 0


def main(argv):
    if len(argv) >= 2 and argv[0] == "--repeatability":
        return repeatability(load(argv[1:]))
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    return compare(load([argv[0]]), load([argv[1]]))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
