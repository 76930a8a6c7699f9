#!/usr/bin/env python3
"""Measures every streaming gate alone and picks the stream-gates pass.

Usage (from the repository root):
    python3 perfbench/survey_gates.py

Runs each `st` gate once cold, once warm and once traced in one JVM
(`perfbench.GateSurvey`, about seven minutes on 4 cores) and prints, per gate,
its times, its commit time (walCommit + commitOffsets + state-store commit)
and its file-system writes, with the class its figures put it in:

    rocksdb     state operators on the RocksDB state store
    state       state operators on the default (HDFS-backed) state store
    file-store  no state operator; micro-batches written to a file store that
                the gate lists (more than 100 listings per pass)
    light       none of these

The pass takes one gate from each of the first three classes: of the
combinations whose warm times add up to at most BUDGET_S, the one with the
most commit time per second of pass. The output ends with the pick and the
share of the family's warm time, commit time and file writes it covers.
The figures stay in .perfbench/survey.log.
"""
import itertools
import json
import os
import shutil

import run

CLASSES = ("state", "rocksdb", "file-store")
# Warm seconds of the three gates, as the survey measures them. Inside a run
# they take about 1.6 times as long; this keeps a stream-gates run near a
# minute on 4 cores.
BUDGET_S = 6.0


def gate_class(g):
    m = g["metrics"]
    if g["rocksdb"]:
        return "rocksdb"
    if m["stream.state_stores"] > 0:
        return "state"
    return "file-store" if m["fs.list_ops"] > 100 else "light"


def commit_ms(g):
    m = g["metrics"]
    return m["stream.wal_commit_ms"] + m["stream.commit_offsets_ms"] + m["stream.state_commit_ms"]


def main():
    classpath, _ = run.build()
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.makedirs(os.path.join(run.WORK, "tmp"))
    os.makedirs(run.KEEP, exist_ok=True)
    log = os.path.join(run.STATE, "survey.log")
    cpus = len(os.sched_getaffinity(0))
    rc = run.run_jvm(classpath, [run.SF, run.WORK, run.KEEP, str(cpus)], log,
                     main="perfbench.GateSurvey", timeout=1200)
    if rc != 0:
        run.fail(f"survey JVM failed (exit {rc}); see {log}")
    with open(log) as f:
        gates = [json.loads(line[line.index("GATE ") + 5:]) for line in f if "GATE {" in line]

    print(f"{'gate':28s} {'class':10s} {'cold_s':>6s} {'warm_s':>6s} {'commit_ms':>9s} "
          f"{'writes':>6s} {'MB_out':>6s} {'lists':>5s} {'batches':>7s} failed")
    for g in gates:
        m = g["metrics"]
        g["class"] = gate_class(g)
        print(f"{g['gate']:28s} {g['class']:10s} {g['cold_s']:6.2f} {g['warm_s']:6.2f} "
              f"{commit_ms(g):9.0f} {m['fs.write_ops']:6.0f} {m['fs.bytes_written'] / 1e6:6.2f} "
              f"{m['fs.list_ops']:5.0f} {m['stream.batches']:7.0f} {g['failures']}")

    by_class = [[g for g in gates if g["class"] == c] for c in CLASSES]
    fits = [p for p in itertools.product(*by_class)
            if sum(g["warm_s"] for g in p) <= BUDGET_S]
    if not fits:
        run.fail(f"no combination fits {BUDGET_S} s")
    pick = max(fits, key=lambda p: sum(map(commit_ms, p)) / sum(g["warm_s"] for g in p))

    def share(f):
        return sum(map(f, pick)) / sum(map(f, gates))
    print(f"pick: {' '.join(g['gate'] for g in pick)}: "
          f"{sum(g['warm_s'] for g in pick):.2f} s of the family's "
          f"{sum(g['warm_s'] for g in gates):.2f} s warm; covers "
          f"{share(lambda g: g['warm_s']):.1%} of its warm time, "
          f"{share(commit_ms):.1%} of its commit time, "
          f"{share(lambda g: g['metrics']['fs.write_ops']):.1%} of its file writes")


if __name__ == "__main__":
    main()
