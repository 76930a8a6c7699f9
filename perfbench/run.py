#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload stream-gates --seed 1 --seconds 25 --trace 0

Builds the program and the harness from source (once per source change),
runs the workload in a fresh JVM with `local[N]` (N = nproc), checks every
output, writes the full record to .perfbench/results/<workload>.jsonl and
prints it, then prints the metrics as the last line of standard output.
`--trace 1` runs the traced variant and prints the per-layer metrics instead.
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
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# Kept across runs, as graft.Bench keeps them: the metastore and the warehouse.
# The first run of a checkout creates them.
KEEP = os.path.join(STATE, "keep")
WORK = os.path.join(STATE, "run")
SF = "/root/testdata/sf0.1"  # the read-only sf0.1 tables of TESTDATA.md
HEAP = "4g"
WORKLOADS = ("sql-star", "mr-corpus", "text-vector", "stream-gates")
JVM_TIMEOUT_S = 150

# Generated corpus for mr-corpus: documents of Zipf-distributed words, each
# tagged with one of four sources, skewed toward source 0.
CORPUS_DOCS = 5000
CORPUS_WORDS_PER_DOC = 50
CORPUS_VOCAB = 100000
CORPUS_ZIPF_S = 1.1
CORPUS_SOURCES = (0.7, 0.1, 0.1, 0.1)
CORPUS_FILES = 8

# Spark 4 on JDK 17 outside spark-submit, as the repository's build sets them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        if not os.path.exists(top):
            fail(f"missing {rel}: run from a full checkout of the repository")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt; returns the classpath."""
    digest = source_digest()
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"], digest
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")  # no /tmp/hsperfdata
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def make_corpus(seed, out_dir):
    import numpy as np
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:x}" for i in rng.permutation(CORPUS_VOCAB)])
    p = 1.0 / np.arange(1, CORPUS_VOCAB + 1) ** CORPUS_ZIPF_S
    words = vocab[rng.choice(CORPUS_VOCAB, CORPUS_DOCS * CORPUS_WORDS_PER_DOC, p=p / p.sum())]
    words = words.reshape(CORPUS_DOCS, CORPUS_WORDS_PER_DOC)
    sources = rng.choice(len(CORPUS_SOURCES), CORPUS_DOCS, p=CORPUS_SOURCES)
    os.makedirs(out_dir)
    per_file = math.ceil(CORPUS_DOCS / CORPUS_FILES)
    docs = []
    for i in range(CORPUS_FILES):
        with open(os.path.join(out_dir, f"part-{i:05d}.txt"), "w") as f:
            for d in range(i * per_file, min(CORPUS_DOCS, (i + 1) * per_file)):
                ws = [str(w) for w in words[d]]
                docs.append((d, int(sources[d]), ws))
                f.write(f"{d}\t{sources[d]}\t{' '.join(ws)}\n")
    return docs


def run_jvm(classpath, args, log_path, main="perfbench.Main", timeout=JVM_TIMEOUT_S):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}/tmp",
           f"-Dderby.stream.error.file={KEEP}/derby.log",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep both in the run.
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on a timeout or a signal: leave no JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ---------------------------------------------------------------- checks

def digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def canon_digest(check, con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    c, r = check.canon(cur.fetchall(), cols)
    return {"rows": len(r), "sha256": digest(c, r)}


def check_outputs(res, docs):
    """Returns {query: None if correct, else what is wrong}. Queries are
    compared with their DuckDB oracle over the same tables, the Layer A jobs
    with a plain-Python reference over the generated corpus, both through
    the canonical form of tools/check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    cache_dir = os.path.join(STATE, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    expected_mr = mr_expected(docs) if docs is not None else {}
    verdicts = {}
    for name in res["checked"]:
        out = os.path.join(WORK, "out", name)
        got = canon_digest(check, con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
        if name in expected_mr:
            cols, rows = expected_mr[name]
            c, r = check.canon(rows, cols)
            want = {"rows": len(r), "sha256": digest(c, r)}
        elif name in res["oracle_sql"]:
            # The oracle's answer over the fixed tables is computed once per checkout.
            sql = res["oracle_sql"][name]
            key = hashlib.sha256((SF + sql).encode()).hexdigest()[:16]
            cached = os.path.join(cache_dir, f"{name}-{key}.json")
            if os.path.exists(cached):
                with open(cached) as f:
                    want = json.load(f)
            else:
                want = canon_digest(check, con, sql)
                with open(cached, "w") as f:
                    json.dump(want, f)
        else:
            verdicts[name] = "no oracle"
            continue
        verdicts[name] = None if want == got else \
            f"rows {got['rows']} vs expected {want['rows']}, digest differs"
    return verdicts


def mr_expected(docs):
    """Reference answers for the Layer A jobs, computed in plain Python."""
    counts, vocab, first = {}, {}, {}
    for d, src, ws in docs:
        vocab.setdefault(src, set()).update(ws)
        for i, w in enumerate(ws):
            counts[w] = counts.get(w, 0) + 1
            if w not in first:
                first[w] = (d, i)
    return {
        "mr_word_count": (["key", "value"], list(counts.items())),
        "mr_source_vocabulary": (["source", "n_distinct_words"],
                                 [(s, len(v)) for s, v in vocab.items()]),
        "mr_first_occurrence": (["word", "doc_id", "pos"],
                                [(w, d, i) for w, (d, i) in first.items()]),
    }


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1] \
        if len(xs) > 1 else xs[0]


def end_to_end(res, workload):
    wall = statistics.median(res["warm_pass_s"])
    q = res["query_s"]
    m = {
        "setup_s": (res["setup_s"], "s", 1),
        "wall_s": (wall, "s", len(res["warm_pass_s"])),
        "first_pass_s": (res["first_pass_s"], "s", 1),
        "query_p50_s": (quantile(q, 0.5), "s", len(q)),
        "query_p90_s": (quantile(q, 0.9), "s", len(q)),
        "rows_per_s": (res["input_records_per_pass"] / wall, "1/s", len(res["warm_pass_s"])),
        "heap_live_peak_mb": (max(res["heap_live_mb"]), "MB", len(res["heap_live_mb"])),
    }
    if workload == "stream-gates":
        b = res["batch_ms"]
        m["batch_p50_ms"] = (quantile(b, 0.5), "ms", len(b))
        m["batch_p90_ms"] = (quantile(b, 0.9), "ms", len(b))
    return m


def main():
    # A terminated run unwinds through run_jvm's cleanup.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, src_digest = build()
    if not os.path.isdir(SF):
        fail(f"input tables not found at {SF}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(KEEP, exist_ok=True)
    corpus = os.path.join(WORK, "corpus")
    docs = make_corpus(a.seed, corpus) if a.workload == "mr-corpus" else None
    cpus = os.cpu_count() if not hasattr(os, "sched_getaffinity") else len(os.sched_getaffinity(0))
    out = os.path.join(WORK, "result.json")
    t0 = time.time()
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--sf", SF, "--corpus", corpus,
        "--work", WORK, "--keep", KEEP, "--out", out], os.path.join(WORK, "jvm.log"))
    if rc != 0 or not os.path.exists(out):
        os.system(f"tail -40 {WORK}/jvm.log >&2")
        fail(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        res = json.load(f)

    verdicts = check_outputs(res, docs)
    wrong = {k: v for k, v in verdicts.items() if v}
    failed = len(res["failures"]) + len(wrong)
    attempted = res["attempted"]
    env = dict(res["env"], seed=a.seed, sf=SF, workload=a.workload, trace=a.trace,
               seconds=a.seconds, source_digest=src_digest[:16], git_commit=git_commit())
    record = {"env": env, "failures": res["failures"], "wrong_outputs": wrong,
              "checked": len(verdicts), "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "run_s": round(time.time() - t0, 2),
              "warm_pass_s": res["warm_pass_s"],
              "query_cold_s": res["query_cold_s"],
              "query_median_s": {q: statistics.median([t for t in ts if t >= 0] or [-1.0])
                                 for q, ts in res["query_warm_s"].items()}}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": res["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        record.update(per_query=res["per_query"], builtin_matches=res["builtin_matches"],
                      setup_warns=res["setup_warns"],
                      single_task_window_queries=res["single_task_window_queries"],
                      spans_file=os.path.relpath(os.path.join(WORK, "spans.json"), ROOT))
    else:
        e2e = end_to_end(res, a.workload)
        record["end_to_end"] = {k: {"value": v, "unit": u, "samples": n}
                                for k, (v, u, n) in e2e.items()}
        record["end_to_end"]["failed_frac"] = {"value": failed / attempted, "unit": "fraction",
                                               "samples": attempted}
        record["query_p90_samples_above"] = sum(1 for x in res["query_s"]
                                                if x > e2e["query_p90_s"][0])
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record["metrics"] = metrics
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{a.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({k: v for k, v in record.items() if k != "per_query"}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def git_commit():
    """The checkout's commit, or None outside a git checkout."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
