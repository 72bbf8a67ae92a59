"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark (first run
only, see build.py), generates the workload's inputs from the seed, runs
one JVM that drives the workload in a closed loop, checks its outputs and
prints one JSON line: the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). Spans and run details
are written under ``.bench_build/out/``. See README.md for the workloads
and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("etl_wordcount", "llm_curation")
# Query inputs: fixed generator seed and version, so the expected output
# digests in expected.tsv stay valid; the workload seed orders the queries.
TABLES_SF = 0.1
TABLES_SEED = 20260101
TABLES_VERSION = 1
# Word-count corpus: drawn from the workload seed.
CORPUS_DOCS, CORPUS_DOC_TOKENS, CORPUS_WORDS = 10000, 40, 15000
LIMIT_S = 10.0          # per-operation latency limit
DEADLINE_S = 170.0      # the whole run, build excluded
# No hsperfdata file outside the checkout. A fixed heap and young
# generation: the peak RSS then follows the data the engine retains, not
# the collector's heap-sizing decisions.
JAVA_FLAGS = ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn256m"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def query_tables():
    """The query workloads' input tables, generated once per checkout."""
    d = os.path.join(build.OUT, "data",
                     f"tables-sf{TABLES_SF}-s{TABLES_SEED}-v{TABLES_VERSION}")
    if not os.path.exists(os.path.join(d, ".done")):
        tmp = f"{d}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        import gen  # numpy and pyarrow only when inputs are made
        gen.tables(tmp, TABLES_SF, TABLES_SEED)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    t_start = time.time()
    data = query_tables()
    run = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "work"):
        os.makedirs(os.path.join(run, sub))
    out = os.path.join(build.OUT, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    corpus = os.path.join(run, "corpus")
    stats = {"words": 0, "tokens": 0}
    if a.workload == "etl_wordcount":
        import gen
        gen.corpus(corpus, a.seed, CORPUS_DOCS, CORPUS_DOC_TOKENS, CORPUS_WORDS)
        stats = json.load(open(os.path.join(corpus, "stats.json")))
    n = cores()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    launch_ms = int(time.time() * 1000)
    cmd = [build.java(), *ADD_OPENS, *JAVA_FLAGS,
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--corpus", corpus, "--work", os.path.join(run, "work"),
           "--expected", os.path.join(build.BENCH, "expected.tsv"),
           "--out", out, "--launch-ms", str(launch_ms), "--cores", str(n),
           "--limit-s", str(LIMIT_S),
           "--words", str(stats["words"]), "--tokens", str(stats["tokens"])]
    os.makedirs(out)
    log = os.path.join(out, "driver.log")
    # Spark's scratch space stays inside the run directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "work", "spark-local"))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: run exceeded its deadline")
        finally:
            shutil.rmtree(run, ignore_errors=True)
    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith("[graftbench]"):
                print(line, end="", file=sys.stderr)
    result = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: driver failed (exit {proc.returncode}), see {log}")
    r = json.load(open(result))
    if not r["correct"]:
        for k, v in r["details"]["mismatches"].items():
            print(f"perfbench: OUTPUT MISMATCH {k}: {v}", file=sys.stderr)
    metrics = r["per_layer"] if a.trace else r["end_to_end"]
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    if not r["correct"]:
        sys.exit(2)


if __name__ == "__main__":
    main()
