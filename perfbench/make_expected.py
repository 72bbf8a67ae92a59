"""Refreshes expected.tsv, the output digests the benchmark checks.

    python3 perfbench/make_expected.py      # from the repository root

Runs every stage of the llm_curation workload once on the generated query
tables and dumps each result as Parquet beside the engine's oracle SQL
(``SparkEntry.oracleSql``). ``dev/check.py`` then compares each dump that
has oracle SQL with DuckDB running that SQL over the same tables. A digest
is recorded as ``oracle`` when that check passes and as ``parent`` when the
query has no oracle, i.e. it pins the result of the commit the file was
made on. An oracle mismatch or a query error is recorded too; a mismatch
fails the script.
"""
import os
import shutil
import subprocess
import sys

import build
import run


def oracle_check(data, out, names):
    """dev/check.py's verdict per query: PASS, FAIL or SKIP (no oracle)."""
    p = subprocess.run([sys.executable, os.path.join(build.ROOT, "dev", "check.py"),
                        data, out, *names], capture_output=True, text=True)
    verdicts = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word in ("PASS", "FAIL", "SKIP") and name in names:
            verdicts[name] = (word, line)
    missing = [n for n in names if n not in verdicts]
    if missing:
        raise SystemExit(f"make_expected: dev/check.py gave no verdict for {missing}:\n"
                         f"{p.stdout}{p.stderr}")
    return verdicts


def main():
    classes = build.build()
    data = run.query_tables()
    out = os.path.join(build.OUT, "expected")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    subprocess.run([build.java(), *run.ADD_OPENS, *run.JAVA_FLAGS,
                    f"-Djava.io.tmpdir={out}", "-cp", cp, "graftbench.Expected",
                    data, out, str(run.cores())], check=True)
    digests = [line.rstrip("\n").split("\t") for line in open(os.path.join(out, "digests.tsv"))]
    verdicts = oracle_check(data, out, [n for n, d in digests if not d.startswith("error:")])
    rows, bad = [], 0
    for name, digest in digests:
        if digest.startswith("error:"):
            how = "error"
        else:
            word, line = verdicts[name]
            how = {"PASS": "oracle", "SKIP": "parent"}.get(word, f"oracle-mismatch: {line}")
        if how.startswith("oracle-mismatch"):
            bad += 1
        print(f"{name}: {how}", file=sys.stderr)
        rows.append(f"{name}\t{digest}\t{how}")
    with open(os.path.join(build.BENCH, "expected.tsv"), "w") as f:
        f.write(f"# query\tdigest\tchecked against (tables sf{run.TABLES_SF}, "
                f"generator seed {run.TABLES_SEED}, version {run.TABLES_VERSION})\n")
        f.write("\n".join(rows) + "\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
