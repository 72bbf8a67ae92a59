#!/usr/bin/env python3
"""Dev-only replica of the driver's correctness gate.

Usage: dev/check.py <sfDir> <outDir> [query ...]

Reads each <outDir>/<query> parquet (written by graft.Verify), runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB over the fixture
tables in <sfDir>, and compares: column name sets, row counts, and
cell-exact values (columns sorted by name, row order as produced).
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def load_spark(outdir, name):
    files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)

def norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        # duckdb hugeint / decimal → float-safe compare via object
    return df

def castscan(sfdirs):
    """Fixture sweep for the double→DECIMAL knife-edge (VERDICT r6 item 5).

    For every double column an oracled query has ever quantized
    (events.value historically; l_extendedprice/l_quantity/acctbals as a
    margin), compare THIS DuckDB build's CAST(x AS DECIMAL(18,2)) cents
    against Java/Spark's BigDecimal.valueOf(x).setScale(2, HALF_UP) rule
    (reproduced exactly here: round-half-up on the SHORTEST decimal repr,
    which is what BigDecimal.valueOf uses). Any disagreement is a value on
    which a decimal-cast query would go driver-red even when the local
    gate is green — the r4–r6 q_outlier_mad failure class. Fixtures
    regenerate between rounds, so run this every round.
    """
    import decimal
    cols = [("events", "value"), ("lineitem", "l_extendedprice"),
            ("lineitem", "l_quantity"), ("customer", "c_acctbal"),
            ("supplier", "s_acctbal"), ("orders", "o_totalprice"),
            ("part", "p_retailprice")]
    total_bad = 0
    for sfdir in sfdirs:
        for tbl, col in cols:
            p = os.path.join(sfdir, f"{tbl}.parquet")
            if not os.path.exists(p):
                continue
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            # scale 2 = the retired q_outlier_mad cents cast; scale 6 = the
            # DECIMAL(24,6) quantum every dsum() ingestion cast uses
            rows = duckdb.sql(
                f"SELECT DISTINCT {col} AS v, "
                f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT), "
                f"CAST(CAST({col} AS DECIMAL(24,6)) * 1000000 AS BIGINT) "
                f"FROM read_parquet('{p}') WHERE {col} IS NOT NULL").fetchall()
            bad = []
            for v, duck2, duck6 in rows:
                # BigDecimal.valueOf(double) = Double.toString shortest repr;
                # repr(float) in py3 is the same shortest round-trip decimal
                dv = decimal.Decimal(repr(v))
                java2 = int(dv.scaleb(2).to_integral_value(rounding=decimal.ROUND_HALF_UP))
                java6 = int(dv.scaleb(6).to_integral_value(rounding=decimal.ROUND_HALF_UP))
                if java2 != duck2 or java6 != duck6:
                    bad.append((v, duck2, java2, duck6, java6))
            tag = f"{sfdir} {tbl}.{col}"
            if bad:
                total_bad += len(bad)
                print(f"CASTSCAN DISAGREE {tag}: {len(bad)}/{len(rows)} values")
                for v, d2, j2, d6, j6 in bad[:5]:
                    print(f"  value={v!r} scale2 duck={d2} java={j2} | scale6 duck={d6} java={j6}")
            else:
                print(f"CASTSCAN OK {tag}: {len(rows)} distinct values agree (scales 2 and 6)")
    print(f"== castscan: {total_bad} disagreeing values ==")
    print("(disagreements mean: never CAST this column to DECIMAL inside an"
          " oracled query — this DuckDB build and Spark's HALF_UP differ;"
          " the driver's build can differ even when this one agrees)")
    sys.exit(1 if total_bad else 0)

def benchdiff(old_path, new_path, ratio=1.5, floor_jobs=2, ratio_sec=2.5, floor_sec=0.5):
    """Sweep-regression gate over two `graft.Bench` tables.
    Usage: dev/check.py --benchdiff OLD.json NEW.json
    (OLD is typically the committed SWEEP.json, sf0.01 on 4 cores).

    Gates on Spark jobs, the cost both benchmark workloads are bound by:
    exit 1 when a query runs more than `ratio`x its old jobs and more than
    `floor_jobs` extra, or when a query the old table ran now throws. Two
    sweeps of identical code at sf0.01 differ by at most 2 jobs (1.22x) on
    a query. Seconds are one pass each and are only reported: the same two
    sweeps put three sub-second queries 2.6-2.8x apart. Tables of a
    different scale or core count are not compared (exit 3).
    """
    old_full = json.load(open(old_path))
    new_full = json.load(open(new_path))
    for k in ("sf", "cores"):
        if old_full.get(k) is None or old_full.get(k) != new_full.get(k):
            print(f"BENCHDIFF REFUSED: {k} differs ({old_full.get(k)} vs "
                  f"{new_full.get(k)}); compare sweeps of one scale and core count")
            sys.exit(3)
    old_jobs, new_jobs = old_full["jobs"], new_full["jobs"]
    old_sec, new_sec = old_full["queries"], new_full["queries"]
    bad = []
    for q, msg in sorted(new_full["errors"].items()):
        if q in old_jobs:
            bad.append(q)
            print(f"BENCHDIFF ERROR {q}: {msg}")
    for q, j_new in sorted(new_jobs.items()):
        j_old = old_jobs.get(q)
        if j_old is None:
            continue  # new query: no baseline to regress from
        if j_new > ratio * j_old and j_new - j_old > floor_jobs:
            bad.append(q)
            print(f"BENCHDIFF REGRESSION {q}: {j_old} -> {j_new} jobs")
        t_old, t_new = old_sec[q], new_sec[q]
        if t_new > floor_sec and t_new > ratio_sec * t_old:
            print(f"benchdiff slower (not gated) {q}: {t_old:.2f}s -> {t_new:.2f}s")
    shared = [q for q in new_jobs if q in old_jobs]
    print(f"== benchdiff: {len(bad)} regressions (jobs over {ratio}x and "
          f"+{floor_jobs}, or new errors) across {len(shared)} shared queries ==")
    sys.exit(1 if bad else 0)

def _rewrite_rounds(sql):
    """Replace every 2-arg round(EXPR, N) with knife_round(EXPR, N)
    (balanced-paren parse — round() sites nest arbitrarily deep in
    generated CTE chains)."""
    out, i, n_hits = [], 0, 0
    while True:
        j = sql.find("round(", i)
        # skip identifiers ending in 'round(' (e.g. knife_round itself)
        while j > 0 and (sql[j-1].isalnum() or sql[j-1] == "_"):
            j = sql.find("round(", j + 1)
        if j < 0:
            out.append(sql[i:])
            return "".join(out), n_hits
        k, depth = j + len("round("), 1
        while depth:
            c = sql[k]
            depth += (c == "(") - (c == ")")
            k += 1
        inner = sql[j + len("round("):k - 1]
        d, lastc = 0, -1
        for t, c in enumerate(inner):
            d += (c == "(") - (c == ")")
            if c == "," and d == 0:
                lastc = t
        scale = inner[lastc + 1:].strip() if lastc >= 0 else ""
        if scale.isdigit():
            out.append(sql[i:j])
            out.append(f"knife_round({inner})")
            n_hits += 1
        else:
            out.append(sql[i:k])  # 1-arg round: integer target, no 4-dp knife
        i = k

def knifescan(sfdir, outdir, names):
    """Half-way-proximity scan (VERDICT r9 item 4): re-run every oracle
    with round(x, n) replaced by a tripwire macro that ERRORS when its
    input sits within 1e-5 grid units (1e-9 absolute at 4 dp) of a
    *.xxx5 half-way point — the exact inputs on which Spark's BigDecimal
    HALF_UP and DuckDB's C-double round() can disagree across builds
    (PARITY.md section 3; the r9 q_jl_transform driver-red). A flagged
    query is a LATENT driver-red even if today's compare passes: migrate
    that site to the floor-quantize recipe (Det.q4).
    """
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        src = f"read_parquet('{p}')"
        if t == "events":
            (ty,) = con.execute(f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()
            if ty == "BIGINT":
                src = f"(SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM {src})"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    con.execute("""
        CREATE MACRO knife_round(x, n) AS
          CASE WHEN x IS NOT NULL
                AND abs(CAST(x AS DOUBLE) * power(10, n)
                        - floor(CAST(x AS DOUBLE) * power(10, n)) - 0.5) < 1e-5
               THEN CAST(error(concat('knife-edge round() input: ',
                                      CAST(x AS VARCHAR), ' at scale ',
                                      CAST(n AS VARCHAR))) AS DOUBLE)
               ELSE round(x, n) END""")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    names = names or sorted(oracle)
    n_flag = n_ok = n_skip = 0
    for name in names:
        sql, hits = _rewrite_rounds(oracle[name])
        if not hits:
            n_skip += 1
            continue
        try:
            con.execute(sql).fetchall()
            print(f"KNIFE OK {name} ({hits} round sites clear)")
            n_ok += 1
        except Exception as e:
            msg = str(e)
            if "knife-edge" in msg:
                print(f"KNIFE FLAG {name}: {msg.splitlines()[0][:160]}")
                n_flag += 1
            else:
                print(f"KNIFE ERROR {name}: rewrite broke the SQL: {msg.splitlines()[0][:160]}")
                n_flag += 1
    print(f"== knifescan: {n_flag} flagged, {n_ok} clear, {n_skip} round-free ==")
    sys.exit(1 if n_flag else 0)

def main():
    if sys.argv[1] == "--castscan":
        castscan(sys.argv[2:] or sorted(glob.glob("/root/testdata/sf*")))
        return
    if sys.argv[1] == "--benchdiff":
        benchdiff(sys.argv[2], sys.argv[3])
        return
    if sys.argv[1] == "--knifescan":
        knifescan(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if os.path.isdir(p):  # Spark-written dataset (ScaleGen output)
            p = os.path.join(p, "*.parquet")
        src = f"read_parquet('{p}')"
        if t == "events":
            # ScaleGen writes ts as raw int64 nanos (no logical type);
            # mirror Tables.events' ns→µs truncation so the oracle SQL's
            # CAST(ts AS TIMESTAMP) sees a timestamp either way
            (ty,) = con.execute(
                f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()
            if ty == "BIGINT":
                src = f"(SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM {src})"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    names = sys.argv[3:] or sorted(oracle)
    n_pass = n_fail = 0
    for name in names:
        sdf = load_spark(outdir, name)
        if sdf is None:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})"); continue
        try:
            ddf = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        s, d = norm(sdf), norm(ddf)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}"); n_fail += 1; continue
        # Dtype gate (round 8): the driver's hash distinguishes 123 from
        # 123.0. DuckDB SUM(int) returns HUGEINT, which pandas renders as
        # float64 — an oracle column that comes back float while Spark
        # writes int64 hash-mismatches driver-side even when every value
        # is equal (this, not arithmetic, was the r4–r7 q_outlier_mad and
        # r7 q_kaplan_meier red). CAST such columns to BIGINT in the SQL.
        leaks = []
        for c in s.columns:
            sk, dk = str(s[c].dtype), str(d[c].dtype)
            s_int = sk.startswith("int") or sk.startswith("uint")
            d_int = dk.startswith("int") or dk.startswith("uint")
            s_f = sk.startswith("float")
            d_f = dk.startswith("float")
            if (s_int and d_f) or (s_f and d_int) or dk == "object" and (s_int or s_f):
                leaks.append(f"{c}: spark={sk} duck={dk}")
        if leaks:
            print(f"FAIL {name}: dtype leak (driver hash breaks on int-vs-float even with equal values): " + "; ".join(leaks)); n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}"); n_fail += 1; continue
        bad = []
        for c in s.columns:
            a, b = s[c], d[c]
            try:
                if str(a.dtype) == "float64" or str(b.dtype) == "float64":
                    a2, b2 = a.astype("float64"), b.astype("float64")
                    neq = ~((a2 == b2) | (a2.isna() & b2.isna()))
                else:
                    neq = ~((a == b) | (a.isna() & b.isna()))
            except Exception:
                neq = pd.Series([x != y and not (pd.isna(x) and pd.isna(y)) for x, y in zip(a.tolist(), b.tolist())])
            if neq.any():
                i = int(neq.idxmax())
                bad.append(f"{c}: {int(neq.sum())} cells differ, first@{i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r}")
        if bad:
            print(f"FAIL {name}: " + " | ".join(bad)); n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows, {len(s.columns)} cols)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
