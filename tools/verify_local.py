#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sf_dir] [out_dir]

Assumes `sbt "runMain graft.Verify <sf_dir> <out_dir>"` has already run (or
pass --run to run it). For every query output parquet in out_dir, runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sf parquet tables,
sorts columns by name and rows by value, and compares cell-by-cell. An
oracle_sql.json key with no output dir is reported as MISSING-OUTPUT and
counts as a failure.
"""
import json, os, subprocess, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def norm(v):
    import datetime, decimal
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        # EXACT: never floatify (a float round-trip once masked 5 driver
        # hash failures). Integral decimals compare as ints; fractional
        # ones stay Decimal (Decimal == Decimal is exact).
        return int(v) if v == v.to_integral_value() else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = args[2].split(",") if len(args) > 2 else None

    if "--run" in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd="/root/repo", capture_output=True, text=True, timeout=1800)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")

    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        if only and name not in only:
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')")
            got_cols, got = canon(got_rel.fetchall(), got_rel.columns)
        except Exception as e:
            results[name] = f"SPARK-OUTPUT-ERROR {e}"
            continue
        if name not in oracle:
            results[name] = f"NO-ORACLE rows={len(got)}" + (" EMPTY!" if not got else "")
            continue
        try:
            exp_rel = con.sql(oracle[name])
            # The driver's hash provably fails on any result column typed
            # HUGEINT or DECIMAL(38,0) (empirical law over all r6 gates),
            # even when every cell value matches. Fail HERE so the class
            # can't recur silently: cast the oracle's final projection to
            # BIGINT (or canonical VARCHAR) instead.
            bad_types = [(c, str(t)) for c, t in zip(exp_rel.columns, exp_rel.types)
                         if "HUGEINT" in str(t).upper()
                         or str(t).upper().replace(" ", "") == "DECIMAL(38,0)"]
            if bad_types:
                results[name] = f"ORACLE-TYPE (driver-hash-unsafe) {bad_types}"
                continue
            exp_cols, exp = canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR {e}"
            continue
        bad_spark = [(c, str(t)) for c, t in zip(got_rel.columns, got_rel.types)
                     if str(t).upper().replace(" ", "") == "DECIMAL(38,0)"]
        if bad_spark:
            results[name] = f"OUTPUT-TYPE (driver-hash-unsafe) {bad_spark}"
            continue
        if got_cols != exp_cols:
            results[name] = f"SCHEMA-MISMATCH got={got_cols} exp={exp_cols}"
        elif len(got) != len(exp):
            results[name] = f"ROWS-MISMATCH got={len(got)} exp={len(exp)}"
        else:
            bad = None
            for i, (g, e) in enumerate(zip(got, exp)):
                if g != e:
                    # allow tiny float noise to be REPORTED distinctly
                    close = all(
                        (a == b) or (isinstance(a, float) and isinstance(b, float)
                                     and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)))
                        for a, b in zip(g, e))
                    bad = (i, g, e, close)
                    break
            if bad is None:
                results[name] = f"OK rows={len(got)}"
            elif bad[3]:
                results[name] = f"FLOAT-NOISE row {bad[0]}: got={bad[1]} exp={bad[2]}"
            else:
                results[name] = f"VALUE-MISMATCH row {bad[0]}: got={bad[1]} exp={bad[2]}"

    # Verify only logs a gate that throws, so its output dir never appears:
    # count every oracle key without output as a failure, not as absent.
    for name in oracle:
        if name not in results and (not only or name in only):
            results[name] = "MISSING-OUTPUT (no result dir; the gate failed in Verify)"

    width = max(len(n) for n in results) if results else 0
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    # a declared-no-oracle query (driver's weaker rows-only check) passes
    # when it produced rows; only an EMPTY output is a failure
    n_weak = sum(1 for v in results.values()
                 if v.startswith("NO-ORACLE") and not v.endswith("EMPTY!"))
    for name, res in sorted(results.items()):
        print(f"{name:<{width}}  {res[:400]}")
    print(f"\n{n_ok}/{len(results)} OK" +
          (f" (+{n_weak} rows-only)" if n_weak else ""))
    sys.exit(0 if n_ok + n_weak == len(results) else 2)


if __name__ == "__main__":
    main()
