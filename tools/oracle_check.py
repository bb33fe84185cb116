#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfdir> <verify_outdir>

Loads each query result written by graft.Verify, runs the corresponding
oracle SQL from oracle_sql.json in DuckDB over the same parquet tables,
and compares schemas + values (columns sorted by name, rows sorted).
Exact equality for everything, including floats — the engine is designed
for bit-parity, so any drift is a bug to fix on the Scala side.

SPARK_GRAFT_ONLY (the comma-separated query list graft.Verify reads)
restricts the check to exactly those queries; a listed name with no
Spark output or no oracle SQL counts as bad.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    # Normalize numeric types before the repr-based row sort: DuckDB can
    # return Decimal where Spark wrote float/int, and mixed types would
    # sort differently per side, misaligning equal multisets (round-1
    # ADVICE.md finding).
    import decimal
    if isinstance(v, decimal.Decimal):
        # float only when exactly representable — otherwise keep the exact
        # Decimal (as repr) so a real drift beyond double precision still
        # FAILS the exact-equality gate instead of aliasing to the same float
        f = float(v)
        return f if decimal.Decimal(f) == v else str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def canon(rows, cols):
    """columns sorted by name, then rows sorted — order-insensitive compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr), [cols[i] for i in order]


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)

    only = os.environ.get("SPARK_GRAFT_ONLY")
    names = sorted(oracle) if only is None else sorted(set(only.split(",")))
    n_ok = n_bad = 0
    for name in names:
        sql = oracle.get(name)
        if sql is None:
            print(f"[BAD ] {name}: not in oracle_sql.json")
            n_bad += 1
            continue
        res_dir = f"{outdir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"[MISS] {name}: no spark output")
            n_bad += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(sql)
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"[ERR ] {name}: {e}")
            n_bad += 1
            continue
        # Type audit: DuckDB widens sum(BIGINT) to HUGEINT, which the
        # DRIVER's hasher renders differently from Spark's long even when
        # values are equal (round-2 q33 red row) — our norm_cell would mask
        # it, so treat any HUGEINT/DECIMAL oracle output column as BAD and
        # demand an explicit CAST in the oracle SQL instead.
        try:
            wide = [(c, str(t)) for c, t in
                    zip(con.sql(sql).columns, con.sql(sql).types)
                    if str(t) in ("HUGEINT", "UHUGEINT")
                    or str(t).startswith("DECIMAL")]
        except Exception:
            wide = []
        if wide:
            print(f"[BAD ] {name}: oracle returns driver-hash-unsafe types {wide}"
                  f" — CAST to BIGINT/DOUBLE in the oracle SQL")
            n_bad += 1
            continue
        g, gc = canon(got_rows, got_cols)
        e, ec = canon(exp_rows, exp_cols)
        if gc != ec:
            print(f"[BAD ] {name}: columns {gc} != {ec}")
            n_bad += 1
        elif g != e:
            n_bad += 1
            print(f"[BAD ] {name}: rows {len(g)} vs {len(e)}")
            diff = [(a, b) for a, b in zip(g, e) if a != b][:3]
            for a, b in diff:
                print(f"        spark={a}")
                print(f"        duck ={b}")
            if len(g) != len(e):
                only_g = set(map(repr, g)) - set(map(repr, e))
                only_e = set(map(repr, e)) - set(map(repr, g))
                for x in list(only_g)[:2]:
                    print(f"        only-spark: {x}")
                for x in list(only_e)[:2]:
                    print(f"        only-duck : {x}")
        else:
            n_ok += 1
            print(f"[ OK ] {name}: {len(g)} rows")
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
