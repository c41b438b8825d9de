#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only, not part
of the engine). Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
reads each <outDir>/<name> result parquet, runs the matching oracle SQL from
<outdir>/oracle_sql.json in DuckDB against the same sfDir tables, and
compares canonicalized (column-name-sorted, row-sorted, float-normalized)
results AND physical column types (DESCRIBE on both sides) — the driver's
hash is type-aware, so a Spark DECIMAL(28,6) vs DuckDB DECIMAL(38,6) must
fail here too, even when values stringify identically.

Usage: python3 tools/verify_local.py <sfDir> <outDir> [skip1,skip2,...]
(skip = oracle names whose DuckDB replay is infeasibly slow at big SF;
skipped queries are counted as rows-only)
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    """Sort columns by name, normalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # exact: the driver hashes raw float64 bits, so any fold-order
            # drift must fail here too, not be rounded away
            return repr(v)
        if isinstance(v, bool):
            return str(v)
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def col_types(con, sql):
    """name -> physical DuckDB type string for a query's result columns."""
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def connect(sf_dir):
    """A DuckDB connection with one view per table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # make_sf1.py writes per-copy file directories
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main(sf_dir, out_dir, skip=()):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no result parquet")
            n_fail += 1
            continue
        res = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        got_cols = [d[0] for d in res.description]
        got = res.fetchall()
        if name in skip:
            # still enforce the rows-only sanity check: a skipped oracle
            # must not hide an empty (broken) result
            status = "SKIP " if len(got) > 0 else "FAIL "
            if len(got) > 0:
                n_rows_only += 1
            else:
                n_fail += 1
            print(f"{status} {name}: oracle skipped by arg, {len(got)} rows")
            continue
        if name not in oracle:
            status = "ROWS " if len(got) > 0 else "FAIL "
            if len(got) > 0:
                n_rows_only += 1
            else:
                n_fail += 1
            print(f"{status} {name}: rows-only check, {len(got)} rows")
            continue
        try:
            ores = con.execute(oracle[name])
            exp_cols = [d[0] for d in ores.description]
            exp = ores.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL  {name}: schema {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
            continue
        got_types = col_types(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        exp_types = col_types(con, f"({oracle[name]})")
        type_diff = {c: (got_types.get(c), exp_types.get(c))
                     for c in got_types
                     if got_types.get(c) != exp_types.get(c)}
        if type_diff:
            print(f"FAIL  {name}: type widths differ (driver hash is "
                  f"type-aware): {type_diff}")
            n_fail += 1
            continue
        # round-2 driver finding: a DECIMAL output column NEVER hash-matches
        # across the driver's readers (arrow keeps Decimal('x.500000') while
        # duckdb.df() converts to float64 x.5) even when values and DESCRIBE
        # types are identical. Ban decimals from final outputs: do exact
        # decimal math internally, then terminal CAST(... AS DOUBLE)/BIGINT.
        dec_cols = {c: t for c, t in got_types.items() if "DECIMAL" in t}
        if dec_cols:
            print(f"FAIL  {name}: decimal output columns (driver cannot "
                  f"hash-match decimals — terminal-cast to DOUBLE/BIGINT): "
                  f"{dec_cols}")
            n_fail += 1
            continue
        cg, ce = canon(got, got_cols), canon(exp, exp_cols)
        if cg == ce:
            print(f"PASS  {name}: {len(got)} rows")
            n_pass += 1
        else:
            n_fail += 1
            diff = [(a, b) for a, b in zip(cg, ce) if a != b][:3]
            print(f"FAIL  {name}: {len(got)} vs {len(exp)} rows; first diffs: {diff}")
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
             tuple(sys.argv[3].split(",")) if len(sys.argv) > 3 else ()))
