#!/usr/bin/env python3
"""Check that a rewrite of the oracle SQL left its DuckDB rows unchanged.

Usage: python3 tools/oracle_diff.py OLD_oracle_sql.json NEW_oracle_sql.json SF_DIR

The two files are `oracle_sql.json` dumps of `graft.Verify` from two
checkouts. For every entry whose text differs (or that only one file
has), both texts run in DuckDB over SF_DIR's tables. Rows are compared
with verify_local.canon, column types with verify_local.col_types.
Prints each changed entry's DuckDB time on both sides, then a summary.
Exits 1 on any row or type difference, or on any error.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from verify_local import canon, col_types, connect  # noqa: E402


def run(con, sql):
    """(cols, rows, types, seconds) of one oracle text."""
    t0 = time.perf_counter()
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    secs = time.perf_counter() - t0
    return cols, rows, col_types(con, f"({sql})"), secs


def main(old_path, new_path, sf_dir):
    old, new = json.load(open(old_path)), json.load(open(new_path))
    con = connect(sf_dir)
    changed = sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))
    print(f"{len(changed)} of {len(old.keys() | new.keys())} entries changed")
    print(f"{'entry':32} {'old_s':>8} {'new_s':>8} {'rows':>7}  result")
    n_bad = 0
    for name in changed:
        if name not in old or name not in new:
            print(f"{name:32} {'-':>8} {'-':>8} {'-':>7}  only in "
                  f"{'new' if name in new else 'old'}")
            n_bad += 1
            continue
        try:
            oc, orows, otypes, osecs = run(con, old[name])
            nc, nrows, ntypes, nsecs = run(con, new[name])
        except Exception as e:  # noqa: BLE001 — report and count it
            print(f"{name:32} error: {e}")
            n_bad += 1
            continue
        if sorted(oc) != sorted(nc) or otypes != ntypes:
            verdict = f"SCHEMA {otypes} != {ntypes}"
        elif canon(orows, oc) != canon(nrows, nc):
            diff = [(a, b) for a, b in zip(canon(orows, oc), canon(nrows, nc))
                    if a != b][:3]
            verdict = f"ROWS {len(orows)} vs {len(nrows)}; first diffs: {diff}"
        else:
            verdict = "equal"
        n_bad += verdict != "equal"
        print(f"{name:32} {osecs:8.2f} {nsecs:8.2f} {len(nrows):7}  {verdict}")
    print(f"\n{len(changed) - n_bad} equal, {n_bad} different")
    return 1 if n_bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
