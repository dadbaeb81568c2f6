#!/usr/bin/env python3
"""Diff two oracle dumps (`oracle_sql.json`, from `graft.DumpOracle` or
`graft.Verify`) of two trees.

Reports whether the key sets are equal and how many entries are
byte-identical. Each entry whose text differs is run in DuckDB from both
dumps over every given fixture directory; it counts as the same oracle
when both texts return the same column names and types and the same rows
(`EXCEPT ALL` both ways). Exits 1 on a key-set difference or on any entry
that returns different rows.

Usage: python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json [sfDir ...]
"""
import json
import sys

from oracle_compare import connect


def same_rows(con, sql_a, sql_b):
    """(same, detail) for two SQL texts on one connection."""
    cols = []
    for tbl, sql in (("oa", sql_a), ("ob", sql_b)):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {tbl} AS {sql}")
        cols.append(con.execute(f"DESCRIBE {tbl}").fetchall())
    n = con.execute("SELECT count(*) FROM oa").fetchone()[0]
    x_ab = con.execute("SELECT count(*) FROM (FROM oa EXCEPT ALL FROM ob)").fetchone()[0]
    x_ba = con.execute("SELECT count(*) FROM (FROM ob EXCEPT ALL FROM oa)").fetchone()[0]
    same = cols[0] == cols[1] and x_ab == 0 and x_ba == 0
    return same, f"rows={n} except={x_ab}/{x_ba} cols={'eq' if cols[0] == cols[1] else 'DIFFER'}"


def main(path_a, path_b, sf_dirs):
    a, b = json.load(open(path_a)), json.load(open(path_b))
    bad = 0
    if set(a) != set(b):
        print(f"KEYS differ: only A {sorted(set(a) - set(b))}, only B {sorted(set(b) - set(a))}")
        bad += 1
    changed = sorted(k for k in set(a) & set(b) if a[k] != b[k])
    print(f"{len(a)} / {len(b)} keys; {len(set(a) & set(b)) - len(changed)} byte-identical, "
          f"{len(changed)} changed")
    for sf in sf_dirs:
        con = connect(sf)
        for k in changed:
            same, detail = same_rows(con, a[k], b[k])
            bad += not same
            print(f"{'SAME' if same else 'DIFF'} {sf} {k} {detail}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
