#!/usr/bin/env python3
"""Row-level diff of two `graft.Verify` dump directories.

For every gate dumped in both directories (or only the named ones), check
that the two schemas are equal and run DuckDB `EXCEPT ALL` in both
directions, so a changed, dropped or duplicated row shows up even when
the oracle hash of a gate is not affected. Prints one line per gate and
the first differing rows; exits 1 on any difference, on a schema
mismatch, or when a named gate is missing from either directory.

Usage: python3 tools/diff_dumps.py DIR_A DIR_B [gate,gate,...]
"""
import glob
import os
import sys

import duckdb

SHOW = 3  # differing rows printed per gate and direction


def dumped(d):
    """Gate names with at least one parquet file under `d`."""
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(os.path.join(d, "*", "*.parquet"))}


def files(d, gate):
    return sorted(glob.glob(os.path.join(d, gate, "*.parquet")))


def main(dir_a, dir_b, only=None):
    in_a, in_b = dumped(dir_a), dumped(dir_b)
    if only is None:
        gates = sorted(in_a & in_b)
        for g in sorted(in_a ^ in_b):
            side = "A" if g in in_a else "B"
            print(f"NOTE {g}: dumped only in {side}; not compared")
    else:
        gates = only
    con = duckdb.connect()
    n_same = n_diff = 0
    for g in gates:
        if g not in in_a or g not in in_b:
            print(f"DIFF {g}: missing from {'A' if g not in in_a else 'B'}")
            n_diff += 1
            continue
        a = f"read_parquet({files(dir_a, g)!r})"
        b = f"read_parquet({files(dir_b, g)!r})"
        sa = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
        sb = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
        sa, sb = [r[:2] for r in sa], [r[:2] for r in sb]
        if sa != sb:
            print(f"DIFF {g}: schema\n  A {sa}\n  B {sb}")
            n_diff += 1
            continue
        only_a = con.execute(f"SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}").fetchall()
        only_b = con.execute(f"SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}").fetchall()
        if only_a or only_b:
            print(f"DIFF {g}: {len(only_a)} rows only in A, {len(only_b)} rows only in B")
            for side, rows in (("A", only_a), ("B", only_b)):
                for r in rows[:SHOW]:
                    print(f"  only {side}: {r}")
            n_diff += 1
        else:
            n_same += 1
            print(f"same {g}")
    print(f"\n{n_same} same / {n_diff} differ / {len(gates)} compared")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    names = [n for n in sys.argv[3].split(",") if n] if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], names))
