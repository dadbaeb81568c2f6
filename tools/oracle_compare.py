#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: for each dump under
OUT_DIR (written by `graft.Verify`), run the matching oracle SQL from
oracle_sql.json in DuckDB over the same parquet tables, canonicalize
(sort columns by name, sort rows, normalize floats), and compare.

This is the one copy of the compare: `tools/correctness_self.py` and
`tools/oracle_profile.py` import `connect`, `canon` and `compare_gate`
from here.

Usage: python3 tools/oracle_compare.py /root/testdata/sf0.01 /tmp/verify_out
"""
import glob
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    """A DuckDB connection with one view per fixture table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(df):
    """Columns sorted by name, floats rounded to 6 decimals (absorbs ulp
    noise), objects stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].astype("float64").round(6)
        elif df[c].dtype == "object":
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_gate(con, out_dir, name, sql):
    """The t2 compare of one gate: its Spark dump under `out_dir/name`
    against `sql` run in DuckDB, both canonicalized. Returns
    `(result, detail)`: `result` holds schema_match, rows_match,
    hash_match (the canonical frames are equal; the gate passes iff it is
    true and err is None), err and oracle_ms; `detail` is the first
    differing rows, or None."""
    g = {"rows_match": False, "schema_match": False,
         "hash_match": False, "err": None, "oracle_ms": None}
    detail = None
    try:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            raise RuntimeError("no spark dump")
        a = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        t0 = time.time()
        raw = con.execute(sql).fetchdf()
        g["oracle_ms"] = int((time.time() - t0) * 1000)
        b = canon(raw)
        g["schema_match"] = list(a.columns) == list(b.columns)
        g["rows_match"] = len(a) == len(b)
        if not g["schema_match"]:
            detail = f"columns {list(a.columns)} vs {list(b.columns)}"
        elif not g["rows_match"]:
            detail = f"rows {len(a)} vs {len(b)}"
        elif a.equals(b):
            g["hash_match"] = True
        else:
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            detail = (f"{int(bad.sum())} differing rows; first:\n"
                      f"{a[bad].head(3)}\n{b[bad].head(3)}")
    except Exception as e:
        g["err"] = f"{type(e).__name__}: {e}"[:200]
        detail = g["err"]
    return g, detail


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        g, detail = compare_gate(con, out_dir, name, oracle[name])
        if g["hash_match"] and g["err"] is None:
            n_pass += 1
        else:
            print(f"FAIL {name}: {detail}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {len(oracle)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
