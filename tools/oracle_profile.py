#!/usr/bin/env python3
"""Per-oracle DuckDB cost profiler (VERDICT r17 #1): times each oracle
SQL from oracle_sql.json against the sf parquet tables WITHOUT needing a
Spark dump, so the compare-wall regressions the driver dies on are
attributable gate-by-gate before a full Verify pass.

Usage: python3 tools/oracle_profile.py /root/testdata/sf0.01 /tmp/oracle_dump [name ...]
"""
import sys, os, json, time

from oracle_compare import connect


def main(sf_dir, out_dir, only):
    con = connect(sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    rows = []
    for name in sorted(oracle):
        if only and name not in only:
            continue
        t0 = time.time()
        err = None
        try:
            n = len(con.execute(oracle[name]).fetchall())
        except Exception as e:
            n, err = -1, f"{type(e).__name__}: {e}"[:120]
        dt = time.time() - t0
        rows.append((dt, name, n, err))
        print(f"{dt:8.2f}s {name} rows={n}" + (f" ERR={err}" if err else ""),
              flush=True)
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    print(f"\nTOTAL {total:.1f}s over {len(rows)} oracles; top 15:")
    for dt, name, n, err in rows[:15]:
        print(f"{dt:8.2f}s {name}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], set(sys.argv[3:]))
