#!/usr/bin/env python3
"""Committed, provenance-stamped correctness SELF-artifact (VERDICT
r16 #1): `CORRECTNESS_r16.json` arrived from the driver literally empty
(`{}`), and only a judge re-run of the full contract distinguished a
harness failure from a real regression. This sibling mirrors
`LEAKCHECK_SELF.json`: it runs the t2 comparison of
`tools/oracle_compare.py` (imported, not copied: DuckDB oracle SQL vs the
`graft.Verify` parquet dumps, canonicalized and compared) and writes
`CORRECTNESS_SELF.json` with per-gate
{rows_match, schema_match, hash_match, err, oracle_ms} plus a fingerprint that
provably changes across runs (wall-clock), trees (content digest of every
source byte — tracked files in a checkout, the walked tree outside one)
and commits (git HEAD, null outside a checkout, with a dirty-tree flag) — so any future empty/failed
driver artifact is diagnosable in one diff.

Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/correctness_self.py /root/testdata/sf0.01 /tmp/verify_out
"""
import hashlib, json, os, subprocess, sys, time

from oracle_compare import compare_gate, connect

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXTS = (".scala", ".sbt", ".py", ".md", ".json", ".sh", ".sql", ".conf")
SKIP_FILES = {"LEAKCHECK.json", "LEAKCHECK_SELF.json",
              "CORRECTNESS_SELF.json"}  # self-reference


# build and run outputs, as in .gitignore: walked trees skip them
SKIP_DIRS = {".git", "target", ".bench_build", ".bsp", ".metals", ".bloop",
             "spark-warehouse", "metastore_db", "data", "__pycache__"}


def git(*args):
    """stdout of a git command in ROOT, or None outside a checkout."""
    out = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True)
    return out.stdout if out.returncode == 0 else None


def source_files():
    """Tracked files in a checkout; outside one (a `git archive` export)
    every file under ROOT outside the build-output dirs."""
    listed = git("ls-files")
    if listed is not None:
        return [f for f in listed.splitlines() if f]
    files = []
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return files


def tree_sha256():
    digest = hashlib.sha256()
    for rel in sorted(source_files()):
        if not rel.endswith(EXTS) or os.path.basename(rel) in SKIP_FILES:
            continue
        path = os.path.join(ROOT, rel)
        try:
            data = open(path, "rb").read()
        except OSError:
            continue
        digest.update(rel.encode())
        digest.update(data)
    return digest.hexdigest()


def main(sf_dir, out_dir):
    t0 = time.time()
    con = connect(sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    gates, n_pass, n_fail = {}, 0, 0
    for name in sorted(oracle):
        # per-gate compare cost (oracle_ms): the six closure CTEs that
        # once made up most of the oracle wall were found only by
        # re-profiling, so the next compare-side regression must be
        # attributable from this artifact alone
        g, _ = compare_gate(con, out_dir, name, oracle[name])
        gates[name] = g
        ok = g["hash_match"] and g["err"] is None
        n_pass += ok
        n_fail += not ok
        if not ok:
            print(f"FAIL {name}: {g}")
    # outside a checkout there is no commit to name; inside one, a dirty
    # tree is not the commit HEAD names
    head = (git("rev-parse", "HEAD") or "").strip() or None
    status = git("status", "--porcelain", "--untracked-files=no")
    dirty = None if status is None else bool(status.strip())
    result = {
        "scan_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "scan_wall_ns": time.time_ns(),          # changes EVERY run
        "git_head": head,                         # changes per commit; null outside a checkout
        "git_dirty": dirty,                       # uncommitted edits to tracked files
        "tree_sha256": tree_sha256(),             # changes per content edit
        "sf_dir": sf_dir,
        "gate_count": len(oracle),
        "n_pass": n_pass,
        "n_fail": n_fail,
        "compare_seconds": round(time.time() - t0, 3),
        "gates": gates,
    }
    out = os.path.join(ROOT, "CORRECTNESS_SELF.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(f"{out}: {n_pass} pass / {n_fail} fail / {len(oracle)} total "
          f"(tree {result['tree_sha256'][:12]}, head {(head or 'none')[:8]}"
          f"{', dirty' if dirty else ''})")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
