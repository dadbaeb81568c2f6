#!/usr/bin/env python3
"""Paired benchmark comparison of two git revisions.

Usage (from the repository root):

    python3 tools/perfbench_pairs.py PARENT_REV CHANGE_REV --workload W \\
        --seeds 31 32 33 34 35 [--seconds 6] [--trace 0] [--scale F] \\
        [--workdir DIR] [--keep] [--json OUT]

Each revision is exported with `git archive` into its own directory under
a temporary work dir (only committed files, so no `target/` or
`.bench_build/` is shared: one tree's sbt build never deletes the other
tree's classes). For every seed the two trees run `perfbench/run.py`
back to back, the order alternating from pair to pair (parent first on
even pairs, change first on odd ones) so drift on the host hits both
sides alike. The first run of each tree also compiles it.

Printed per end-to-end metric of the workload (the `end_to_end` list of
the parent tree's BENCHMARK.json): the median, q1 and q3 of each side,
the change in the median, and how many pairs improved in the metric's
`better` direction. The exit code is 1 when any run failed, printed no
result, or reported `correct: false`; 0 otherwise. Nothing in the
current checkout is read or written apart from its git objects.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    """Writes the committed tree of `rev` into `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def run(tree, args, seed):
    """One perfbench run in `tree`; returns its result object or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    if args.scale is not None:
        cmd += ["--scale", str(args.scale)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0], s[0], s[0]
    q = statistics.quantiles(s, n=4, method="inclusive")
    return q[0], q[1], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", type=float, default=None)
    ap.add_argument("--workdir", default=None,
                    help="where the two trees go (default: a new temp dir)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the exported trees and their builds")
    ap.add_argument("--json", default=None, help="also write every result here")
    args = ap.parse_args()

    work = args.workdir or tempfile.mkdtemp(prefix="perfbench_pairs_")
    trees = {"parent": os.path.join(work, "parent"),
             "change": os.path.join(work, "change")}
    export(args.parent, trees["parent"])
    export(args.change, trees["change"])
    with open(os.path.join(trees["parent"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    results = {"parent": [], "change": []}
    ok = True
    try:
        for i, seed in enumerate(args.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run(trees[side], args, seed)
                results[side].append(r)
                good = r is not None and r.get("correct") is True
                ok &= good
                line = "no result" if r is None else " ".join(
                    f"{m['name']}={r['metrics'].get(m['name'], {}).get('value')}"
                    for m in metrics)
                print(f"[pair {i} seed {seed}] {side}: "
                      f"{'ok' if good else 'FAILED'} {line}", flush=True)
    finally:
        if not args.keep and args.workdir is None:
            shutil.rmtree(work, ignore_errors=True)

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"parent": args.parent, "change": args.change,
                       "workload": args.workload, "seeds": args.seeds,
                       "results": results}, f, indent=1)

    print(f"\n{args.workload}: {args.parent} -> {args.change}, "
          f"{len(args.seeds)} pairs, seeds {args.seeds}")
    rows = [("metric", "parent median (q1..q3)", "change median (q1..q3)",
             "median", "improved")]
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in zip(results["parent"], results["change"])
                 if a and b and name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            rows.append((name, "no paired values", "", "", ""))
            continue
        (a1, am, a3) = quartiles([p for p, _ in pairs])
        (c1, cm, c3) = quartiles([c for _, c in pairs])
        better = sum(1 for p, c in pairs if (c > p if higher else c < p))
        delta = f"{(cm - am) / am * 100:+.1f}%" if am else "n/a"
        rows.append((name, f"{am:.4g} ({a1:.4g}..{a3:.4g})",
                     f"{cm:.4g} ({c1:.4g}..{c3:.4g})", delta,
                     f"{better}/{len(pairs)}"))
    widths = [max(len(r[i]) for r in rows) for i in range(5)]
    for r in rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))
    if not ok:
        print("at least one run failed or reported correct: false")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
