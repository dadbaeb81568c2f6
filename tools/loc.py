#!/usr/bin/env python3
"""Count non-comment lines of Scala source, per file and in total.

A line counts when it is non-blank after two strips: every `/* ... */`
block (scaladoc included) is removed, and every line whose first
non-blank characters are `//` is dropped. Trailing `//` comments after
code leave the line counted.

Usage:
    python3 tools/loc.py src/main            # per-file lines, then total
    python3 tools/loc.py --total src/main    # total only
    python3 tools/loc.py a.scala dir/ ...    # files and directories mix
"""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def count(text):
    body = BLOCK.sub("", text)
    n = 0
    for line in body.splitlines():
        s = line.strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def main(argv):
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"] or ["src/main"]
    total = 0
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                n = count(fh.read())
            total += n
            if not total_only:
                print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
