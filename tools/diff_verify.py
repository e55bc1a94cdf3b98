#!/usr/bin/env python3
"""Exact query-by-query diff of two graft.Verify output directories.

Each query directory's parquet result is read from both sides and
compared with no tolerance: column names, types and nullability in
order, then the row multisets (rows sorted by their exact repr, so
floats compare bit-for-bit, -0.0 differs from 0.0, and nested values
compare element-wise). A query present on one side only, or recorded
in one side's _failed.json, is a difference too.

Usage: diff_verify.py <outA> <outB> [glob ...]
  globs (fnmatch, e.g. 'ann_*' 'graft_*store*') restrict the queries
  compared; default is every query directory on either side.
Exit status: 0 when every compared query is identical, 1 otherwise.
"""
import fnmatch
import json
import os
import sys

import pyarrow.parquet as pq


def queries(out):
    return {d for d in os.listdir(out)
            if os.path.isdir(os.path.join(out, d)) and not d.startswith(("_", "."))}


def failed(out):
    try:
        with open(os.path.join(out, "_failed.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def load(out, name):
    t = pq.read_table(os.path.join(out, name))
    schema = [(f.name, str(f.type), f.nullable) for f in t.schema]
    rows = sorted(repr(tuple(r.values())) for r in t.to_pylist())
    return schema, rows


def diff(a, b, name):
    sa, ra = load(a, name)
    sb, rb = load(b, name)
    if sa != sb:
        return f"schema {sa} != {sb}"
    if len(ra) != len(rb):
        return f"row count {len(ra)} != {len(rb)}"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing sorted row: {x} != {y}"
    return None


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b, globs = argv[1], argv[2], argv[3:]
    fa, fb = failed(a), failed(b)
    qa, qb = queries(a), queries(b)
    names = sorted(qa | qb | set(fa) | set(fb))
    if globs:
        names = [n for n in names if any(fnmatch.fnmatch(n, g) for g in globs)]
    same = differ = 0
    for n in names:
        if n in fa or n in fb:
            why = f"failed: A={fa.get(n)!r} B={fb.get(n)!r}"
        elif n not in qa or n not in qb:
            why = "missing on " + ("A" if n not in qa else "B")
        else:
            why = diff(a, b, n)
        if why is None:
            same += 1
            print(f"SAME {n}")
        else:
            differ += 1
            print(f"DIFF {n}: {why}")
    print(f"{same} same, {differ} differ")
    return 1 if differ or not names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
