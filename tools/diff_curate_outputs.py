#!/usr/bin/env python3
"""Compare the curated outputs of two `ingest_curate` runs, exactly.

    tools/diff_curate_outputs.py A.result.json B.result.json

Each argument is the `run-*.result.json` a `perfbench/run.py --workload
ingest_curate --keep` run leaves in its work directory
(`.bench_build/work/ingest_curate-<seed>-<pid>/`). Every unit of a run
ingests the same batch of the seed, so the units both runs completed
must agree on their per-unit facts: the output ids with their text
hashes (as a set of pairs: collection order is not part of the output),
the number of data files written, the cursor, the exit code, the record
and valid-row counts and the error counts by kind. The row-count metrics
cannot show this: a change that drops a different near-duplicate keeps
the counts.

Exit 0 when every shared unit agrees, 1 on any difference, 2 when the
runs share no unit (nothing was compared).
"""
import json
import sys

FACTS = ("exit", "records", "valid", "errors", "files", "cursor")


def units(path):
    """unit index -> facts, for the units that completed."""
    with open(path) as f:
        result = json.load(f)
    return {u["i"]: u["facts"] for u in result["units"]
            if "error" not in u["facts"]}


def rows(facts):
    """The output as a sorted list of (id, text hash)."""
    return sorted(zip(facts["ids"], facts["text_hashes"]))


def diff(a, b):
    """(units compared, differences as strings)."""
    shared = sorted(set(a) & set(b))
    bad = []
    for i in shared:
        for k in FACTS:
            if a[i].get(k) != b[i].get(k):
                bad.append("unit %d %s: A %r, B %r"
                           % (i, k, a[i].get(k), b[i].get(k)))
        ra, rb = rows(a[i]), rows(b[i])
        if ra != rb:
            only_a = sorted(set(ra) - set(rb))
            only_b = sorted(set(rb) - set(ra))
            bad.append("unit %d output: %d rows vs %d; only in A %s; only in B %s"
                       % (i, len(ra), len(rb), only_a[:10], only_b[:10]))
    return len(shared), bad


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    n, bad = diff(units(argv[1]), units(argv[2]))
    for line in bad[:20]:
        print(line)
    print("%d shared units, %d differences" % (n, len(bad)))
    if n == 0:
        return 2
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
