#!/usr/bin/env python3
"""Compare the probe answers of two `index_probe` runs, exactly.

    tools/diff_probe_answers.py A.result.json B.result.json

Each argument is the `run-*.result.json` a `perfbench/run.py --workload
index_probe --keep` run leaves in its work directory
(`.bench_build/work/index_probe-<seed>-<pid>/`). A unit `i` probes query
batch `i` in every run of the same seed, so the units both runs completed
answer the same queries: for each of them the bm25 and ivfsq answers
(neighbour ids in rank order, and their scores) must be identical — no
float tolerance. `probe.recall_at_k` cannot show this: it averages over
whichever batches a run completes, so a faster run moves it without any
answer changing.

Exit 0 when every shared answer is identical, 1 on any difference, 2 when
the runs share no unit (nothing was compared).
"""
import json
import sys

CALLS = ("bm25", "ivfsq")


def units(path):
    """unit index -> facts, for the units that answered."""
    with open(path) as f:
        result = json.load(f)
    return {u["i"]: u["facts"] for u in result["units"]
            if "error" not in u["facts"]}


def diff(a, b):
    """(units compared, answers compared, differences as strings)."""
    shared = sorted(set(a) & set(b))
    answers, bad = 0, []
    for i in shared:
        for call in CALLS:
            qa, qb = a[i][call], b[i][call]
            for q in sorted(set(qa) | set(qb), key=int):
                answers += 1
                if qa.get(q) != qb.get(q):
                    bad.append("unit %d %s query %s:\n  A %s\n  B %s"
                               % (i, call, q, qa.get(q), qb.get(q)))
    return len(shared), answers, bad


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    n, answers, bad = diff(units(argv[1]), units(argv[2]))
    for line in bad[:20]:
        print(line)
    print("%d shared units, %d answers compared, %d differ"
          % (n, answers, len(bad)))
    if n == 0:
        return 2
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
