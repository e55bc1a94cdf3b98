#!/usr/bin/env python3
"""Paired end-to-end benchmark runs of two checkouts, in alternating order.

    tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W \\
        --seeds 101 102 ... [--seconds 8] [--keep]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds T --trace 0` once in each checkout (each builds what it runs
from its own sources). The side that runs first alternates from pair to
pair, so a drift of the machine over the session falls on both sides.
Prints, for every end-to-end metric of BENCHMARK.json, each side's median
and quartiles over the pairs, the number of pairs the change won (by the
metric's `better` direction), and whether the gap between the medians
exceeds the parent's interquartile range; failed operations are summed
per side.

With `--keep`, each pair's runs keep their work directories, the two
runs' outputs are compared — `tools/diff_probe_answers.py` for
`index_probe`, `tools/diff_curate_outputs.py` for `ingest_curate` — and
the work directories are removed again. Exit status: 0, or 1 when a run
failed or a pair's outputs differ.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# workload -> the tool that compares two `--keep` runs' outputs
DIFF_TOOLS = {"index_probe": "diff_probe_answers.py",
              "ingest_curate": "diff_curate_outputs.py"}


def run(checkout, workload, seed, seconds, keep):
    """(result object, work directory or None) of one perfbench run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if keep:
        cmd.append("--keep")
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    out, err = proc.communicate()
    work = None
    if keep:
        build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
        work = os.path.join(checkout if not os.path.isabs(build) else "",
                            build, "work", "%s-%d-%d" % (workload, seed, proc.pid))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("%s seed %d failed (exit %d):\n%s\n"
                         % (checkout, seed, proc.returncode, err[-2000:]))
        return None, work
    return json.loads(lines[-1]), work


def quartiles(xs):
    """(q1, median, q3), inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--keep", action="store_true",
                    help="compare each pair's outputs (%s)"
                    % ", ".join(sorted(DIFF_TOOLS)))
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    keep = args.keep and args.workload in DIFF_TOOLS

    sides = {"parent": args.parent, "change": args.change}
    values = {s: [] for s in sides}  # per pair: metric -> value
    failed = {s: 0 for s in sides}
    status = 0
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        results, works = {}, {}
        for side in order:
            results[side], works[side] = run(sides[side], args.workload,
                                             seed, args.seconds, keep)
        if any(r is None for r in results.values()):
            status = 1
        else:
            for side, r in results.items():
                values[side].append({n: m["value"]
                                     for n, m in r["metrics"].items()})
                failed[side] += r["failed"]
            print("pair %d seed %d (%s first): job_s parent %.4f change %.4f"
                  % (i + 1, seed, order[0], values["parent"][-1].get("job_s", 0),
                     values["change"][-1].get("job_s", 0)), flush=True)
        if keep:
            found = [sorted(glob.glob(os.path.join(works[s], "run-*.result.json")))
                     for s in ("parent", "change")]
            if all(found):
                d = subprocess.run(
                    [sys.executable, os.path.join(HERE, DIFF_TOOLS[args.workload]),
                     found[0][-1], found[1][-1]],
                    stdout=subprocess.PIPE, text=True)
                print("  outputs: " + d.stdout.strip().splitlines()[-1], flush=True)
                if d.returncode != 0:
                    status = 1
            for w in works.values():
                shutil.rmtree(w, ignore_errors=True)

    n = len(values["change"])
    print("\n%d pairs, workload %s; failed operations parent %d, change %d"
          % (n, args.workload, failed["parent"], failed["change"]))
    if n == 0:
        return 1
    print("%-14s %-34s %-34s %6s %s" % ("metric", "parent median [q1, q3]",
                                        "change median [q1, q3]", "wins",
                                        "gap > parent IQR"))
    for name, direction in better.items():
        p = [v[name] for v in values["parent"] if name in v]
        c = [v[name] for v in values["change"] if name in v]
        if len(p) != n or len(c) != n:
            continue
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        pq, cq = quartiles(p), quartiles(c)
        gap = abs(cq[1] - pq[1]) > (pq[2] - pq[0])
        print("%-14s %10.4f [%9.4f, %9.4f]   %10.4f [%9.4f, %9.4f]   %2d/%-2d %s"
              % (name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2], wins, n,
                 "yes" if gap else "no"))
    return status


if __name__ == "__main__":
    sys.exit(main())
