"""Pure metric arithmetic of the benchmark: percentiles, call-site
attribution, interval unions and prefix differences. Kept free of I/O so
the unit tests can pin each rule."""

import math
import os
import re
import statistics

# Percentiles considered for a tail, highest last.
TAIL_PERCENTILES = [50, 75, 90, 95, 99, 99.9]
TAIL_BEYOND = 10

# Top-level packages of the program whose files report as their layer; in
# `operators` each file is its own module.
LAYER_PACKAGES = {"sinks", "sources", "core", "state"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile of an ascending list: the value at 1-based
    rank ceil(p/100 * n)."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p / 100.0 * n - 1e-9))
    return sorted_xs[rank - 1], rank


def tail(samples):
    """(percentile, value, n): the highest percentile in TAIL_PERCENTILES
    with at least TAIL_BEYOND samples ranked beyond it. With too few
    samples for any of them, the maximum, reported as percentile 100."""
    xs = sorted(samples)
    best = (100, xs[-1], len(xs))
    for p in TAIL_PERCENTILES:
        value, rank = nearest_rank(xs, p)
        if len(xs) - rank >= TAIL_BEYOND:
            best = (p, value, len(xs))
    return best


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def module_map(src_root):
    """File name -> module for every program source file: `operators/X.scala`
    is module X, files under a layer package report as that package, and
    top-level files (JobRunner, BuildIndex) as themselves."""
    out = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        pkg = rel[1] if len(rel) > 1 and rel[0] == "graft" else None
        for f in files:
            if f.endswith(".scala"):
                stem = f[:-len(".scala")]
                out[f] = pkg if pkg in LAYER_PACKAGES else stem
    return out


SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.scala):(\d+)")


def parse_site(site):
    """'parquet at ParquetSink.scala:166' -> ('ParquetSink.scala', 166)."""
    m = SITE.search(site or "")
    return (m.group(1), int(m.group(2))) if m else (None, None)


def attribute(site, modules):
    """Module owning a Spark job's call site; 'other' when the site is not
    a program file (the benchmark's own actions, Spark internals)."""
    f, _ = parse_site(site)
    return modules.get(f, "other")


def called_from(stack, cls, method):
    """Whether a long call site (one `pkg.Class.method(File.scala:line)`
    frame a line, as Spark records it) passes through `cls.method`, or a
    closure inside it."""
    frame = re.compile(r"(?:^|\.)%s\$?\.(?:\$anonfun\$)?%s\b"
                       % (re.escape(cls), re.escape(method)), re.M)
    return bool(frame.search(stack or ""))


def marginals(prefix_ms, order):
    """Marginal cost of each successive prefix: the first prefix's own
    median, then each median minus the previous one's."""
    meds = [median(prefix_ms[name]) for name in order]
    return {name: meds[i] - (meds[i - 1] if i else 0.0)
            for i, name in enumerate(order)}


def same_ranking(got, ref, rel=1e-9):
    """Same ranked answer, each a list of [id, score]: equal length, scores
    equal to `rel` relative, and equal ids at every rank whose reference
    score is not tied with a neighbour's (tied ids may swap between
    scorers). The last rank may tie with a candidate just past k, so only
    its score is compared."""
    def close(x, y):
        return abs(x - y) <= rel * max(1.0, abs(y))

    if len(got) != len(ref):
        return False
    for r, ((gi, gs), (ri, rs)) in enumerate(zip(got, ref)):
        tied = ((r > 0 and close(rs, ref[r - 1][1])) or r + 1 == len(ref)
                or close(rs, ref[r + 1][1]))
        if not close(gs, rs) or not (tied or gi == ri):
            return False
    return True


def recall_at_k(got, truth, k):
    """Mean over queries of |got ∩ truth| / k."""
    if not truth:
        return 0.0
    return sum(len(set(got.get(q, [])[:k]) & set(t[:k])) / float(k)
               for q, t in truth.items()) / len(truth)
