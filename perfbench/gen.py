"""Seeded input generators for the end-to-end benchmark.

Every generator is a pure function of (seed, parameters): the same seed
writes the same bytes. The program under test only ever sees the files
written here; the expectations returned alongside them (error counts,
digests, duplicate groups, brute-force neighbours) are what the output
checks compare against.
"""

import calendar
import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The vocabulary is fixed across seeds so that every seed does the same
# kind of work; the seed only changes which words and rows are drawn.
VOCAB_SEED = 7
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for",
             "with", "as", "on", "was", "by", "at", "from"]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "search",
               "share", "login", "logout"]
EVENT_TYPE_WEIGHTS = [40, 25, 10, 5, 10, 4, 3, 3]
EVENT_START = calendar.timegm((2026, 1, 1, 0, 0, 0))
DAY_S = 86400
QUERY_ID_BASE = 1_000_000_000

# error kind -> the raw CSV cell that triggers it (each bad row carries
# exactly one error, so the per-kind counts are exact)
EVENT_ERRORS = {
    "type_mismatch:amount": ("amount", "n/a"),
    "type_mismatch:qty": ("qty", "12.5"),
    "type_mismatch:ts": ("ts", "2026-13-05 10:00:00"),
    "missing_required:user_id": ("user_id", ""),
}
EVENT_COLUMNS = ["event_id", "user_id", "event_type", "amount", "qty", "ts"]


def vocabulary(size):
    """Stopwords first, then pronounceable synthetic words (4-10 letters)."""
    rng = random.Random(VOCAB_SEED)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(size, shift=3.0):
    w = 1.0 / (np.arange(size) + shift)
    return w / w.sum()


# --------------------------------------------------------------- events

def events_rows(seed, p):
    """Rows of the events CSV (as string cells) plus the prediction.

    A template of `n // replicas` events is replicated `replicas` times,
    each copy with its own id offset and a seeded timestamp offset that
    wraps inside the `days`-day window; then `errors[kind]` distinct rows
    are corrupted with that kind.
    """
    rng = random.Random(seed)
    n, reps, days = p["rows"], p["replicas"], p["days"]
    base = n // reps
    assert base * reps == n, "rows must be a multiple of replicas"
    template = [(rng.randint(1, p["users"]),
                 rng.choices(EVENT_TYPES, EVENT_TYPE_WEIGHTS)[0],
                 rng.randint(1, 100000), rng.randint(1, 20),
                 rng.randrange(days * DAY_S)) for _ in range(base)]
    offsets = [rng.randrange(days * DAY_S) for _ in range(reps)]
    rows = []
    for r in range(reps):
        for i, (user, etype, cents, qty, sec) in enumerate(template):
            ts = EVENT_START + (sec + offsets[r]) % (days * DAY_S)
            rows.append([r * base + i + 1, user, etype, cents, qty, ts])
    bad = {}
    picks = rng.sample(range(n), sum(p["errors"].values()))
    at = 0
    for kind in sorted(p["errors"]):
        for j in picks[at:at + p["errors"][kind]]:
            bad[j] = kind
        at += p["errors"][kind]
    cells, valid = [], []
    for j, (eid, user, etype, cents, qty, ts) in enumerate(rows):
        cell = {"event_id": str(eid), "user_id": str(user),
                "event_type": etype, "amount": "%d.%02d" % divmod(cents, 100),
                "qty": str(qty),
                "ts": "%04d-%02d-%02d %02d:%02d:%02d" % _utc(ts)}
        if j in bad:
            col, raw = EVENT_ERRORS[bad[j]]
            cell[col] = raw
        else:
            valid.append(rows[j])
        cells.append([cell[c] for c in EVENT_COLUMNS])
    errors = {k: v for k, v in p["errors"].items() if v > 0}
    expect = {"records": n, "valid": len(valid), "errors": errors,
              "digest": events_digest(valid),
              "days": len({(r[5] - EVENT_START) // DAY_S for r in valid}),
              "cursor": "%04d-%02d-%02d %02d:%02d:%02d" % _utc(
                  max(r[5] for r in valid))}
    return cells, expect


def _utc(ts):
    return tuple(time.gmtime(ts)[:6])


def events_digest(valid):
    """Exact integer aggregates over the typed valid rows, in the order the
    harness computes them from the written parquet."""
    return [len(valid),
            sum(r[0] for r in valid),
            sum(r[1] for r in valid),
            sum(len(r[2]) for r in valid),
            sum(r[3] for r in valid),
            sum(r[4] for r in valid),
            sum(r[5] for r in valid),
            sum((r[0] * r[4]) % 1000003 for r in valid)]


def chunks(items, n):
    """`items` in `n` contiguous, near-equal parts: inputs are split into
    several files so the source scan has one task per file."""
    step = -(-len(items) // n)
    return [items[i:i + step] for i in range(0, len(items), step)]


def write_events(paths, cells):
    for path, part in zip(paths, chunks(cells, len(paths))):
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(",".join(EVENT_COLUMNS) + "\n")
            for c in part:
                f.write(",".join(c) + "\n")


# ------------------------------------------------------------ documents

def base_documents(seed, p):
    """`p["docs"]` documents: Zipf-sampled words in sentences, a share of
    short pages (Gopher word-count rule), keyword-stuffed pages (entropy
    rule) and PII snippets for the redactor. Returns [(text, lang)]."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = vocabulary(p["vocab"])
    weights = zipf_weights(len(vocab))
    langs, lang_w = zip(*sorted(p["lang_weights"].items()))
    docs = []
    for _ in range(p["docs"]):
        u = rng.random()
        if u < p["short_rate"]:
            n = rng.randint(8, 25)
        else:
            n = rng.randint(p["min_words"], p["max_words"])
        if p["short_rate"] <= u < p["short_rate"] + p["stuffed_rate"]:
            few = [vocab[i] for i in nrng.choice(len(vocab), 3, p=weights)]
            words = [few[i % 3] for i in range(n)]
        else:
            words = [vocab[i] for i in nrng.choice(len(vocab), n, p=weights)]
        if rng.random() < p["pii_rate"]:
            words.insert(rng.randrange(len(words)),
                         "user%d@example.com" % rng.randrange(10 ** 6)
                         if rng.random() < 0.5 else
                         "555-%03d-%04d" % (rng.randrange(1000),
                                            rng.randrange(10000)))
        docs.append((_sentences(words, rng), rng.choices(langs, lang_w)[0]))
    return docs


def _sentences(words, rng):
    out, i = [], 0
    while i < len(words):
        k = rng.randint(8, 15)
        s = words[i:i + k]
        out.append(s[0].capitalize() + " " + " ".join(s[1:]) + "."
                   if len(s) > 1 else s[0].capitalize() + ".")
        i += k
    return " ".join(out)


def _mutate(text, k, vocab, rng):
    words = text.split(" ")
    for j in rng.sample(range(len(words)), min(k, len(words))):
        words[j] = rng.choice(vocab)
    return " ".join(words)


def curate_documents(seed, p):
    """JSONL lines for the curation job plus its prediction.

    Base documents, plus exact copies of `exact_rate` of them and near
    copies (`near_mutations` words replaced) of `near_rate` of them, are
    shuffled and numbered 0..N-1; then `corrupt_lines` unparseable lines
    are spliced in. Exact-copy groups are returned for the survivor check.
    """
    rng = random.Random(seed + 1)
    base = base_documents(seed, p)
    vocab = vocabulary(p["vocab"])
    long_docs = [i for i, (t, _) in enumerate(base)
                 if len(t.split(" ")) >= p["min_words"]]
    exact_src = rng.sample(long_docs, round(len(base) * p["exact_rate"]))
    near_src = rng.sample(long_docs, round(len(base) * p["near_rate"]))
    items = [(t, lang, i) for i, (t, lang) in enumerate(base)]
    items += [(base[i][0], base[i][1], i) for i in exact_src]
    items += [(_mutate(base[i][0], p["near_mutations"], vocab, rng),
               base[i][1], -1) for i in near_src]
    rng.shuffle(items)
    groups = {}
    for doc_id, (_, _, src) in enumerate(items):
        groups.setdefault(src, []).append(doc_id)
    exact_groups = [(g, ids) for g, ids in groups.items()
                    if g >= 0 and len(ids) > 1]
    lines = [json.dumps({"doc_id": doc_id, "lang": lang,
                         "url": "https://site%d.example/%d" % (doc_id % 97,
                                                              doc_id),
                         "text": text}, ensure_ascii=False)
             for doc_id, (text, lang, _) in enumerate(items)]
    for k in range(p["corrupt_lines"]):
        lines.insert(rng.randrange(len(lines) + 1),
                     '{"doc_id": %d, "text": "unterminated' % (10 ** 8 + k))
    expect = {"records": len(lines), "valid": len(items),
              "errors": {"corrupt_record:_corrupt_record": p["corrupt_lines"]},
              "max_id": len(items) - 1,
              "cursor": str(len(items) - 1),
              "exact_groups": len(exact_groups),
              "exact_copies": len(exact_src),
              "near_copies": len(near_src)}
    group_rows = [(doc_id, g) for g, ids in exact_groups for doc_id in ids]
    return lines, group_rows, expect


# ----------------------------------------------------------- embeddings

def mixture(seed, n, dim, clusters, sigma):
    """Clustered corpus on the unit sphere: `clusters` random unit centres,
    each point a centre plus isotropic noise, renormalised."""
    g = np.random.default_rng(seed)
    centres = _unit(g.standard_normal((clusters, dim)))
    assign = g.integers(0, clusters, n)
    pts = _unit(centres[assign] + sigma * g.standard_normal((n, dim)))
    return centres, pts.astype(np.float32)


def mixture_queries(seed, centres, n, sigma):
    g = np.random.default_rng(seed + 2)
    pick = g.integers(0, len(centres), n)
    return _unit(centres[pick] + sigma *
                 g.standard_normal((n, centres.shape[1]))).astype(np.float32)


def _unit(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def brute_force_topk(corpus, queries, k):
    """Exact cosine top-k ids (ties to the smaller id), in benchmark code."""
    scores = queries.astype(np.float64) @ corpus.astype(np.float64).T
    out = []
    for row in scores:
        order = np.lexsort((np.arange(len(row)), -row))[:k]
        out.append([int(i) for i in order])
    return out


def bm25_queries(seed, docs, n, terms):
    """Query strings of `terms` distinct non-stopword words, each drawn from
    one corpus document, so every query has matches."""
    rng = random.Random(seed + 3)
    out = []
    stop = set(STOPWORDS)
    while len(out) < n:
        text, _ = docs[rng.randrange(len(docs))]
        words = sorted({w.strip(".").lower() for w in text.split(" ")} - stop)
        words = [w for w in words if w.isalpha()]
        if len(words) >= terms:
            out.append(" ".join(rng.sample(words, terms)))
    return out


# -------------------------------------------------------------- parquet

def _write_parts(directory, table, files):
    os.makedirs(directory)
    step = -(-table.num_rows // files)
    for j, at in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(at, step),
                       os.path.join(directory, "part-%05d.parquet" % j))


def write_docs_parquet(directory, docs, files):
    _write_parts(directory, text_table(range(len(docs)), [t for t, _ in docs]),
                 files)


def text_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def vectors_table(ids, pts):
    flat = pa.array(pts.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, pts.size + 1, pts.shape[1],
                                 dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offsets, flat)})


def write_vectors_parquet(directory, pts, files):
    _write_parts(directory, vectors_table(range(len(pts)), pts), files)

