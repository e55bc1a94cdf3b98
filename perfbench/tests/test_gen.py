"""Generator determinism and the predictions the output checks rely on.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
    PARAMS = json.load(f)


def small(workload):
    """The workload's parameters at a size a unit test can afford."""
    p = json.loads(json.dumps(PARAMS[workload]))
    if "events" in p:
        p["events"].update(rows=2000, replicas=4, errors={
            "type_mismatch:amount": 4, "type_mismatch:qty": 3,
            "type_mismatch:ts": 2, "missing_required:user_id": 1})
    if "documents" in p:
        p["documents"]["docs"] = 200
    if "vectors" in p:
        p["vectors"]["rows"] = 300
    if "probe" in p:
        p["probe"]["queries"] = 16
    return p


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def generate(self, workload, seed):
        """Inputs written to a fresh directory, with the directory's own
        path replaced so digests compare contents only."""
        d = tempfile.mkdtemp()
        try:
            _, expect, _, _ = run.make_inputs(workload, seed, small(workload), d)
            for root, _, files in os.walk(d):
                for f in files:
                    if f.endswith(".yaml"):
                        path = os.path.join(root, f)
                        with open(path) as fh:
                            text = fh.read().replace(d, "<inputs>")
                        with open(path, "w") as fh:
                            fh.write(text)
            return tree_digest(d), json.dumps(expect, sort_keys=True)
        finally:
            shutil.rmtree(d)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            self.assertEqual(self.generate(w, 11), self.generate(w, 11), w)

    def test_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(self.generate(w, 11)[0], self.generate(w, 12)[0], w)


class Predictions(unittest.TestCase):
    def test_event_errors_are_exact_and_disjoint(self):
        p = small("ingest_events")["events"]
        cells, expect = gen.events_rows(5, p)
        self.assertEqual(len(cells), p["rows"])
        self.assertEqual(expect["valid"], p["rows"] - sum(p["errors"].values()))
        bad = {k: 0 for k in gen.EVENT_ERRORS}
        for row in cells:
            cell = dict(zip(gen.EVENT_COLUMNS, row))
            hits = [k for k, (col, raw) in gen.EVENT_ERRORS.items()
                    if cell[col] == raw]
            self.assertLessEqual(len(hits), 1)
            for k in hits:
                bad[k] += 1
        self.assertEqual(bad, p["errors"])

    def test_event_ids_are_distinct(self):
        cells, _ = gen.events_rows(5, small("ingest_events")["events"])
        ids = [row[0] for row in cells]
        self.assertEqual(len(ids), len(set(ids)))

    def test_documents_inject_copies_and_corrupt_lines(self):
        p = small("ingest_curate")["documents"]
        lines, groups, expect = gen.curate_documents(3, p)
        parsed, corrupt = [], 0
        for line in lines:
            try:
                parsed.append(json.loads(line))
            except ValueError:
                corrupt += 1
        self.assertEqual(corrupt, p["corrupt_lines"])
        self.assertEqual(len(parsed), expect["valid"])
        self.assertEqual(sorted(d["doc_id"] for d in parsed),
                         list(range(expect["valid"])))
        texts = {d["doc_id"]: d["text"] for d in parsed}
        by_group = {}
        for doc_id, g in groups:
            by_group.setdefault(g, set()).add(texts[doc_id])
        self.assertEqual(len(by_group), expect["exact_groups"])
        self.assertTrue(all(len(t) == 1 for t in by_group.values()))
        self.assertEqual(len(groups) - len(by_group), expect["exact_copies"])

    def test_mixture_is_on_the_unit_sphere_and_brute_force_is_exact(self):
        centres, pts = gen.mixture(1, 200, 16, 4, 0.1)
        norms = (pts.astype("float64") ** 2).sum(axis=1) ** 0.5
        self.assertTrue(abs(norms - 1).max() < 1e-5)
        q = gen.mixture_queries(1, centres, 5, 0.1)
        top = gen.brute_force_topk(pts, q, 3)
        for qi, ids in enumerate(top):
            scores = pts.astype("float64") @ q[qi].astype("float64")
            self.assertEqual(ids[0], int(scores.argmax()))


if __name__ == "__main__":
    unittest.main()
