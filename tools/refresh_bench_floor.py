#!/usr/bin/env python3
"""Mechanized BENCH_FLOOR.json refresh (r22; closes the r20/r21 verdicts'
"floor regeneration is an editorial act" finding).

The floor file feeds Bench.swingFlags: a query is flagged when its
min-of-reps exceeds 1.5x its committed floor. Refreshing it by hand
invites two editorial failure modes — raising a floor (which silences
future swing flags) and merging an artifact from a different scale
factor. This verb owns both rules:

  - SAME-SF GUARD: every artifact's "sf" basename must equal the floor
    file's "sf"; a mismatch aborts without writing.
  - MIN RULE: new floor = elementwise min(old floor, artifact value).
    A floor can only go DOWN (the honest direction - lower floors make
    swing flags fire MORE readily); queries new to the bench adopt
    their artifact minimum.

Usage:
  tools/refresh_bench_floor.py FLOOR_FILE ARTIFACT [ARTIFACT ...] [--source NOTE]
  tools/refresh_bench_floor.py --check FLOOR_FILE ARTIFACT [ARTIFACT ...]

--check re-derives the merge and exits nonzero if FLOOR_FILE is not
byte-identical to what the verb would write (the "regenerated file
byte-identical to the verb's output" done-criterion).
"""
import json
import os
import sys


def load_artifact(path):
    """The JSON object that opens on the first line starting with "{" —
    a bench artifact's one-line result (full or compact), or a
    pretty-printed object spanning the rest of the file."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    start = 0
    for line in text.splitlines(keepends=True):
        if line.lstrip().startswith("{"):
            try:
                return json.JSONDecoder().raw_decode(text, start + line.index("{"))[0]
            except json.JSONDecodeError as e:
                raise SystemExit(f"{path}: incomplete JSON object: {e}")
        start += len(line)
    raise SystemExit(f"{path}: no JSON object line found")


def sf_name(sf):
    return sf.rstrip("/").split("/")[-1]


def merge(floor_doc, artifacts, source_note):
    floors = dict(floor_doc["floors"])
    lowered, added = 0, 0
    for path, art in artifacts:
        art_sf = sf_name(art.get("sf", ""))
        if art_sf != floor_doc["sf"]:
            raise SystemExit(
                f"{path}: artifact sf '{art_sf}' != floor sf "
                f"'{floor_doc['sf']}' - refusing to merge across scale factors")
        queries = art.get("queries")
        if not isinstance(queries, dict) or not queries:
            raise SystemExit(f"{path}: artifact has no queries object")
        for q, v in queries.items():
            if not isinstance(v, (int, float)) or v <= 0:
                continue  # a zero/negative time is a harness bug, not a floor
            old = floors.get(q)
            if old is None:
                floors[q] = v
                added += 1
            elif v < old:
                floors[q] = v
                lowered += 1
    out = {
        "floors": {q: floors[q] for q in sorted(floors)},
        "sf": floor_doc["sf"],
        "source": source_note,
        "what": floor_doc["what"],
    }
    return out, lowered, added


def render(doc):
    return json.dumps(doc, indent=1) + "\n"


def main(argv):
    args = [a for a in argv if a != "--check"]
    check = "--check" in argv
    source_note = None
    if "--source" in args:
        i = args.index("--source")
        source_note = args[i + 1]
        del args[i:i + 2]
    if len(args) < 2:
        raise SystemExit(__doc__)
    floor_file, artifact_paths = args[0], args[1:]
    with open(floor_file, encoding="utf-8") as f:
        current_text = f.read()
    floor_doc = json.loads(current_text)
    artifacts = [(p, load_artifact(p)) for p in artifact_paths]
    if source_note is None:
        # replaces the previous note: the floors already carry the older
        # artifacts' minima, so chaining notes would only grow the file
        source_note = (" + ".join(os.path.basename(p) for p in artifact_paths)
                       + " (elementwise min over the previous floors, "
                       "refresh_bench_floor.py)")
    out, lowered, added = merge(floor_doc, artifacts, source_note)
    text = render(out)
    if check:
        # --check compares floors/sf/what only (source is a provenance
        # note the caller may word differently)
        cur = json.loads(current_text)
        same = (cur["floors"] == out["floors"] and cur["sf"] == out["sf"])
        print(f"[floor-check] floors {'MATCH' if same else 'DIFFER'} "
              f"({lowered} would lower, {added} would add)")
        return 0 if same else 1
    raised = sum(1 for q, v in out["floors"].items()
                 if q in floor_doc["floors"] and v > floor_doc["floors"][q])
    assert raised == 0, "min rule violated - refusing to write"
    with open(floor_file, "w", encoding="utf-8") as f:
        f.write(text)
    print(f"[floor-refresh] {floor_file}: {lowered} lowered, {added} added, "
          f"0 raised (min rule)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
