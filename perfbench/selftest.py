"""Fast self-test of the benchmark's own code (no JVM, a few seconds).

    python3 perfbench/selftest.py

Checks that the generators are seeded (same seed → byte-identical inputs;
another seed → other bytes with the same sizes and class shares), that the
feed generator's valid-row counts match a plain-Python reading of the wire
format, and the percentile, rate, spread and self-time helpers on
hand-made data. Exits 1 on the first failed check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from gen import (  # noqa: E402
    CorpusShape,
    FeedShape,
    curation_plan,
    snapshot,
    snapshot_ts,
    write_backlog,
    write_curation_inputs,
)


def _tree_digest(root: str) -> tuple[str, int]:
    h, n = hashlib.sha256(), 0
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
            n += 1
    return h.hexdigest(), n


def _parses(line: str) -> bool:
    """The parser's row contract (operators/parse.py): 13 fields, a
    three-part composite, every numeric field readable."""
    f = line.split(",")
    if len(f) != 13 or f[0].startswith("#id"):
        return False
    comp = f[1].split("|")
    if len(comp) != 3:
        return False
    try:
        float(comp[0]), int(comp[1]), int(comp[2])
        float(f[3]), float(f[4])
        int(f[5]), int(f[6]), int(f[10]), int(f[12])
    except ValueError:
        return False
    return True


def check(cond: bool, what: str) -> None:
    if not cond:
        print(f"FAIL {what}")
        sys.exit(1)
    print(f"ok   {what}")


def main() -> None:
    base = os.path.join(os.getcwd(), ".perfbench", f"selftest-{os.getpid()}")
    try:
        shape = FeedShape()
        digests = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            counts = write_backlog(seed, os.path.join(base, tag), 2, 5, shape)
            digests[tag] = (_tree_digest(os.path.join(base, tag)), counts)
        check(digests["a"] == digests["b"], "feed: same seed, byte-identical backlog")
        check(digests["a"][0][0] != digests["c"][0][0], "feed: other seed, other bytes")
        check(digests["a"][0][1] == digests["c"][0][1] and digests["a"][1] == digests["c"][1],
              "feed: other seed, same file count and valid rows per day")
        text, valid = snapshot(7, snapshot_ts(0, 3), shape)
        rows = text.splitlines()[1:]
        check(sum(map(_parses, rows)) == valid == shape.stations + shape.bikes,
              "feed: valid-row count matches a plain reading of the wire format")
        check(len(rows) - valid == shape.malformed_per_file, "feed: malformed rows per file")

        cshape = CorpusShape(store_docs=50)
        plans = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            plan = curation_plan(seed, 3, cshape)
            write_curation_inputs(plan, os.path.join(base, f"cur_{tag}"))
            plans[tag] = plan
            digests[f"cur_{tag}"] = _tree_digest(os.path.join(base, f"cur_{tag}"))
        check(digests["cur_a"] == digests["cur_b"], "curation: same seed, byte-identical inputs")
        check(digests["cur_a"][0] != digests["cur_c"][0], "curation: other seed, other bytes")
        check(all(plans["a"].counts(d) == plans["c"].counts(d) for d in range(3))
              and [len(d) for d in plans["a"].days] == [len(d) for d in plans["c"].days],
              "curation: other seed, same day sizes and decision counts")
        check(all(v > 0 for v in plans["a"].counts(0).values()),
              "curation: every decision class carries traffic")
        ids = [i for d in plans["a"].days for i, _ in d] + [i for i, _ in plans["a"].store]
        check(len(ids) == len(set(ids)), "curation: document ids are unique")
    finally:
        shutil.rmtree(base, ignore_errors=True)

    v = [float(x) for x in range(1, 101)]
    check(stats.median(v) == 50.5, "median of 1..100")
    check(stats.percentile(v, 90) == 90.0 and stats.percentile(v, 50) == 50.0,
          "nearest-rank percentile of 1..100")
    check(stats.percentile([3.0], 90) == 3.0, "percentile of one sample")
    check(stats.tail_supported(100, 90) and not stats.tail_supported(99, 90),
          "p90 needs 10 samples beyond it")
    check(stats.rate(30, 1.5) == 20.0, "rate")
    check(abs(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) - 3.0 / 3.0) < 1e-12,
          "spread: interquartile distance over median")
    check(stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4, "union of overlapping intervals")
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},  # op
        {"start": 1.0, "end": 4.0, "parent": 0},
        {"start": 3.0, "end": 6.0, "parent": 0},  # overlaps its sibling
        {"start": 1.5, "end": 2.0, "parent": 1},
        {"start": 2.0, "end": 9.0, "parent": None},  # another thread's root
    ]
    check(stats.self_times(spans) == [5.0, 2.5, 3.0, 0.5, 7.0],
          "self time: duration minus the union of child spans")


if __name__ == "__main__":
    main()
