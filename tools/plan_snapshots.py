"""Canonical physical-plan snapshots for the bench queries.

A plan regression (lost broadcast, new shuffle, filter no longer
pushed) should fail `pytest tests/test_plan_snapshots.py` BEFORE it
costs bench time. Snapshots live in tests/plan_snapshots/{query}.txt;
regenerate after an INTENTIONAL plan change with:

    python tools/plan_snapshots.py          # rewrite all snapshots
    python tools/plan_snapshots.py NAME...  # rewrite specific queries

Canonical form = the formatted-explain operator tree (indentation,
operator names, join strategies/build sides) plus normalized
PushedFilters/ReadSchema detail lines — with every volatile token
stripped: expression ids (#123), operator numbers, plan ids, paths,
statistics, partition counts. Generated at the gate SF (sf0.01) so
stats-driven choices (broadcast thresholds) are pinned to the same
inputs the correctness gate reads.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
SNAP_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_snapshots",
)

_STRIP = [
    (re.compile(r"#\d+L?"), "#x"),          # expression ids
    (re.compile(r"\(\d+\)"), ""),           # operator numbers
    # runtime AQE statistics on materialized query stages (cached-plan
    # dumps embed them): sizeInBytes varies run-to-run with broadcast
    # relation packing — volatile, not a plan-shape signal
    (re.compile(r", Statistics\([^)]*\)"), ""),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD"),  # RDD ids of checkpointed relations
    (re.compile(r"\[id=#?x?\d*\]"), ""),
    (re.compile(r"file:[^\s,\]]+"), "PATH"),
    (re.compile(r"/[^\s,\]]*parquet[^\s,\]]*"), "PATH"),
    (re.compile(r", \d+\)"), ", N)"),        # partition counts
    (re.compile(r"\s+$"), ""),
]


def _norm(line: str) -> str:
    for pat, repl in _STRIP:
        line = pat.sub(repl, line)
    return line


def canonicalize(plan: str) -> str:
    """Reduce a formatted explain to its stable skeleton."""
    lines = plan.splitlines()
    out: list[str] = []
    in_tree = False
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if in_tree:
            if not ln.strip():
                in_tree = False
                continue
            out.append(_norm(ln))
        elif ln.strip().startswith(("PushedFilters:", "ReadSchema:")):
            out.append(_norm(ln.strip()))
    return "\n".join(out) + "\n"


def explain_text(df) -> str:
    """The raw ``df.explain("formatted")`` output, captured from stdout."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def current_plan(spark, q, sf_dir: str = SF_DIR) -> str:
    # Deterministic cache state: queries that EXECUTE during plan
    # construction (connected components' convergence probe) leave
    # their .cache() subtrees materialized, and explain dumps the
    # embedded AQE final plans — whose exchange-reuse shape depends on
    # whatever the session cached before. Clearing first makes the
    # materialization history identical in the generator and the test.
    spark.catalog.clearCache()
    return canonicalize(explain_text(q.fn(spark, sf_dir)))


def main() -> None:
    from bike_data_flow_spark.queries import load_all
    from bike_data_flow_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("plan-snapshots")
    os.makedirs(SNAP_DIR, exist_ok=True)
    for q in load_all().values():
        if not q.bench or (only and q.name not in only):
            continue
        snap = current_plan(spark, q)
        with open(f"{SNAP_DIR}/{q.name}.txt", "w", encoding="utf-8") as fh:
            fh.write(snap)
        print(f"wrote {q.name}.txt ({len(snap.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
