"""The one plan tool: capture a query's physical plan, reduce it to its
canonical form, and keep the plan-snapshot gate and PLANS.md.

    python tools/plans.py [--sf SF_DIR] [--out DIR] [NAME ...]

With no --out it rewrites tests/plan_snapshots/NAME.txt (the bench
queries, or the named ones) at the gate SF, then renders PLANS.md from
the snapshot files, so PLANS.md always shows what the gate compares.
With --out DIR it writes the canonical plan of each named registry
query (default: the bench queries) at --sf to DIR/NAME.txt; a `diff -r`
of two such directories, one per checkout, shows only real plan changes.

Canonical form = the formatted-explain operator tree (indentation,
operator names, join strategies and build sides) plus the PushedFilters
and ReadSchema detail lines, with every volatile token stripped:
expression ids, operator numbers, plan and RDD ids, paths, statistics,
partition counts. Every AdaptiveSparkPlan is pinned at its initial
plan: the top-level plan is captured before it runs, but an AQE plan
embedded under an already materialized cached relation also prints the
`== Final Plan ==` of that earlier run, which AQE re-planned from
runtime statistics and which differs run to run. The gate still
compares every operator the planner chose.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the gate SF: stats-driven choices (broadcast thresholds) are pinned to
# the same inputs the correctness gate reads
SF_DIR = "/root/testdata/sf0.01"
SNAP_DIR = os.path.join(ROOT, "tests", "plan_snapshots")
PLANS_MD = os.path.join(ROOT, "PLANS.md")

_STRIP = [
    (re.compile(r"#\d+L?"), "#x"),          # expression ids
    (re.compile(r"\(\d+\)"), ""),           # operator numbers
    (re.compile(r", Statistics\([^)]*\)"), ""),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD"),  # RDD ids of checkpointed relations
    (re.compile(r"\[id=#?x?\d*\]"), ""),
    (re.compile(r"file:[^\s,\]]+"), "PATH"),
    (re.compile(r"/[^\s,\]]*parquet[^\s,\]]*"), "PATH"),
    (re.compile(r", \d+\)"), ", N)"),        # partition counts
    (re.compile(r"\s+$"), ""),
]
_OPERATORS = re.compile(
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|WindowGroupLimit"
    r"|TakeOrderedAndProject|Exchange|HashAggregate"
)
_SHUFFLE = re.compile(r"\bExchange\b")


def _norm(line: str) -> str:
    for pat, repl in _STRIP:
        line = pat.sub(repl, line)
    return line


def explain(df) -> str:
    """The raw ``df.explain("formatted")`` output."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def canonical(plan: str) -> str:
    """Reduce a raw formatted explain to its stable skeleton.

    Each `== Final Plan ==` subtree is dropped up to its own
    `== Initial Plan ==` header. A final plan can embed further AQE
    plans with their own Final/Initial pairs, whose headers may sit at
    the same column as the outer ones, so headers are matched by
    nesting depth, not by column."""
    out: list[str] = []
    in_tree = False
    finals = 0  # Final headers open above this line
    for ln in plan.splitlines():
        if ln.startswith("== Physical Plan =="):
            in_tree = True
        elif in_tree and not ln.strip():
            in_tree = False
        elif in_tree:
            if "== Final Plan ==" in ln:
                finals += 1
            elif "== Initial Plan ==" in ln:
                finals -= 1
            if not finals:
                out.append(_norm(ln))
        elif ln.strip().startswith(("PushedFilters:", "ReadSchema:")):
            out.append(_norm(ln.strip()))
    return "\n".join(out) + "\n"


def capture(spark, q, sf_dir: str = SF_DIR) -> str:
    """The canonical plan of registry query ``q``, built on an empty
    cache: queries that execute during plan construction (connected
    components' convergence probe, store probes) leave cached subtrees
    materialized, so the capture must not see what earlier queries
    cached."""
    spark.catalog.clearCache()
    return canonical(explain(q.fn(spark, sf_dir)))


def render(names: list[str]) -> str:
    """PLANS.md from the snapshot files of ``names``: key fragments per
    query, then the full canonical plan."""
    import pyspark

    lines = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Rendered by `python tools/plans.py` from the canonical plans in "
        f"`tests/plan_snapshots/` (sf0.01, Spark {pyspark.__version__}). "
        "Key fragments per query, then the full plan.",
        "",
    ]
    for name in names:
        with open(os.path.join(SNAP_DIR, f"{name}.txt"), encoding="utf-8") as fh:
            plan = fh.read()
        ops = sorted(set(_OPERATORS.findall(plan)))
        key = [ln for ln in plan.splitlines() if ln.startswith(("PushedFilters", "ReadSchema"))]
        lines += [
            f"## {name}",
            "",
            f"- physical operators: {', '.join(ops)}",
            f"- shuffle exchanges: {len(_SHUFFLE.findall(plan))}",
            *[f"- `{k[:160]}`" for k in key[:4]],
            "",
            "<details><summary>full plan</summary>",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
            "</details>",
            "",
        ]
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    from bike_data_flow_spark.queries import load_all
    from bike_data_flow_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=SF_DIR, help=f"data directory (default {SF_DIR})")
    ap.add_argument("--out", help="write DIR/NAME.txt instead of the snapshots and PLANS.md")
    ap.add_argument("names", nargs="*", metavar="NAME", help="default: the bench queries")
    args = ap.parse_args(argv)
    registry = load_all()
    bench = [n for n, q in registry.items() if q.bench]
    unknown = [n for n in args.names if n not in (registry if args.out else bench)]
    if unknown:
        ap.error(f"not a {'registry' if args.out else 'bench'} query: {' '.join(unknown)}")
    if not args.out and args.sf != SF_DIR:
        ap.error(f"the snapshots are pinned at {SF_DIR}; pass --out for another SF")
    out = args.out or SNAP_DIR
    os.makedirs(out, exist_ok=True)
    spark = get_spark("plans")
    for name in args.names or bench:
        plan = capture(spark, registry[name], args.sf)
        with open(os.path.join(out, f"{name}.txt"), "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {name}.txt ({len(plan.splitlines())} lines)")
    spark.stop()
    if not args.out:
        with open(PLANS_MD, "w", encoding="utf-8") as fh:
            fh.write(render(bench))
        print(f"wrote {PLANS_MD}")


if __name__ == "__main__":
    main()
