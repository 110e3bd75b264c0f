"""Generate PLANS.md: formatted physical plans for the headline queries,
with the scale-relevant fragments (PushedFilters, ReadSchema, joins,
window limits, exchanges) highlighted. Run after plan-affecting changes:

    python tools/plans.py [sf_dir]

Each plan is captured on an empty cache and its lines pass through the
plan-snapshot normalizer (`plan_snapshots._norm`), so two runs write the
same file and a diff of it shows a real plan change.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402
from tools.plan_snapshots import _norm, explain_text  # noqa: E402

HIGHLIGHT = re.compile(
    r"PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|WindowGroupLimit|TakeOrderedAndProject|Exchange|HashAggregate|partial"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans")
    registry = load_all()
    lines = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/plans.py {sf_dir}` (Spark "
        f"{spark.version}). Key fragments per query, then the full plan.",
        "",
    ]
    for q in registry.values():
        if not q.bench:
            continue
        # same cache state for every capture, as plan_snapshots.current_plan
        spark.catalog.clearCache()
        plan = "\n".join(map(_norm, explain_text(q.fn(spark, sf_dir)).splitlines()))
        exchanges = len(re.findall(r"\bExchange\b", plan))
        key = [
            ln.strip()
            for ln in plan.splitlines()
            if HIGHLIGHT.search(ln) and ln.strip().startswith(("PushedFilters", "ReadSchema"))
        ]
        ops = sorted(
            {
                m.group(0)
                for m in HIGHLIGHT.finditer(plan)
                if m.group(0) not in ("partial",)
            }
        )
        lines += [
            f"## {q.name}",
            "",
            f"- physical operators: {', '.join(ops)}",
            f"- exchanges (shuffles incl. broadcast): {exchanges}",
        ]
        lines += [f"- `{k[:160]}`" for k in key[:4]]
        lines += ["", "<details><summary>full plan</summary>", "", "```",
                  plan.strip()[:4000], "```", "", "</details>", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
