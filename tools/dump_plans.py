"""Dump the FULL `.explain("formatted")` output of queries into
plans/r<ROUND>/<query>_<tag>.txt for an optimization round's evidence
trail (OPTIMIZATION_r<ROUND>.md references these before/after files).

Usage: python tools/dump_plans.py ROUND TAG [sf_dir] [query ...]

TAG is typically "before" or "after". sf_dir defaults to
$SPARK_GRAFT_SF_DIR, bench.py's data-directory variable. With no query
names the bench queries are dumped; an explicit list may also name
gate-only queries. Unlike tools/plan_snapshots.py (canonicalized,
test-pinned), these files keep the raw explain output — expression
ids, statistics and all — so a reader can see exact plan shapes
(Exchange count, join strategy, PushedFilters, codegen spans).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402
from tools.plan_snapshots import explain_text  # noqa: E402

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    sf_dir = (
        sys.argv[3] if len(sys.argv) > 3 else os.environ["SPARK_GRAFT_SF_DIR"]
    )
    only = set(sys.argv[4:])
    out_dir = os.path.join(PLANS_DIR, f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"plans-r{rnd}")
    registry = load_all()
    for q in registry.values():
        # an explicit query list may name gate-only queries (e.g. an
        # optimization-touched generator that is not benched)
        if only:
            if q.name not in only:
                continue
        elif not q.bench:
            continue
        try:
            plan = explain_text(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{q.name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {q.name} ({tag}) at {sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
