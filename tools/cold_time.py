"""Cold (first-materialize) per-query timing — no warm rep.

bench.py warms each query once and times best-of-2 with plan-matched
cache reuse, so a query whose plan contains a lazy ``.cache()`` gets
its cached subtrees pre-materialized by the warm run. That is the
documented warm-rep semantics — but it means the bench walls for the
r12 pin→cache swaps are warm-flattered (VERDICT r12 "What's wrong"
#2). This tool publishes the scale-honest number: each rep is the warm
call of a fresh ``measure`` block with no timed reps, so every cached
subtree is built inside the timed action and released after it.

Usage: python tools/cold_time.py QUERY [QUERY ...] [--reps=N]
Same SPARK_GRAFT_* env contract as bench.py; protocol and counter
sources: bench.measure.
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure, rep_line  # noqa: E402
from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("cold-time")
    registry = load_all()
    # one throwaway query warms the JVM/JIT and the parquet footer
    # caches so rep 0 of the FIRST query isn't paying JVM start
    measure(partial(registry["pricing_summary"].fn, spark, sf_dir), 0, "jvm-warm")
    for name in names:
        fn = partial(registry[name].fn, spark, sf_dir)
        walls = []
        for i in range(reps):
            cold = measure(fn, 0, f"cold[{i}]: {name}")["warm"]
            walls.append(cold["wall"])
            print(f"{name} cold[{i}]: {rep_line(cold)}", flush=True)
        print(f"{name} cold best={min(walls):.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
