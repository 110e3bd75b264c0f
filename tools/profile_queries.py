"""Noise-robust per-query profiling for optimization A/B runs.

Wall-clock on this host swings ±50% (external page-cache drops — see
OPTIMIZATION_r12.md "Measurement setup"), so raw timing can't resolve
sub-second deltas. This tool prints, per timed rep, the DETERMINISTIC
execution-shape counters alongside wall time (jobs launched, stages,
summed executor task ms), then one `QUERY: best=… reps=[…]` wall
summary line per query.

Usage: python tools/profile_queries.py QUERY [QUERY ...] [--reps=N]
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
    spark = get_spark("profile-queries")
    registry = load_all()
    for name in names:
        m = measure(partial(registry[name].fn, spark, sf_dir), reps, name)
        for i, r in enumerate(m["reps"]):
            print(f"{name}[{i}]: {rep_line(r)}", flush=True)
        walls = [r["wall"] for r in m["reps"]]
        print(f"{name}: best={m['best']} reps={walls}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
