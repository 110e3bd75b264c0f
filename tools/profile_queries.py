"""Noise-robust per-query profiling for optimization A/B runs.

Wall-clock on this host swings ±50% (external page-cache drops — see
OPTIMIZATION_r12.md "Measurement setup"), so raw timing can't resolve
sub-second deltas. This tool reports, per timed rep, the DETERMINISTIC
execution-shape counters alongside wall time:

- n_jobs:   Spark jobs launched by the rep — the serial-action count
            that dominates per-batch funnels at bench scale
- n_stages: completed stages (shuffle boundaries + result stages)
- task_ms:  summed executor task runtime (CPU-ish, less I/O-noise
            sensitive than wall)

After each query's reps it prints one `QUERY: best=… reps=[…]` wall
summary line.

Usage: python tools/profile_queries.py QUERY [QUERY ...] [--reps=N]
Same SPARK_GRAFT_* env contract and noop-sink methodology as bench.py
(warm run, then N timed reps, clearCache + GC between queries).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402


def _job_stage_task(spark) -> tuple[int, int, int]:
    """(#jobs, #stages, total task ms) so far, from the AppStatusStore
    (present even with the UI disabled) — same access pattern as
    bench.py's _spill_mb."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    n_jobs = 0
    it = store.jobsList(None).iterator()
    while it.hasNext():
        it.next()
        n_jobs += 1
    empty = sc._jvm.java.util.ArrayList()
    args = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    n_stages = 0
    task_ms = 0
    sit = store.stageList(empty, *args).iterator()
    while sit.hasNext():
        st = sit.next()
        n_stages += 1
        task_ms += st.executorRunTime()
    return n_jobs, n_stages, task_ms


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
        q = registry[name]
        spark.sparkContext.setJobDescription(f"warm: {name}")
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"timed[{i}]: {name}")
            j0, s0, t0 = _job_stage_task(spark)
            w0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.time() - w0
            walls.append(round(wall, 3))
            j1, s1, t1 = _job_stage_task(spark)
            print(
                f"{name}[{i}]: wall={wall:.3f} jobs={j1 - j0} "
                f"stages={s1 - s0} task_ms={t1 - t0}",
                flush=True,
            )
        print(f"{name}: best={min(walls)} reps={walls}", flush=True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    spark.stop()


if __name__ == "__main__":
    main()
