"""Interleaved A/B of runtime SQL confs over a query list.

The round-12 verdict left the session-wide shuffled-hash-join default
unaudited on the relational tail (shipping_priority 0.47x etc. in the
driver's bench). Wall time on this host swings +-50% between windows
(external page-cache drops), so a valid A/B must (a) interleave the
two configurations inside ONE JVM/session, (b) run both orders, and
(c) report the deterministic shape counters (jobs/stages/task_ms)
next to wall. This tool does exactly that for confs that are
runtime-settable (spark.sql.*): for each query it warms both configs,
then alternates A,B,A,B,... reps (and B,A,B,A on the second pass).

Usage:
  python tools/ab_conf.py --conf spark.sql.join.preferSortMergeJoin=true:false \
      [--conf k=vA:vB ...] [--reps=N] QUERY [QUERY ...]

A = first value, B = second value. Current session defaults are in
bike_data_flow_spark/session.py (A should normally be the committed
default so "A" mirrors the shipped tree). Each rep is one
bench.measure_rep; counter sources are in its docstring.
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure_rep, release, rep_line  # noqa: E402
from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402


def main() -> None:
    confs: list[tuple[str, str, str]] = []
    names: list[str] = []
    reps = 4
    args = iter(sys.argv[1:])
    for a in args:
        if a == "--conf" or a.startswith("--conf="):
            kv = a.split("=", 1)[1] if "=" in a else next(args)
            k, vals = kv.split("=", 1)
            va, vb = vals.split(":", 1)
            confs.append((k, va, vb))
        elif a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-conf")
    registry = load_all()

    def set_side(side: str) -> None:
        for k, va, vb in confs:
            spark.conf.set(k, va if side == "A" else vb)

    results: dict[str, dict[str, list]] = {}
    for name in names:
        fn = partial(registry[name].fn, spark, sf_dir)
        rows: dict[str, list] = {"A": [], "B": []}
        for first in ("A", "B"):  # both orders
            order = [first, "B" if first == "A" else "A"]
            for side in order:  # warm each side once per pass
                set_side(side)
                measure_rep(fn, f"warm[{side}]: {name}")
            for i in range(reps):
                for side in order:
                    set_side(side)
                    r = measure_rep(fn, f"timed[{side}{i}]: {name}")
                    rows[side].append(r)
                    print(
                        f"{name} [{side} pass={first}] rep{i}: {rep_line(r)}",
                        flush=True,
                    )
            release()
        results[name] = rows

    print("\n== summary (best / median wall; jobs; task_ms median) ==")
    for name, rows in results.items():
        line = [name]
        for side in ("A", "B"):
            walls = sorted(r["wall"] for r in rows[side])
            tasks = sorted(r["task_ms"] for r in rows[side])
            jobs = rows[side][0]["jobs"]
            line.append(
                f"{side}: best={walls[0]:.3f} "
                f"med={walls[len(walls) // 2]:.3f} jobs={jobs} "
                f"task_med={tasks[len(tasks) // 2]}"
            )
        print(" | ".join(line), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
