"""Open-loop load generator for ``wrm_feed``'s live phase.

Runs as its own single-threaded process. It builds every payload first,
then lands snapshot ``i`` through ``streaming.ingest.LandingZone.land`` at
wall time ``t0 + i * interval``, whether or not the pipeline keeps up, and
stamps each file with its simulated poll time. One JSON line per file goes
to ``--log``: path, scheduled wall time, and when ``land`` started and
returned.

    python3 perfbench/feedgen.py --landing DIR --seed N --days D \
        --per-day P --count C --interval S --t0 EPOCH --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import FeedShape, live_schedule, snapshot  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    for name, typ in (("landing", str), ("seed", int), ("days", int),
                      ("per-day", int), ("count", int), ("interval", float),
                      ("t0", float), ("log", str)):
        p.add_argument(f"--{name}", type=typ, required=True)
    a = p.parse_args()

    from bike_data_flow_spark.streaming.ingest import LandingZone

    zone = LandingZone(a.landing)
    sims = live_schedule(a.days, a.per_day, a.count)
    payloads = [snapshot(a.seed, ts, FeedShape())[0] for ts in sims]
    with open(a.log, "w", encoding="utf-8") as log:
        for i, (ts, text) in enumerate(zip(sims, payloads)):
            due = a.t0 + i * a.interval
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            start = time.time()
            path = zone.land(text, now=ts)
            end = time.time()
            log.write(json.dumps({"path": str(path), "due": due,
                                  "start": start, "end": end}) + "\n")


if __name__ == "__main__":
    main()
