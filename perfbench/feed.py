"""``wrm_feed``: the paper's ingest path, restarted on a backlog, then live.

Phase A (catch-up): a seeded backlog day of ``dt=…/wrm_stations_{ts}.txt``
snapshots is drained by ``streaming.pipeline.start_pipeline(...,
available_now=True)``. Phase B (live): a separate generator process
(feedgen.py) lands further snapshots open loop, one every
``LIVE_INTERVAL_S`` of wall time on a simulated 30 s poll clock, into that
day; ``start_pipeline`` follows on the same checkpoint with a 1 s
processing-time trigger, so every live micro-batch re-reads that whole
day. Phase A then drains a second backlog day, landed after the live
phase, on the same checkpoint. Phase A's two halves sit on both sides of phase
B, so a short slowdown of the host moves only one of them. A traced run
then serves the zone once through the view/analytics set (serve.py) and
checks it against DuckDB.

Freshness of a live file is the end of the micro-batch that rebuilt its
day minus the time the file was *due* to land, so queue wait counts. Batch
membership comes from the file source's log in the checkpoint; batch end
times from a wrapper around ``pipeline.day_rebuild_batch``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import stats
from gen import FeedShape, live_schedule, snapshot, snapshot_name, snapshot_ts, write_backlog

DAYS = 2  # backlog days: one drained before the live phase, one after
PER_DAY = 200  # snapshots per backlog day: 100 min of 30 s polls, a scaled-down day of 2880
LIVE_INTERVAL_S = 0.5
FRESHNESS_LIMIT_S = 30.0  # the reference's sensor interval / critical tier
WARM_PER_DAY, WARM_LIVE_FILES = 60, 2  # the warm pass: one smaller day
GEN_HEAD_START_S = 1.0  # the generator imports and builds payloads before its first due time


def live_count(seconds: int) -> int:
    """Live files per run: the generator lands them over ``--seconds``."""
    return max(40, 2 * seconds)


class _BatchClock:
    """Wraps ``pipeline.day_rebuild_batch`` so each micro-batch's start and
    end are known (and traced as ``streaming.batch`` when tracing); the
    program's batch function runs unchanged inside."""

    def __init__(self, pipeline, tracer) -> None:
        self.starts: dict[int, float] = {}
        self.ends: dict[int, float] = {}
        self._pipeline, self._original = pipeline, pipeline.day_rebuild_batch

        def factory(*args, **kwargs):
            process = self._original(*args, **kwargs)

            def timed(batch_df, batch_id):
                self.starts[batch_id] = time.time()
                if tracer is None:
                    process(batch_df, batch_id)
                else:
                    with tracer.span("streaming.batch"):
                        process(batch_df, batch_id)
                self.ends[batch_id] = time.time()

            return timed

        pipeline.day_rebuild_batch = factory

    def reset(self) -> None:
        """Forget earlier streams' batches (a new checkpoint restarts ids)."""
        self.starts.clear()
        self.ends.clear()

    def restore(self) -> None:
        self._pipeline.day_rebuild_batch = self._original


def source_log(checkpoint: str) -> dict[str, int]:
    """File name → batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def catch_up(spark, pipeline, landing: str, out: str) -> float:
    """Phase A: drain ``landing`` into ``out/enhanced`` on a fresh
    checkpoint ``out/ckpt``; returns its wall time."""
    t = time.time()
    pipeline.start_pipeline(
        spark, landing, os.path.join(out, "enhanced"), os.path.join(out, "ckpt"),
        available_now=True,
    ).awaitTermination()
    return time.time() - t


def _live(ctx, pipeline, clock, landing: str, out: str, live: int, seed: int,
          days: int = 1, per_day: int = PER_DAY) -> dict:
    """Phase B: ``live`` generator files, continuing the last of ``days``
    backlog days of ``per_day`` snapshots, while the stream follows on the
    checkpoint under ``out``."""
    ckpt = os.path.join(out, "ckpt")
    q = pipeline.start_pipeline(
        ctx.spark, landing, os.path.join(out, "enhanced"), ckpt, trigger_seconds=1)
    gen_log = os.path.join(out, "feedgen.jsonl")
    t0 = time.time() + GEN_HEAD_START_S
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "feedgen.py"),
         "--landing", landing, "--seed", str(seed), "--days", str(days),
         "--per-day", str(per_day), "--count", str(live), "--interval",
         str(LIVE_INTERVAL_S), "--t0", repr(t0), "--log", gen_log],
        cwd=ctx.root,
    )
    try:
        rc = proc.wait(timeout=live * LIVE_INTERVAL_S + 60)
        with open(gen_log, encoding="utf-8") as fh:
            landed = [json.loads(line) for line in fh]
        names = {os.path.basename(r["path"]) for r in landed}
        deadline = time.time() + FRESHNESS_LIMIT_S + 10
        batches: dict[str, int] = {}
        while time.time() < deadline:
            batches = source_log(ckpt)
            if names <= batches.keys() and all(batches[n] in clock.ends for n in names):
                break
            time.sleep(0.2)
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        q.stop()
    return {"rc": rc, "landed": landed, "batches": batches, "progress": progress}


def run(ctx) -> dict:
    from bike_data_flow_spark.streaming import pipeline

    shape = FeedShape()
    seed, live = ctx.seed, live_count(ctx.seconds)
    root, warm_root = os.path.join(ctx.work, "feed"), os.path.join(ctx.work, "warm")
    landing, warm_landing = os.path.join(root, "landing"), os.path.join(warm_root, "landing")

    backlog = ctx.build(lambda: write_backlog(seed, landing, 1, PER_DAY, shape))
    clock = _BatchClock(pipeline, ctx.tracer)
    try:
        def warm_pass():
            write_backlog(seed + 1, warm_landing, 1, WARM_PER_DAY, shape)
            catch_up(ctx.spark, pipeline, warm_landing, warm_root)
            _live(ctx, pipeline, clock, warm_landing, warm_root, WARM_LIVE_FILES, seed + 1,
                  1, WARM_PER_DAY)

        ctx.warm(warm_pass)
        clock.reset()
        if ctx.tracer is not None:
            tr = ctx.tracer
            tr.wrap(pipeline, "read_raw_partition", "parse.read_raw_partition")
            tr.wrap(pipeline, "enhance", "enhance.enhance")
            tr.wrap(pipeline, "write_enhanced", "enhance.write_enhanced")
        ctx.mark_timed_start()
        ctx.phase("A")
        phase_a_s = [catch_up(ctx.spark, pipeline, landing, root)]
        live_batch = max(clock.ends, default=-1) + 1
        ctx.phase("B")
        before = ctx.counters.read() if ctx.counters else None
        res = _live(ctx, pipeline, clock, landing, root, live, seed)
        if ctx.counters:
            res["counts"] = ctx.counters.delta(before, ctx.counters.read())
        live_end = max(clock.ends, default=-1) + 1
        ctx.phase(None)
        backlog.update(write_backlog(seed, landing, DAYS - 1, PER_DAY, shape, first=1))
        ctx.phase("A")
        phase_a_s.append(catch_up(ctx.spark, pipeline, landing, root))
        ctx.phase(None)
        ctx.mark_timed_end()
    finally:
        clock.restore()
    landed, batches = res["landed"], res["batches"]

    # --- correctness: per-dt rows, every landed file in s3_source_key --------
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.enhance import read_enhanced

    errors = []
    if res["rc"] != 0:
        errors.append(f"generator exited with {res['rc']}")
    if any(r["path"] == "None" for r in landed):
        errors.append("the landing zone refused a live snapshot as a duplicate")
    valid = dict(backlog)
    per_file = {}
    for ts in live_schedule(1, PER_DAY, live):
        dt, name = snapshot_name(ts)
        per_file[name] = snapshot(seed, ts, shape)[1]
        valid[dt] = valid.get(dt, 0) + per_file[name]
    zone_dir = os.path.join(root, "enhanced")
    zone = read_enhanced(ctx.spark, zone_dir)
    got = {r["dt"]: r["count"] for r in zone.groupBy("dt").count().collect()}
    if got != valid:
        errors.append(f"enhanced rows per dt {got} != generated valid rows {valid}")
    keys = {os.path.basename(r[0]) for r in zone.select(F.col("s3_source_key")).distinct().collect()}
    landed_files = {
        n for _, _, files in os.walk(landing) for n in files if n.endswith(".txt")
    }
    if landed_files - keys:
        errors.append(f"{len(landed_files - keys)} landed files missing from s3_source_key")


    # --- freshness per live file -------------------------------------------
    fresh, failed = [], 0
    for r in landed:
        b = batches.get(os.path.basename(r["path"]))
        end = clock.ends.get(b) if b is not None else None
        if end is None or end - r["due"] > FRESHNESS_LIMIT_S:
            failed += 1
        else:
            fresh.append(end - r["due"])
    result = {
        "errors": errors,
        "failed": failed,
        "attempted": len(landed),
        "latency_samples": fresh,
        "latency_name": "freshness_p{}_s",
        "rate": stats.rate(sum(backlog.values()), sum(phase_a_s)),
        "rate_name": "catchup_rows_per_s",
        "ops": len(clock.ends),  # micro-batches in the timed window
        "op_span": "streaming.batch",
        "layer": {},
        "detail": {"phase_a_s": phase_a_s, "live_batches_s": [
            clock.ends[b] - clock.starts[b] for b in range(live_batch, live_end)]},
    }
    if ctx.tracer is not None:
        # the read path, served once from the zone this run built
        import serve

        serve_errors, serve_timings = serve.serve(ctx.spark, zone_dir, ctx.counters)
        errors += serve_errors
        result["layer"] = _layers(ctx, res, clock, range(live_batch, live_end), per_file,
                                  backlog, zone_dir, serve_timings)
    return result


def catchup_baseline(ctx) -> float:
    """Phase A alone (after a one-day warm catch-up), its two backlog days
    back to back: valid rows per second."""
    from bike_data_flow_spark.streaming import pipeline

    shape, landing, warm = FeedShape(), *(os.path.join(ctx.work, d) for d in ("landing", "warm"))
    write_backlog(ctx.seed + 1, os.path.join(warm, "landing"), 1, WARM_PER_DAY, shape)
    catch_up(ctx.spark, pipeline, os.path.join(warm, "landing"), warm)
    rows, wall = 0, 0.0
    for day in range(DAYS):
        rows += sum(write_backlog(ctx.seed, landing, 1, PER_DAY, shape, first=day).values())
        wall += catch_up(ctx.spark, pipeline, landing, os.path.join(ctx.work, "feed"))
    return rows / wall


def _layers(ctx, res, clock, live_ids, per_file, backlog,
            zone_dir, serve_timings) -> dict:
    """Per-layer metrics of a traced run (phase B unless named for A)."""
    landed, batches = res["landed"], res["batches"]
    spans = ctx.tracer.closed()

    def mean_span(name, phase="B"):
        d = [s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] == phase]
        return sum(d) / len(d) if d else 0.0

    with_data = [p for p in res["progress"] if p["numInputRows"] > 0 and p["batchId"] in live_ids]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in with_data]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in with_data]
    files_in = {b: 0 for b in live_ids}
    for name, b in batches.items():
        if b in files_in:
            files_in[b] += 1
    # backlog: files landed but not yet taken by a batch, at each batch start
    taken_before = {b: sum(1 for n, bb in batches.items() if bb < b and n in per_file)
                    for b in live_ids}
    backlog_max = max(
        (sum(1 for r in landed if r["end"] <= clock.starts[b]) - taken_before[b]
         for b in live_ids), default=0)
    # rows each live batch re-read: the whole day as committed through it
    day_rows = backlog[snapshot_name(snapshot_ts(0, 0))[0]]
    rows_read = sum(
        day_rows + sum(per_file[n] for n, bb in batches.items() if n in per_file and bb <= b)
        for b in live_ids)
    new_rows = sum(per_file.values())
    layer = {
        "ingest.land_s": stats.median([r["end"] - r["start"] for r in landed]),
        "ingest.generator_late_s": max(r["start"] - r["due"] for r in landed),
        "streaming.batches": len(live_ids),
        "streaming.trigger_s": stats.median(trig) if trig else 0.0,
        "streaming.add_batch_s": stats.median(add) if add else 0.0,
        "streaming.overhead_s": stats.median([t - a for t, a in zip(trig, add)]) if trig else 0.0,
        "streaming.files_per_batch": sum(files_in.values()) / max(1, len(live_ids)),
        "streaming.backlog_files_max": backlog_max,
        "streaming.catchup_batches": len(clock.ends) - len(live_ids),
        "streaming.jobs_per_batch": res["counts"]["jobs"] / max(1, len(live_ids)),
        "parse.build_s": mean_span("parse.read_raw_partition"),
        "parse.rows_read": rows_read,
        "parse.reparse_ratio": rows_read / new_rows,
        "parse.catchup_build_s": mean_span("parse.read_raw_partition", "A"),
        "enhance.build_s": mean_span("enhance.enhance"),
        "enhance.write_s": mean_span("enhance.write_enhanced"),
        "enhance.catchup_write_s": mean_span("enhance.write_enhanced", "A"),
        "enhance.files_written": sum(
            1 for _, _, fs in os.walk(zone_dir) for f in fs if f.endswith(".parquet")),
    }
    for q, t in serve_timings.items():
        layer[f"{q}.build_s"] = t["build_s"]
        layer[f"{q}.exec_s"] = t["exec_s"]
    layer["catalyst.plan_s"] = sum(t["plan_s"] for t in serve_timings.values())
    n = len(serve_timings)
    layer["dashboard.jobs_per_query"] = sum(t["jobs"] for t in serve_timings.values()) / n
    layer["dashboard.task_s_per_query"] = sum(t["task_ms"] for t in serve_timings.values()) / n / 1000
    return layer
