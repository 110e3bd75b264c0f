"""Event-time windowed aggregations + streaming dedup + stateful ops.

The reference has no event-time processing (its daily dt= partitions
are a 1-day processing-time tumbling window, SURVEY ST6); this module
supplies the event-time generalization the engine surface needs:

- tumbling/sliding window aggregation with watermark-bounded state
- streaming duplicate suppression (content hash + watermark — the
  streaming spelling of the ingest SHA-256 gate, ST5)
- arbitrary stateful processing via applyInPandasWithState (running
  per-key counters that survive across micro-batches)

All operators take/return streaming DataFrames so they compose with
streaming/pipeline.py. State size is bounded by the watermark: at
100 TB/day, state per window = |keys| rows, dropped once the watermark
passes window end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "station_id",
    window_duration: str = "10 minutes",
    slide_duration: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if slide_duration given) per-key counts with
    event-time watermark. Late rows beyond the watermark are dropped —
    bounded state, unlike an unwatermarked stream."""
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    hash_cols: list[str],
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST5 in-stream: drop rows whose content hash was already seen within
    the watermark horizon. State = one hash per distinct payload per
    horizon — the streaming equivalent of the ingest gate, but keyed and
    distributed rather than a driver-side latch."""
    hashed = events.withColumn(
        "_content_hash", F.sha2(F.concat_ws("\x1f", *hash_cols), 256)
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicates(["_content_hash"])
        .drop("_content_hash")
    )


RUNNING_STATE_SCHEMA = StructType(
    [StructField("total", LongType()), StructField("max_bikes", LongType())]
)
RUNNING_OUTPUT_SCHEMA = StructType(
    [
        StructField("station_id", StringType()),
        StructField("batch_rows", LongType()),
        StructField("running_total", LongType()),
        StructField("running_max_bikes", LongType()),
        StructField("last_seen", TimestampType()),
    ]
)


def running_station_totals(events: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-station
    running row count + max bikes across micro-batches, with idle-key
    state eviction via processing-time timeout."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (station_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        total, max_bikes = state.get if state.exists else (0, 0)
        rows = 0
        last_seen = None
        for pdf in pdfs:
            rows += len(pdf)
            if len(pdf):
                max_bikes = max(max_bikes, int(pdf["bikes"].max()))
                last = pdf["timestamp"].max()
                last_seen = last if last_seen is None else max(last_seen, last)
        total += rows
        state.update((total, max_bikes))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            [
                {
                    "station_id": station_id,
                    "batch_rows": rows,
                    "running_total": total,
                    "running_max_bikes": max_bikes,
                    "last_seen": last_seen,
                }
            ]
        )

    return events.groupBy("station_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUTPUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "station_id",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows — the stateful half of ST6 (batch twin:
    queries/relational3.session_window_stats). The state store keeps one
    open session per key and MERGES sessions when a new event lands
    within `gap` of an existing one; the watermark finalizes (and in
    append mode, emits) any session whose end = last_event + gap has
    fallen behind event time. State is bounded by |active keys|, not
    history."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def running_key_stats_tws(
    events: DataFrame,
    key_col: str = "station_id",
    value_col: str = "bikes",
) -> DataFrame:
    """Arbitrary stateful processing on the transformWithStateInPandas
    API (Spark 4) — the successor to applyInPandasWithState above, with
    typed composable state handles instead of one opaque tuple. Keeps a
    running (count, max) per key across micro-batches and emits the
    updated row for every key seen in a batch.

    Requires the RocksDB state-store provider (transformWithState's
    backing store) and the `protobuf` Python package (the TWS driver
    worker speaks protobuf to the JVM; absent in this container, so the
    pytest is importorskip-gated — applyInPandasWithState above covers
    the same surface where protobuf is unavailable). State is one
    ValueState row per key — bounded by |keys|, not history, exactly
    like the session/dedup operators.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "cnt long, mx double")

        def handleInputRows(self, key, rows, timerValues):
            cnt, mx = 0, None
            if self._state.exists():
                cnt, mx = self._state.get()
            for pdf in rows:
                cnt += len(pdf)
                batch_max = float(pdf[value_col].max())
                mx = batch_max if mx is None else max(float(mx), batch_max)
            self._state.update((cnt, float(mx)))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [cnt], "max_value": [float(mx)]}
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType=f"{key_col} string, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )


FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("funnel_complete", BooleanType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("ts", ArrayType(LongType())),
        StructField("ids", ArrayType(LongType())),
        StructField("inits", StringType()),
    ]
)


def funnel_snapshots(events: DataFrame, pattern: str = "v.*c.*p") -> DataFrame:
    """Streaming CEP funnel (MATCH_RECOGNIZE shape) with arbitrary
    per-key state: per user, did `pattern` match over the initials of
    the chronologically-ordered event log?

    Input columns: user_id, ts_ns, event_id, i (the event's one-char
    class). Each micro-batch appends the batch's events to the key's
    state log and emits a snapshot (user_id, n_events,
    funnel_complete); n_events is strictly monotone per key across
    emissions, so the final answer for a bounded input is each key's
    max-n_events row. Out-of-order arrival cannot break the match: the
    regex evaluates over the state log re-sorted by (ts, id) at every
    emit, never over arrival order.

    State is |events per key| — the exact-match price the batch
    collect_list spelling also pays; unbounded histories would age out
    events behind a watermark instead.
    """
    import re

    pat = re.compile(pattern)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts, ids, inits = state.get if state.exists else ([], [], "")
        ts, ids = list(ts), list(ids)
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["ts_ns"])
            ids.extend(int(i) for i in pdf["event_id"])
            inits += "".join(pdf["i"])
        state.update((ts, ids, inits))
        order = sorted(range(len(ts)), key=lambda j: (ts[j], ids[j]))
        seq = "".join(inits[j] for j in order)
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": len(ts),
                    "funnel_complete": bool(pat.search(seq)),
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_snapshot_per_key(out: DataFrame, key: str, seq_col: str) -> DataFrame:
    """Reduce an update-mode snapshot log to each key's LAST snapshot:
    the row with the max `seq_col`, which funnel_snapshots guarantees
    is strictly monotone per key (a key is only invoked when its batch
    has rows). Correct under any micro-batch split of the input."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(F.desc(seq_col))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_pos_drift", DoubleType()),
        StructField("max_neg_drift", DoubleType()),
        StructField("n_buffered", LongType()),
    ]
)

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n_final", LongType()),
        StructField("cusum", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("lo", DoubleType()),
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_ids", ArrayType(LongType())),
        StructField("buf_vals", ArrayType(DoubleType())),
    ]
)


def cusum_snapshots(
    events: DataFrame, target: float, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Streaming CUSUM drift monitor with BOUNDED per-key state: per
    user, the running sum of (value − target) folded over the
    chronologically-ordered event log, snapshotting the extremes.

    Input columns: user_id, ts_ns, event_id, value. State per key is a
    watermark-finalized prefix fold (n_final, cusum, hi, lo) plus an
    out-of-order buffer holding only events at-or-newer-than the
    event-time watermark. Each micro-batch appends to the buffer,
    finalizes the buffer prefix strictly older than the watermark into
    the fold (those positions are settled: the watermark guarantees no
    later arrival can sort before them, and ties at the boundary stay
    buffered so same-ts arrivals still interleave by event_id), then
    emits the fold extended over the still-buffered suffix. State is
    O(events inside the watermark horizon) per key — not O(all events)
    — while the emitted snapshot is always the exact full-history fold.

    Out-of-order arrival cannot corrupt the fold: the buffer re-sorts
    by (ts, id) at every emit and the finalized prefix was folded in
    that same order, so the sequential IEEE addition happens in exactly
    the oracle's window order — bit-identical doubles, no fold-order
    drift (the gate-parity contract the batch `user_cusum_extremes`
    also relies on; this is that one-pass fold, split at the
    watermark). n_events is strictly monotone per key, so the final
    answer for a bounded input is each key's max-n_events snapshot.
    n_buffered exposes the buffer size for monitoring (and the
    state-bound test).

    `watermark_delay` is the disorder bound: events arriving more than
    this much event-time behind the stream maximum are dropped by the
    engine (standard watermark semantics). Size it to the source's
    real out-of-orderness.
    """

    def fold(s, hi, lo, deltas):
        for v in deltas:
            s += v - target
            hi = s if hi is None or s > hi else hi
            lo = s if lo is None or s < lo else lo
        return s, hi, lo

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_final, s_fin, hi_fin, lo_fin, bts, bids, bvals = state.get
            bts, bids, bvals = list(bts), list(bids), list(bvals)
            if n_final == 0:
                hi_fin = lo_fin = None
        else:
            n_final, s_fin, hi_fin, lo_fin = 0, 0.0, None, None
            bts, bids, bvals = [], [], []
        for pdf in pdfs:
            bts.extend(int(t) for t in pdf["ts_ns"])
            bids.extend(int(i) for i in pdf["event_id"])
            bvals.extend(float(v) for v in pdf["value"])
        order = sorted(range(len(bts)), key=lambda j: (bts[j], bids[j]))
        frontier_ns = state.getCurrentWatermarkMs() * 1_000_000
        k = 0
        while k < len(order) and bts[order[k]] < frontier_ns:
            k += 1
        s_fin, hi_fin, lo_fin = fold(
            s_fin, hi_fin, lo_fin, (bvals[j] for j in order[:k])
        )
        n_final += k
        keep = order[k:]
        bts = [bts[j] for j in keep]
        bids = [bids[j] for j in keep]
        bvals = [bvals[j] for j in keep]
        state.update((n_final, s_fin, hi_fin or 0.0, lo_fin or 0.0, bts, bids, bvals))
        s, hi, lo = fold(s_fin, hi_fin, lo_fin, bvals)
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n_final + len(bts),
                    "max_pos_drift": hi,
                    "max_neg_drift": lo,
                    "n_buffered": len(bts),
                }
            ]
        )

    with_evt = events.withColumn(
        "_evt", F.timestamp_micros(F.expr("ts_ns div 1000"))
    ).withWatermark("_evt", watermark_delay)
    return with_evt.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
