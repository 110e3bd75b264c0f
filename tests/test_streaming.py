"""Streaming pipeline (ST1-ST5) + ingestion gate contracts."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from bike_data_flow_spark.operators.enhance import ENHANCED_COLUMNS, enhance_all, read_enhanced
from bike_data_flow_spark.operators.parse import read_raw_partition
from bike_data_flow_spark.streaming import pipeline
from bike_data_flow_spark.streaming.ingest import (
    LandingZone,
    fetch_with_retry,
    poll_forever,
    sha256_text,
)
from bike_data_flow_spark.streaming.pipeline import start_pipeline

from tests.conftest import GOOD_ROWS, HEADER, write_raw_file


def _run_stream(spark, landing, out, ckpt):
    q = start_pipeline(
        spark,
        str(landing),
        str(out),
        str(ckpt),
        available_now=True,
    )
    q.awaitTermination(120)


def test_stream_builds_enhanced_partitions(spark, landing, tmp_path):
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    df = read_enhanced(spark, str(out))
    dts = {r["dt"] for r in df.select("dt").distinct().collect()}
    assert dts == {"2025-05-01", "2025-05-02"}
    assert df.count() == 7  # 5 rows day1 (3+2 after drops) + 2 rows day2


def test_late_file_rebuilds_only_its_day(spark, landing, tmp_path):
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    before_day2 = (
        read_enhanced(spark, str(out)).filter(F.col("dt") == "2025-05-02").count()
    )
    # late file arrives for day 1 (ST4)
    write_raw_file(landing, "2025-05-01", "2025-05-01_23-59-00", GOOD_ROWS[:1])
    _run_stream(spark, landing, out, ckpt)
    df = read_enhanced(spark, str(out))
    day1 = df.filter(F.col("dt") == "2025-05-01")
    assert day1.count() == 6  # 5 + 1 late row, landed in its own day
    assert day1.select("s3_source_key").distinct().count() == 3
    assert df.filter(F.col("dt") == "2025-05-02").count() == before_day2


def test_checkpoint_prevents_reprocessing(spark, landing, tmp_path):
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    first = read_enhanced(spark, str(out)).count()
    _run_stream(spark, landing, out, ckpt)  # no new files → no rebuild
    assert read_enhanced(spark, str(out)).count() == first


def test_in_flight_tmp_file_never_enters_a_batch(spark, landing, tmp_path):
    # LandingZone.land writes `<name>.tmp` beside the day's files and
    # renames it; a listing that lands in between must not admit it.
    (landing / "dt=2025-05-01" / "wrm_stations_2025-05-01_11-00-00.tmp").write_text(
        "\n".join([HEADER, "tmp1" + GOOD_ROWS[0][3:]]) + "\n"
    )
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    df = read_enhanced(spark, str(out))
    assert df.count() == 7
    assert df.filter(F.col("station_id") == "tmp1").count() == 0
    source_log = "".join(
        p.read_text() for p in (ckpt / "sources" / "0").iterdir() if p.name[0] != "."
    )
    assert source_log.count(".txt") == 3
    assert ".tmp" not in source_log


# --- exactly-once per batch id -----------------------------------------------

_ROW_COLUMNS = [c for c in ENHANCED_COLUMNS if c != "processed_at"]


def _assert_zone_equals_backfill(spark, landing, out):
    """The zone holds exactly the rows of a one-shot backfill of the
    landing zone, duplicates included (exceptAll keeps multiplicity)."""
    zone = read_enhanced(spark, str(out)).select(*_ROW_COLUMNS)
    backfill = enhance_all(read_raw_partition(spark, str(landing))).select(*_ROW_COLUMNS)
    assert zone.exceptAll(backfill).count() == 0
    assert backfill.exceptAll(zone).count() == 0


def _wrap_batches(monkeypatch, around):
    """Run every micro-batch as ``around(process, batch_df, batch_id)``."""
    original = pipeline.day_rebuild_batch

    def factory(*args):
        process = original(*args)
        return lambda batch_df, batch_id: around(process, batch_df, batch_id)

    monkeypatch.setattr(pipeline, "day_rebuild_batch", factory)


def _run_stream_into_crash(spark, landing, out, ckpt, message):
    q = start_pipeline(spark, str(landing), str(out), str(ckpt), available_now=True)
    with pytest.raises(Exception, match=message):
        q.awaitTermination(120)


def _published(out, batch_id):
    return sorted(p.relative_to(out) for p in out.glob(f"dt=*/b{batch_id}-*"))


def test_replay_after_crash_before_commit_log_lands_each_row_once(
    spark, landing, tmp_path, monkeypatch
):
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"

    def crash_after_publish(process, batch_df, batch_id):
        process(batch_df, batch_id)
        raise RuntimeError("crash after publish")

    _wrap_batches(monkeypatch, crash_after_publish)
    _run_stream_into_crash(spark, landing, out, ckpt, "crash after publish")
    assert read_enhanced(spark, str(out)).count() == 7  # batch 0 published
    assert not (ckpt / "commits" / "0").exists()  # ... but not committed
    monkeypatch.undo()
    _run_stream(spark, landing, out, ckpt)  # the restart replays batch 0
    assert (ckpt / "commits" / "0").exists()
    assert len(_published(out, 0)) == 2  # one file per day
    _assert_zone_equals_backfill(spark, landing, out)


def test_replay_after_crash_midway_through_renames_leaves_one_copy(
    spark, landing, tmp_path, monkeypatch
):
    # batch 0 spans both days: two staged files to rename into place
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    rename = os.replace

    def rename_once_then_crash(src, dst):
        if _published(out, 0):
            raise OSError("crash midway through the renames")
        rename(src, dst)

    monkeypatch.setattr(os, "replace", rename_once_then_crash)
    _run_stream_into_crash(spark, landing, out, ckpt, "crash midway through the renames")
    assert len(_published(out, 0)) == 1
    assert list((out / "_b0").glob("dt=*/part-*"))  # the other file is still staged
    assert 0 < read_enhanced(spark, str(out)).count() < 7  # staging stays unread
    monkeypatch.undo()
    _run_stream(spark, landing, out, ckpt)
    assert not (out / "_b0").exists()
    assert len(_published(out, 0)) == 2
    _assert_zone_equals_backfill(spark, landing, out)


def test_stream_over_two_days_and_a_late_file_equals_backfill(spark, landing, tmp_path):
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    write_raw_file(landing, "2025-05-01", "2025-05-01_23-59-00", GOOD_ROWS[:1])
    _run_stream(spark, landing, out, ckpt)
    assert [f.parent.name for f in _published(out, 1)] == ["dt=2025-05-01"]
    _assert_zone_equals_backfill(spark, landing, out)


def test_live_micro_batch_starts_at_most_two_jobs(spark, landing, tmp_path, monkeypatch):
    # the batch's own parse + one write (its shuffle and result jobs);
    # no listing, no re-read of the day
    out, ckpt = tmp_path / "enhanced", tmp_path / "ckpt"
    _run_stream(spark, landing, out, ckpt)
    write_raw_file(landing, "2025-05-01", "2025-05-01_11-00-00", GOOD_ROWS)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}

    def count_jobs(process, batch_df, batch_id):
        before = sched.nextJobId()
        process(batch_df, batch_id)
        jobs[batch_id] = sched.nextJobId() - before

    _wrap_batches(monkeypatch, count_jobs)
    _run_stream(spark, landing, out, ckpt)
    assert list(jobs) == [1]
    assert jobs[1] <= 2
    assert read_enhanced(spark, str(out)).count() == 10


# --- ingestion gate ---------------------------------------------------------


def test_landing_dedup_gate(tmp_path):
    lz = LandingZone(tmp_path / "raw")
    payload = HEADER + "\n" + "\n".join(GOOD_ROWS)
    t0 = datetime(2025, 5, 1, 10, 0, 0, tzinfo=timezone.utc)
    p1 = lz.land(payload, now=t0)
    assert p1 is not None and p1.name == "wrm_stations_2025-05-01_10-00-00.txt"
    # identical payload → skipped (raw_all.py:121-136)
    assert lz.land(payload, now=datetime(2025, 5, 1, 10, 0, 30, tzinfo=timezone.utc)) is None
    # changed payload → landed
    p3 = lz.land(payload + "\nx", now=datetime(2025, 5, 1, 10, 1, 0, tzinfo=timezone.utc))
    assert p3 is not None


def test_landing_same_second_no_overwrite(tmp_path):
    # two distinct payloads in the same second must land as two files
    lz = LandingZone(tmp_path / "raw")
    t = datetime(2025, 5, 1, 10, 0, 0, tzinfo=timezone.utc)
    p1 = lz.land("payload-a", now=t)
    p2 = lz.land("payload-b", now=t)
    assert p1 is not None and p2 is not None and p1 != p2
    assert p1.read_text() == "payload-a" and p2.read_text() == "payload-b"


def test_landing_gate_recovers_after_restart(tmp_path):
    payload = "snapshot-a"
    t0 = datetime(2025, 5, 1, 12, 0, 0, tzinfo=timezone.utc)
    LandingZone(tmp_path / "raw").land(payload, now=t0)
    fresh = LandingZone(tmp_path / "raw")  # new process
    assert fresh.land(payload, now=datetime(2025, 5, 1, 12, 0, 30, tzinfo=timezone.utc)) is None
    assert fresh.last_hash() == sha256_text(payload)


def test_fetch_retry_then_success():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return "ok"

    slept = []
    assert fetch_with_retry(flaky, sleep=slept.append) == "ok"
    assert calls["n"] == 3 and slept == [0.5, 1.0]


def test_poll_forever_keeps_going_on_failure(tmp_path):
    seq = iter([ConnectionError("x"), "a", "a", "b"])

    def fetch():
        v = next(seq)
        if isinstance(v, Exception):
            raise v
        return v

    lz = LandingZone(tmp_path / "raw")
    # poll 1: error (after 3 retry attempts the poller skips); 2: lands a;
    # 3: dup-skipped; 4: lands b
    landed = poll_forever(fetch, lz, interval_s=0, max_polls=3, sleep=lambda *_: None)
    assert landed >= 1
