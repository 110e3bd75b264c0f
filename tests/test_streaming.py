"""Streaming pipeline (ST1-ST5) + ingestion gate contracts."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from bike_data_flow_spark.operators.enhance import read_enhanced
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
    assert day1.count() == 6  # whole day rebuilt: 5 + 1 late row
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
