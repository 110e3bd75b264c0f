"""Parser contracts pinned by the reference's test_processed.py
(row drops, typing, composite split, filename-timestamp lineage)."""

from __future__ import annotations

import ast
import pathlib
import re
from datetime import datetime

from pyspark.sql import functions as F

from bike_data_flow_spark.operators.parse import read_raw_partition
from bike_data_flow_spark.schemas import PROCESSED_SCHEMA

from tests.conftest import BAD_NUMERIC, GOOD_ROWS, HEADER, write_raw_file


def test_good_rows_parse_with_types(spark, landing):
    df = read_raw_partition(spark, str(landing), "2025-05-01")
    assert df.columns == [f.name for f in PROCESSED_SCHEMA.fields]
    rows = {r["station_id"]: r for r in df.collect()}
    s1 = rows["001"]
    assert s1["name"] == "Station 1"
    assert s1["lat"] == 51.1089 and s1["lon"] == 17.0377
    assert s1["bikes"] == 5 and s1["total_docks"] == 15
    assert s1["installed"] is True and s1["locked"] is False
    assert s1["gmt_local_diff_sec"] == 3600
    assert s1["gmt_servertime_diff_sec"] == -3600
    # epoch 1705147845.123 → fractional seconds preserved (µs)
    assert s1["timestamp"] == datetime(2024, 1, 13, 12, 10, 45, 123000)


def test_malformed_rows_dropped_not_failed(spark, landing):
    # file 2 of dt=2025-05-01 has 1 good + composite-bad + short + empty-flag
    df = read_raw_partition(spark, str(landing), "2025-05-01")
    per_file = (
        df.groupBy("s3_source_key").count().orderBy("s3_source_key").collect()
    )
    counts = [r["count"] for r in per_file]
    assert counts == [3, 2]  # 3 good; (1 good + empty-flag row), 2 dropped


def test_empty_pedelec_flag_maps_false(spark, landing):
    df = read_raw_partition(spark, str(landing), "2025-05-01")
    r = df.filter(F.col("station_id") == "006").collect()[0]
    assert r["givesbonus_acceptspedelecs_fbbattlevel"] is False
    assert r["installed"] is True  # 'True' mixed case accepted


def test_bad_numeric_row_dropped(spark, tmp_path):
    root = tmp_path / "raw"
    write_raw_file(root, "2025-06-01", "2025-06-01_08-00-00", GOOD_ROWS + [BAD_NUMERIC])
    df = read_raw_partition(spark, str(root), "2025-06-01")
    assert df.count() == 3
    assert "005" not in {r["station_id"] for r in df.collect()}


def test_filename_timestamp_extraction(spark, landing):
    df = read_raw_partition(spark, str(landing), "2025-05-02")
    fts = {r["file_timestamp"] for r in df.collect()}
    assert fts == {datetime(2025, 5, 2, 9, 0, 0)}


def test_mtime_fallback_when_filename_unparseable(spark, tmp_path):
    root = tmp_path / "raw"
    d = root / "dt=2025-06-02"
    d.mkdir(parents=True)
    p = d / "oddly_named.txt"
    from tests.conftest import HEADER

    p.write_text("\n".join([HEADER] + GOOD_ROWS) + "\n")
    df = read_raw_partition(spark, str(root), "2025-06-02")
    fts = [r["file_timestamp"] for r in df.collect()]
    assert all(ft is not None for ft in fts)  # fell back to mtime


def test_missing_partition_raises_filenotfound(spark, landing):
    import pytest

    from bike_data_flow_spark.operators.parse import process_partition

    with pytest.raises(FileNotFoundError):
        process_partition(spark, str(landing), "1999-01-01")


def test_all_corrupt_partition_raises_valueerror(spark, tmp_path):
    import pytest

    from bike_data_flow_spark.operators.parse import process_partition
    from tests.conftest import MALFORMED_COMPOSITE, SHORT_ROW

    root = tmp_path / "raw"
    write_raw_file(root, "2025-07-01", "2025-07-01_08-00-00", [MALFORMED_COMPOSITE, SHORT_ROW])
    with pytest.raises(ValueError, match="No valid data found"):
        process_partition(spark, str(root), "2025-07-01")


def test_header_only_file_contributes_nothing(spark, tmp_path):
    import pytest

    from bike_data_flow_spark.operators.parse import process_partition

    root = tmp_path / "raw"
    write_raw_file(root, "2025-07-02", "2025-07-02_08-00-00", [])
    with pytest.raises(ValueError):
        process_partition(spark, str(root), "2025-07-02")
    # but a good file alongside rescues the partition
    write_raw_file(root, "2025-07-02", "2025-07-02_09-00-00", GOOD_ROWS)
    assert process_partition(spark, str(root), "2025-07-02").count() == 3


def test_all_files_of_partition_unioned(spark, landing):
    df = read_raw_partition(spark, str(landing), "2025-05-01")
    assert df.select("s3_source_key").distinct().count() == 2


# --- one driver-listed scan per day -----------------------------------------


def _write_day(root, dt: str, files: int) -> dict[tuple[str, str], datetime]:
    """`files` snapshots of one day, each with its own station id, plus
    an in-flight `.tmp`; returns {(station_id, source key): file ts}."""
    expected = {}
    for i in range(files):
        ts = f"{dt}_10-{i // 60:02d}-{i % 60:02d}"
        sid = f"{dt[-2:]}{i:03d}"
        p = write_raw_file(root, dt, ts, [sid + GOOD_ROWS[0][3:]])
        expected[(sid, f"file:{p}")] = datetime.strptime(ts, "%Y-%m-%d_%H-%M-%S")
    (root / f"dt={dt}" / f"wrm_stations_{dt}_23-59-59.tmp").write_text(
        "\n".join([HEADER, "tmp" + GOOD_ROWS[0][3:]]) + "\n"
    )
    return expected


def _build_jobs_and_rows(spark, root, dt):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    df = read_raw_partition(spark, str(root), dt)
    jobs = sched.nextJobId() - before
    rows = df.select("station_id", "s3_source_key", "file_timestamp").collect()
    return jobs, {(r[0], r[1]): r[2] for r in rows}, len(rows)


def test_day_of_many_files_builds_without_a_listing_job(spark, tmp_path):
    # 40 files is above parallelPartitionDiscovery.threshold (32): a
    # per-file glob would list them in a Spark job while building.
    root = tmp_path / "raw"
    expected = _write_day(root, "2025-08-01", 40)
    jobs, got, n = _build_jobs_and_rows(spark, root, "2025-08-01")
    assert jobs == 0
    assert n == 40 and got == expected


def test_backfill_of_many_files_builds_without_a_listing_job(spark, tmp_path):
    root = tmp_path / "raw"
    expected = _write_day(root, "2025-08-01", 40) | _write_day(root, "2025-08-02", 40)
    jobs, got, n = _build_jobs_and_rows(spark, root, None)
    assert jobs == 0
    assert n == 80 and got == expected


def _reader_path_strings(tree: ast.AST):
    """(line, path text) of every path argument given to a
    `….read…`/`….readStream…` terminal call. A name, as the argument or
    as the reader, is followed to what the same module assigns to it;
    an f-string's fields read as `{}`."""
    assigned: dict[str, list[ast.AST]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    assigned.setdefault(target.id, []).append(node.value)

    def strings(node, seen=()):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                yield sub.value
            elif isinstance(sub, ast.JoinedStr):
                yield "".join(
                    v.value if isinstance(v, ast.Constant) else "{}" for v in sub.values
                )
            elif isinstance(sub, ast.Name) and sub.id not in seen:
                for value in assigned.get(sub.id, []):
                    yield from strings(value, seen + (sub.id,))

    def from_reader(node, seen=()) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr in ("read", "readStream"):
                return True
            node = node.value if isinstance(node, ast.Attribute) else node.func
        return isinstance(node, ast.Name) and node.id not in seen and any(
            from_reader(value, seen + (node.id,)) for value in assigned.get(node.id, [])
        )

    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _PATH_TAKING
            and from_reader(node.func.value)
        ):
            args = node.args + [k.value for k in node.keywords if k.arg == "path"]
            for arg in args:
                for text in strings(arg):
                    yield node.lineno, text


_PATH_TAKING = {"text", "textFile", "parquet", "json", "csv", "orc", "load"}
# last path segment globs file names: `/*.txt`, `/part-*.parquet`, `/*`
_FILE_GLOB = re.compile(r"(?:^|/)[^/]*\*[^/]*\.\w+$|(?:^|/)\*$")


def test_no_reader_globs_files():
    """A file glob hands the file index one root per file (and a
    listing job past 32); a directory plus `pathGlobFilter` is the one
    way the package filters the files a read admits."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"
    hits = [
        f"{path.relative_to(pkg)}:{line}: {text}"
        for path in sorted(pkg.rglob("*.py"))
        for line, text in _reader_path_strings(ast.parse(path.read_text()))
        if _FILE_GLOB.search(text)
    ]
    assert hits == []
