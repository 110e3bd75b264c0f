"""bench.py's measurement core and per-query JVM counters (GC deltas,
post-reset peak heap, jobs, stages, task ms, spill) must read real,
exact values through the Py4J APIs — the attribution story in
BENCH_COMPARE.md depends on these not silently returning sentinels or
drifting in a long session."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import re
import subprocess
import sys
import textwrap

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import (  # noqa: E402
    _gc_totals,
    _peak_heap_mb,
    _reset_heap_peaks,
    measure,
    measure_rep,
)


def test_gc_totals_monotone_nonnegative(spark):
    ms0, n0 = _gc_totals(spark)
    assert ms0 >= 0 and n0 >= 0
    spark.sparkContext._jvm.System.gc()
    ms1, n1 = _gc_totals(spark)
    assert ms1 >= ms0 and n1 >= n0
    # an explicit System.gc() must register as at least one collection
    assert n1 > n0


def test_peak_heap_resets_and_reads(spark):
    _reset_heap_peaks(spark)
    # allocate something JVM-side so the peak is demonstrably live
    spark.range(2_000_00).selectExpr("sum(id)").collect()
    peak = _peak_heap_mb(spark)
    assert peak > 0.0
    _reset_heap_peaks(spark)
    # post-reset the peak re-anchors to current usage: still positive
    # (the heap is never empty), and the reset visibly took effect
    # because another reset+read stays self-consistent
    assert _peak_heap_mb(spark) > 0.0


def test_contract_line_fits_driver_capture_window():
    """The driver keeps only the LAST 2000 bytes of bench stdout; the
    final JSON line must fit with headroom or the round's official perf
    number silently becomes parsed:null (the r8/r9 regression). Budget
    the line at worst-case timing widths for the CURRENT bench set so
    adding queries past the window fails loudly here first."""
    import json

    from bike_data_flow_spark.queries import load_all

    names = [q.name for q in load_all().values() if q.bench]
    assert names, "bench set is empty"
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 99999.999,
            "unit": "sec",
            "value_engine": 99999.999,
            "value_materializing": 99999.999,
            "queries": {n: 99999.999 for n in names},
            "sf": 0.1,
        }
    )
    assert len(line.encode()) < 1900, (
        f"bench contract line is {len(line.encode())} bytes for "
        f"{len(names)} queries — trim the bench set or shorten names "
        "(driver capture window = 2000 bytes)"
    )


def test_spill_reader_returns_real_total(spark):
    # the AppStatusStore path must resolve (not the -1 sentinels): a
    # moved internal API would silently break attribution
    m = measure(lambda: spark.range(10).selectExpr("sum(id)"), 1, "spill")
    for rep in (m["warm"], *m["reps"]):
        assert rep["spill_mb"] >= 0.0 and rep["task_ms"] >= 0
    assert m["spill_mb"] >= 0.0


def test_rep_reports_known_job_and_stage_counts(spark):
    sc = spark.sparkContext

    def three_rdd_actions():
        for _ in range(3):  # an RDD count is exactly one single-stage job
            sc.parallelize(range(8), 2).count()

    rep = measure_rep(three_rdd_actions, "three jobs")
    assert (rep["jobs"], rep["stages"]) == (3, 3)
    assert rep["wall"] > 0.0
    # a returned DataFrame is materialized (one scan-only noop write)
    rep = measure_rep(lambda: spark.range(10), "noop write")
    assert (rep["jobs"], rep["stages"]) == (1, 1)


_LONG_SESSION = textwrap.dedent(
    """
    import json
    from pyspark.sql import SparkSession, functions as F
    from bench import measure

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "10")
        .config("spark.ui.retainedStages", "10")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    jsc = spark.sparkContext._jsc.sc()
    dag, store = jsc.dagScheduler(), jsc.statusStore()
    for _ in range(30):  # 30 jobs, 60 stages: far past both limits
        spark.range(10).count()
    starts = []

    def probe():
        starts.append(dag.nextStageId())
        return spark.range(0, 4000, 1, 4).groupBy(F.col("id") % 3).count()

    m = measure(probe, 3, "probe")
    defaults = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]

    def run_ms(stage_id):
        seq = store.stageData(stage_id, *defaults)
        return sum(seq.apply(i).executorRunTime() for i in range(seq.size()))

    truth = [
        sum(run_ms(s) for s in range(s0, s0 + rep["stages"]))
        for s0, rep in zip(starts[1:], m["reps"])
    ]
    print(json.dumps({"reps": m["reps"], "truth": truth}))
    spark.stop()
    """
)


def test_rep_counters_exact_past_status_store_retention():
    """The status store keeps only the newest retainedJobs/retainedStages
    entries; counting or summing over it drifts to 0 or negative once a
    session passes that limit. Each rep must still read its own exact
    jobs, stages and task ms (checked per stage id against the store)."""
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", _LONG_SESSION],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    for rep, truth in zip(got["reps"], got["truth"], strict=True):
        # one noop write of scan -> partial agg -> exchange -> final agg
        assert (rep["jobs"], rep["stages"]) == (1, 2), got
        assert rep["task_ms"] == truth > 0, got


def test_measurement_loops_only_in_the_core():
    """Timing tools measure through bench.measure / measure_rep only:
    no noop materialize, status-store counter reader or forced GC may
    appear in bench.py or tools/*.py outside the core functions."""
    banned = re.compile(r'format\("noop"\)|statusStore\(|System\.gc\(\)')
    core = {"_stage_totals", "measure_rep", "measure", "release"}
    bench = ROOT / "bench.py"
    allowed = {
        n
        for f in ast.parse(bench.read_text()).body
        if isinstance(f, ast.FunctionDef) and f.name in core
        for n in range(f.lineno, f.end_lineno + 1)
    }
    hits = [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in [bench, *sorted((ROOT / "tools").glob("*.py"))]
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line) and not (path == bench and n in allowed)
    ]
    assert hits == []


def test_host_state_fields_present_and_sane():
    """The host-noise attribution snapshot (VERDICT r10 #3) must read
    real values on this platform — buff/cache fill, load average, and
    a timed disk-read probe — so a 'flat counters, inflated wall'
    anomaly is attributable from BENCH_COUNTERS.json alone."""
    from bench import _host_state

    state = _host_state("/root/testdata/sf0.001")
    assert state["buff_cache_gb"] >= 0.0
    assert state["mem_available_gb"] > 0.0
    assert state["loadavg_1m"] >= 0.0
    assert 0.0 < state["read_probe_mb"] <= 64.0
    assert state["read_probe_mb_s"] > 0.0


def test_host_state_survives_bad_dir():
    """Diagnostics never break the contract: a missing sf dir just
    drops the probe fields (bench keeps timing and printing)."""
    from bench import _host_state

    state = _host_state("/nonexistent/sf_dir")
    assert "read_probe_mb" not in state
    assert "loadavg_1m" in state  # the host fields are independent


def test_materializing_split_is_consistent_with_compare_exclusions():
    """bench.py's value_materializing subtotal and BENCH_COMPARE.md's
    'reported separately' table must be defined by the SAME classifier
    (queries.is_materializing) — a drift would let an I/O-bound query
    leak into one report's engine total but not the other's."""
    from bike_data_flow_spark.queries import is_materializing, load_all

    reg = load_all()
    flagged = {n for n in reg if is_materializing(n)}
    # every snapshot-writer and every streaming-boot query is flagged
    assert "incremental_dedup_pairs" in flagged
    assert "foreachbatch_incremental_dedup" in flagged
    assert "streamed_windowed_counts" in flagged
    assert "snapshot_table_roundtrip" in flagged
    # batch compute paths are not
    assert "curation_v2" not in flagged
    assert "pricing_summary" not in flagged
    assert "minhash_lsh_pairs" not in flagged
