"""Physical-plan snapshot regression gate for the bench queries.

A lost broadcast, a new shuffle, or an unpushed filter changes the
canonical plan skeleton and fails here BEFORE it costs bench time.
After an INTENTIONAL plan change, review the diff this test prints and
regenerate with `python tools/plans.py [NAME...]`.
"""

from __future__ import annotations

import difflib
import os

import pytest

from bike_data_flow_spark.queries import load_all
from tools.plans import SF_DIR, SNAP_DIR, canonical, capture

_REGISTRY = load_all()
_BENCH = [q for q in _REGISTRY.values() if q.bench]


@pytest.mark.parametrize("q", _BENCH, ids=lambda q: q.name)
def test_bench_plan_matches_snapshot(spark, q):
    snap_path = f"{SNAP_DIR}/{q.name}.txt"
    assert os.path.exists(snap_path), (
        f"no plan snapshot for bench query {q.name} — run "
        "`python tools/plans.py` and commit tests/plan_snapshots/"
    )
    with open(snap_path, encoding="utf-8") as fh:
        want = fh.read()
    got = capture(spark, q, SF_DIR)
    if got != want:
        # One re-capture before failing: curation_v2's initial plan
        # has the Exchange of spread_for_map's repartition over its
        # cached survivors frame in most captures and not in others —
        # a REAL plan regression reproduces identically on a fresh
        # capture, this one-shot wobble does not.
        spark.sparkContext._jvm.System.gc()
        got = capture(spark, q, SF_DIR)
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(
                want.splitlines(), got.splitlines(),
                "snapshot", "current", lineterm="",
            )
        )
        pytest.fail(
            f"physical plan of {q.name} changed:\n{diff}\n\n"
            "If intentional: python tools/plans.py "
            f"{q.name} && git add tests/plan_snapshots/"
        )


# A formatted explain of a query over a materialized cached relation:
# the relation's AQE plan prints its Final and Initial plans, and its
# final plan embeds another AQE plan whose headers sit at the SAME
# column as the outer ones (as in curation_v2's real explain).
_RAW_EXPLAIN = """\
== Physical Plan ==
AdaptiveSparkPlan (24)
+- Project (23)
   +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
         +- InMemoryRelation (2)
               +- AdaptiveSparkPlan (22)
                  +- == Final Plan ==
                     ResultQueryStage (14)
                     +- * BroadcastHashJoin Inner BuildRight (13)
                        :- * Filter (8)
                        :  +- TableCacheQueryStage (7), Statistics(sizeInBytes=39.1 KiB, rowCount=2.00E+3)
                        :     +- InMemoryTableScan (3) (columnarIn=false, columnarOut=true)
                        :           +- InMemoryRelation (4)
                        :                 +- AdaptiveSparkPlan (6)
                  +- == Final Plan ==
                     ResultQueryStage (5)
                     +- ShuffleQueryStage (9), Statistics(sizeInBytes=163.0 KiB, rowCount=500)
                        +- Exchange (10)
                           +- * ColumnarToRow (11)
                              +- Scan parquet  (12)
                  +- == Initial Plan ==
                     Exchange (10)
                     +- Scan parquet  (12)
                        +- BroadcastQueryStage (16), Statistics(sizeInBytes=32.1 MiB, rowCount=2.00E+3)
                           +- BroadcastExchange (15)
                              +- * Filter (17)
                                 +- TableCacheQueryStage (18), Statistics(sizeInBytes=39.1 KiB, rowCount=2.00E+3)
                  +- == Initial Plan ==
                     BroadcastHashJoin Inner BuildLeft (21)
                     :- Filter (19)
                     :  +- InMemoryTableScan (3) (columnarIn=false, columnarOut=true)
                     :        +- InMemoryRelation (4)
                     :              +- AdaptiveSparkPlan (6)
                        +- == Final Plan ==
                           ResultQueryStage (5)
                           +- ShuffleQueryStage (9), Statistics(sizeInBytes=163.0 KiB, rowCount=500)
                              +- Exchange (10)
                                 +- * ColumnarToRow (11)
                                    +- Scan parquet  (12)
                        +- == Initial Plan ==
                           Exchange (10)
                           +- Scan parquet  (12)
                     +- BroadcastExchange (20)
                        +- Filter (17)
                           +- InMemoryTableScan (3) (columnarIn=false, columnarOut=true)

(1) InMemoryTableScan
Output [2]: [doc_id#0L, band_key#56L]
Arguments: [doc_id#0L, band_key#56L]

(10) Exchange
Input [2]: [doc_id#0L, text#1]
Arguments: hashpartitioning(doc_id#0L, 4), REPARTITION_BY_NUM, [plan_id=195]

(12) Scan parquet
Output [2]: [doc_id#0L, text#1]
Batched: true
Location: InMemoryFileIndex [file:/data/sf0.01/documents.parquet]
PushedFilters: [IsNotNull(doc_id)]
ReadSchema: struct<doc_id:bigint,text:string>

(15) BroadcastExchange
Input [2]: [doc_id#0L, band_key#56L]
Arguments: HashedRelationBroadcastMode(List(input[1, bigint, false]),false), [plan_id=291]
"""


def test_canonical_pins_every_aqe_plan_at_its_initial_plan():
    """Each Final Plan subtree is dropped up to its own Initial Plan
    header (headers matched by nesting depth, not by column); operator
    numbers and runtime statistics go, and of the detail section only
    the PushedFilters and ReadSchema lines stay."""
    assert canonical(_RAW_EXPLAIN) == """\
AdaptiveSparkPlan
+- Project
   +- InMemoryTableScan  (columnarIn=false, columnarOut=true)
         +- InMemoryRelation
               +- AdaptiveSparkPlan
                  +- == Initial Plan ==
                     BroadcastHashJoin Inner BuildLeft
                     :- Filter
                     :  +- InMemoryTableScan  (columnarIn=false, columnarOut=true)
                     :        +- InMemoryRelation
                     :              +- AdaptiveSparkPlan
                        +- == Initial Plan ==
                           Exchange
                           +- Scan parquet
                     +- BroadcastExchange
                        +- Filter
                           +- InMemoryTableScan  (columnarIn=false, columnarOut=true)
PushedFilters: [IsNotNull(doc_id)]
ReadSchema: struct<doc_id:bigint,text:string>
"""
