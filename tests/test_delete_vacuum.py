"""snapshot_delete (predicate DELETE) and snapshot_vacuum (orphaned
data-dir GC) — operators/snapshots.py."""

from __future__ import annotations

import os

import pytest

from bike_data_flow_spark.operators import snapshots as SN


def _t(tmp_path, name="tbl"):
    return os.path.join(str(tmp_path), name)


def test_delete_removes_matches_and_time_travel_retains(spark, tmp_path):
    t = _t(tmp_path)
    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, 7), (4, None)], "k long, v long"
    )
    SN.snapshot_write(df, t, mode="overwrite")
    v = SN.snapshot_delete(spark, t, "v < 0")
    assert v == 2
    kept = {r["k"] for r in SN.snapshot_read(spark, t).collect()}
    # NULL predicate keeps the row (SQL DELETE semantics)
    assert kept == {1, 3, 4}
    # the pre-delete version is still pinnable until expiry
    old = {r["k"] for r in SN.snapshot_read(spark, t, version=1).collect()}
    assert old == {1, 2, 3, 4}


def test_delete_preserves_layout_meta_and_skips_constraints(spark, tmp_path):
    t = _t(tmp_path)
    df = spark.createDataFrame(
        [(1, -99, "a"), (2, 5, "a"), (3, 6, "b")], "k long, v long, p string"
    )
    SN.snapshot_write(
        df, t, mode="overwrite", meta={"dial": 42}, partition_by=["p"]
    )
    # retroactive constraint the surviving historic rows violate:
    # erasure must STILL succeed (deletes only remove rows)
    SN.set_check_constraints(t, {"v_nonneg": "v >= 0"})
    v = SN.snapshot_delete(spark, t, "k = 2")
    assert SN.latest_meta(t) == {"dial": 42}
    assert SN._read_manifest(t, v)["partition_by"] == ["p"]
    assert {r["k"] for r in SN.snapshot_read(spark, t).collect()} == {1, 3}
    # marker recorded as a maintenance sibling, not as compaction
    assert not SN.is_compaction(t, v)
    # partitioned append with the same layout still accepted after
    with pytest.raises(SN.ConstraintViolation):
        SN.snapshot_write(
            spark.createDataFrame([(9, -1, "c")], "k long, v long, p string"),
            t,
            mode="append",
            partition_by=["p"],
        )


def test_delete_on_missing_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no snapshot table"):
        SN.snapshot_delete(spark, _t(tmp_path, "nope"), "1 = 1")


def test_vacuum_removes_only_unreachable_old_dirs(spark, tmp_path):
    t = _t(tmp_path)
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    SN.snapshot_write(df, t, mode="overwrite")
    SN.snapshot_write(df, t, mode="append")

    # simulate a crashed/CAS-losing attempt: a data dir no manifest
    # references
    orphan = os.path.join(t, "data", "v9-deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()

    # inside the retention window: protected (could be in-flight)
    assert SN.snapshot_vacuum(t, older_than_seconds=3600) == []
    assert os.path.isdir(orphan)

    # outside the window: collected; live dirs untouched, reads intact
    removed = SN.snapshot_vacuum(t, older_than_seconds=0)
    assert removed == ["data/v9-deadbeef"]
    assert not os.path.isdir(orphan)
    assert SN.snapshot_read(spark, t).count() == 2
    assert SN.snapshot_read(spark, t, version=1).count() == 1


def test_vacuum_after_expire_is_a_noop_and_tolerates_empty(tmp_path, spark):
    t = _t(tmp_path)
    assert SN.snapshot_vacuum(t) == []  # no table yet
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    for _ in range(3):
        SN.snapshot_write(df, t, mode="overwrite")
    SN.expire_snapshots(t, keep_last=1)
    # expire already deleted the dirs its expired manifests referenced
    assert SN.snapshot_vacuum(t, older_than_seconds=0) == []
    assert SN.snapshot_read(spark, t).count() == 1


def test_delete_surfaces_in_cdf(spark, tmp_path):
    t = _t(tmp_path)
    df = spark.createDataFrame([(1, 10), (2, -5)], "k long, v long")
    SN.snapshot_write(df, t, mode="overwrite")
    SN.snapshot_delete(spark, t, "v < 0")
    changes = SN.snapshot_changes(spark, t, from_version=1).collect()
    assert [(r["k"], r["_change_type"]) for r in changes] == [(2, "delete")]


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    from bike_data_flow_spark.operators.snapshots import snapshot_restore

    t = _t(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    SN.snapshot_write(v1, t, mode="overwrite", meta={"dial": 7})
    SN.snapshot_write(
        spark.createDataFrame([(3, "junk")], "k long, v string"),
        t,
        mode="append",
    )
    n_dirs_before = len(os.listdir(os.path.join(t, "data")))
    v = snapshot_restore(t, 1)
    assert v == 3
    # no data write happened — dir count unchanged
    assert len(os.listdir(os.path.join(t, "data"))) == n_dirs_before
    assert {r["k"] for r in SN.snapshot_read(spark, t).collect()} == {1, 2}
    assert SN.latest_meta(t) == {"dial": 7}
    # the rolled-back version remains pinnable history
    assert SN.snapshot_read(spark, t, version=2).count() == 3
    # CDF over the restore shows the junk row leaving
    changes = SN.snapshot_changes(spark, t, from_version=2).collect()
    assert [(r["k"], r["_change_type"]) for r in changes] == [(3, "delete")]


def test_restore_survives_expiry_of_the_bad_version(spark, tmp_path):
    """expire keeps data dirs alive while ANY retained manifest
    references them — restoring then expiring the mistake must not
    delete the restored version's data."""
    from bike_data_flow_spark.operators.snapshots import snapshot_restore

    t = _t(tmp_path)
    SN.snapshot_write(
        spark.createDataFrame([(1, "a")], "k long, v string"),
        t,
        mode="overwrite",
    )
    SN.snapshot_write(
        spark.createDataFrame([(2, "junk")], "k long, v string"),
        t,
        mode="overwrite",
    )
    snapshot_restore(t, 1)
    SN.expire_snapshots(t, keep_last=1)  # drops v1 and v2 manifests
    assert {r["k"] for r in SN.snapshot_read(spark, t).collect()} == {1}


def test_restore_refuses_expired_or_missing_target(spark, tmp_path):
    from bike_data_flow_spark.operators.snapshots import snapshot_restore

    t = _t(tmp_path)
    with pytest.raises(ValueError, match="no snapshot table"):
        snapshot_restore(t, 1)
    for i in range(3):
        SN.snapshot_write(
            spark.createDataFrame([(i, "x")], "k long, v string"),
            t,
            mode="overwrite",
        )
    SN.expire_snapshots(t, keep_last=1)
    with pytest.raises(ValueError, match="not retained"):
        snapshot_restore(t, 1)


def test_maintenance_plan_flags_and_auto_optimize_executes(spark, tmp_path):
    from bike_data_flow_spark.operators.snapshots import (
        auto_optimize,
        maintenance_plan,
    )

    t = _t(tmp_path)
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    for _ in range(7):  # 7 appends -> 7 dirs, 7 manifests
        SN.snapshot_write(df, t, mode="append")
    orphan = os.path.join(t, "data", "v99-orphan")
    os.makedirs(orphan)

    plan = maintenance_plan(t, max_dirs=4, keep_last=3, vacuum_after_seconds=0)
    assert plan["compact"] and plan["n_dirs"] == 7
    assert plan["expire"] and plan["n_versions"] == 7
    assert plan["vacuum"] == ["data/v99-orphan"]
    assert len(plan["reasons"]) == 3

    result = auto_optimize(
        spark, t, max_dirs=4, keep_last=3, vacuum_after_seconds=0
    )
    assert result["compacted_version"] == 8
    assert result["expired_versions"]  # old versions gone
    assert result["vacuumed"] == ["data/v99-orphan"]
    # table intact, latest version reads ONE compacted dir
    assert SN.snapshot_read(spark, t).count() == 7
    assert len(SN._read_manifest(t, SN.current_version(t))["dirs"]) == 1
    # converged: a second pass recommends nothing
    again = maintenance_plan(t, max_dirs=4, keep_last=3, vacuum_after_seconds=0)
    assert not (again["compact"] or again["expire"] or again["vacuum"])


def test_maintenance_plan_quiet_table_recommends_nothing(spark, tmp_path):
    from bike_data_flow_spark.operators.snapshots import maintenance_plan

    t = _t(tmp_path)
    assert maintenance_plan(t)["reasons"] == []  # no table yet
    SN.snapshot_write(
        spark.createDataFrame([(1, 1)], "k long, v long"), t, mode="overwrite"
    )
    plan = maintenance_plan(t)
    assert not (plan["compact"] or plan["expire"] or plan["vacuum"])


def _set_tree_mtime(root, when):
    for cur, dirs, files in os.walk(root, topdown=False):
        for name in files:
            os.utime(os.path.join(cur, name), (when, when))
        os.utime(cur, (when, when))


def test_vacuum_protects_deep_writer_activity(spark, tmp_path):
    """A long partitioned write bumps mtimes only DEEP inside partition
    subdirs (FileOutputCommitter never touches the top data dir), so
    the in-flight guard must walk the whole tree, not read one mtime
    (ADVICE r9)."""
    import time

    t = _t(tmp_path)
    SN.snapshot_write(
        spark.createDataFrame([(1, 1)], "k long, v long"), t, mode="overwrite"
    )
    orphan = os.path.join(t, "data", "v9-inflight")
    deep = os.path.join(orphan, "dt=2026-01-01")
    os.makedirs(deep)
    deep_file = os.path.join(deep, "part-0.parquet")
    open(deep_file, "wb").close()

    # top-level dir looks ancient, but a file deep inside is FRESH —
    # exactly the mid-write signature the old top-mtime guard missed
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    os.utime(deep, (old, old))
    assert SN.snapshot_vacuum(t, older_than_seconds=3600) == []
    assert os.path.isdir(orphan)
    plan = SN.maintenance_plan(t, vacuum_after_seconds=3600)
    assert "data/v9-inflight" not in plan["vacuum"]

    # once the WHOLE tree is older than the window it is collectable
    _set_tree_mtime(orphan, old)
    plan = SN.maintenance_plan(t, vacuum_after_seconds=3600)
    assert "data/v9-inflight" in plan["vacuum"]
    assert SN.snapshot_vacuum(t, older_than_seconds=3600) == [
        "data/v9-inflight"
    ]
    assert not os.path.isdir(orphan)


def test_vacuum_treats_temporary_staging_as_in_flight(spark, tmp_path):
    """A _temporary subdir IS a writer's staging area — protected no
    matter how old its mtimes look (clock skew, slow committers)."""
    import time

    t = _t(tmp_path)
    SN.snapshot_write(
        spark.createDataFrame([(1, 1)], "k long, v long"), t, mode="overwrite"
    )
    orphan = os.path.join(t, "data", "v9-staging")
    os.makedirs(os.path.join(orphan, "_temporary", "0"))
    _set_tree_mtime(orphan, time.time() - 7200)
    assert SN.snapshot_vacuum(t, older_than_seconds=3600) == []
    assert os.path.isdir(orphan)
    assert (
        "data/v9-staging"
        not in SN.maintenance_plan(t, vacuum_after_seconds=3600)["vacuum"]
    )
