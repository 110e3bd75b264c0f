from __future__ import annotations

from pyspark.sql import functions as F

from bike_data_flow_spark.operators.compact import compact_partitions, partition_sizes


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    out = tmp_path / "zone"
    df = spark.range(0, 10000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2025-05-01").otherwise("2025-05-02").alias("dt"),
    )
    # deliberately fragment: many small files per partition
    df.repartition(16).write.partitionBy("dt").parquet(str(out))
    before = partition_sizes(out)
    assert all(n >= 8 for n, _ in before.values())

    done = compact_partitions(spark, out, target_file_bytes=10**9)
    after = partition_sizes(out)
    assert set(done) == {"2025-05-01", "2025-05-02"}
    assert all(n == 1 for n, _ in after.values())
    back = spark.read.parquet(str(out))
    assert back.count() == 10000
    assert back.select("dt").distinct().count() == 2


def test_compaction_skips_single_file_partitions(spark, tmp_path):
    out = tmp_path / "zone"
    spark.range(0, 10).select(F.col("id"), F.lit("2025-05-01").alias("dt")).coalesce(
        1
    ).write.partitionBy("dt").parquet(str(out))
    done = compact_partitions(spark, out)
    assert done == {}  # nothing to do


def test_compaction_restores_partition_if_swap_fails(spark, tmp_path, monkeypatch):
    """A crash mid-swap must not strand data in dt=X__old — the old
    partition comes back and readers see the original rows."""
    import os

    import pytest

    out = tmp_path / "zone"
    spark.range(0, 1000).select(
        F.col("id"), F.lit("2025-05-01").alias("dt")
    ).repartition(4).write.partitionBy("dt").parquet(str(out))

    real_rename = os.rename

    def failing_rename(src, dst):
        if str(src).endswith("__tmp"):
            raise OSError("simulated crash during swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        compact_partitions(spark, out, target_file_bytes=10**9)
    monkeypatch.undo()

    assert (out / "dt=2025-05-01").exists()
    assert not (out / "dt=2025-05-01__old").exists()
    assert not (out / "dt=2025-05-01__tmp").exists()
    assert spark.read.parquet(str(out)).count() == 1000


def test_compaction_recovers_a_day_left_mid_swap(spark, tmp_path):
    """A death between the swap's two renames leaves the day only under
    dt=X__old (and maybe a stage under dt=X__tmp): the next compaction
    moves it back before listing the zone, so the day is compacted and
    never read as a partition named X__old."""
    out = tmp_path / "zone"
    spark.range(0, 1000).select(
        F.col("id"), F.lit("2025-05-01").alias("dt")
    ).repartition(4).write.partitionBy("dt").parquet(str(out))
    (out / "dt=2025-05-01").rename(out / "dt=2025-05-01__old")
    (out / "dt=2025-05-01__tmp").mkdir()
    (out / "dt=2025-05-01__tmp" / "junk").write_text("leftover")

    done = compact_partitions(spark, out, target_file_bytes=10**9)
    assert done == {"2025-05-01": 1}
    assert [p.name for p in out.glob("dt=*")] == ["dt=2025-05-01"]
    back = spark.read.parquet(str(out))
    assert back.count() == 1000
    assert back.select("dt").distinct().count() == 1
