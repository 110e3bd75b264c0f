"""Streaming upsert sink — continuous keyed-table maintenance from a
micro-batch stream (foreachBatch), last-writer-wins by event time.

The canonical "streaming CDC apply" pattern: each micro-batch is
compacted to the newest row per key, folded into the persisted table
by ``order_col`` (NOT by arrival order — late or replayed batches can
never regress state), and the table is atomically swapped.
foreachBatch gives exactly-once table contents under retries because
the apply is idempotent. For conditional-update MERGE semantics over
a changeset see operators/merge.merge_upsert (gate query
customer_upsert); this sink deliberately uses union + one keyed
window instead, the order-safe spelling.

On a lakehouse table (Delta/Iceberg) step 3 is a transactional MERGE
INTO; over plain parquet the swap is write-new-dir + atomic rename —
the same recovery contract (readers see old or new, never partial).

Scale shape per batch: one broadcast merge join (batch is small by
construction) + a rewrite bounded by the table, and at 100 TB the
table side would be partitioned so only touched partitions rewrite
(operators/persist.write_table machinery).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.compact import recover_swap, swap_dir


def latest_per_key(
    batch: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Newest row per key within one micro-batch (a batch may carry
    several updates for the same key; MERGE needs at most one)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_batch(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> None:
    """Apply one micro-batch to the parquet table at table_dir —
    LAST-WRITER-WINS BY ``order_col``, not by arrival: a late/replayed
    batch carrying an older version of a key can never regress state
    (an unconditional MERGE would — the newest row wins only if it
    arrives last). Spelled as union + one keyed window rather than
    merge_upsert for exactly that reason; equal-timestamp ties break
    on a content hash so replays stay deterministic."""
    # crash recovery BEFORE reading state: a death between the two
    # commit renames left the table's only full copy under __old
    recover_swap(table_dir)
    compacted = latest_per_key(batch, keys, order_col)
    if os.path.isdir(table_dir):
        target = spark.read.parquet(table_dir)
        both = target.unionByName(compacted)
        w = Window.partitionBy(*keys).orderBy(
            F.desc(order_col),
            F.desc(F.xxhash64(*[F.col(c) for c in both.columns])),
        )
        merged = (
            both.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        merged = compacted
    swap_dir(table_dir, merged.write.mode("overwrite").parquet)


def streaming_upsert(
    spark: SparkSession,
    table_dir: str,
    keys: Sequence[str],
    order_col: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: stream.writeStream.foreachBatch(
    streaming_upsert(spark, dir, ["user_id"], "ts_ns"))."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_batch(spark, table_dir, batch_df, keys, order_col)

    return process
