"""The one shard layout of the persisted dedup stores — the MinHash
band-key store (sigstore.py) and the vector bucket index
(vecstore.py). Both are snapshot tables Hive-partitioned on a bounded
``_shard``:

- ``_shard = pmod(key, n)``, where ``key`` is the store's join key
  (sigstore: the combined band key; vecstore: the bucket id) and ``n``
  is recorded in the manifest at init (``shards``). Every later read
  and write derives shard values from that recorded ``n``, never from
  the caller's current dial, so redialing never breaks an existing
  store. A table that records no ``shards`` was not built by a store
  init and is refused.
- One file per shard per commit: rows repartition on ``_shard`` before
  the partitioned write (partitionBy alone writes one file per task ×
  shard, and a probe's scan drowns in file opens).
- A probe lists only the shards Δ touches: Δ's occupied shards are a
  literal IN-list bounded by ``n`` (never corpus-sized), so the filter
  lands as PartitionFilters and only matching directories are listed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import latest_meta, snapshot_append, snapshot_read, snapshot_write


def with_shard(rows: DataFrame, key: Column, n: int) -> DataFrame:
    """``rows`` plus ``_shard = pmod(key, n)``, replacing any existing one."""
    return rows.withColumn("_shard", F.pmod(key, F.lit(n)).cast("int"))


def shard_count(table_dir: str) -> int:
    """The shard modulus the store was built with (manifest property)."""
    n = latest_meta(table_dir).get("shards")
    if n is None:
        raise ValueError(
            f"{table_dir} records no shard count: it is not a sharded "
            "store (build it with signature_store_init or vector_store_init)"
        )
    return n


def write_sharded(
    rows: DataFrame, key: Column, table_dir: str, n: int, meta: dict
) -> int:
    """Overwrite ``table_dir`` with ``rows`` sharded on ``key`` mod
    ``n``, recording ``n`` beside ``meta``; returns the version."""
    return snapshot_write(
        with_shard(rows, key, n).repartition("_shard"),
        table_dir,
        mode="overwrite",
        meta={**meta, "shards": n},
        partition_by=["_shard"],
    )


def append_sharded(
    delta: DataFrame,
    key: Column,
    table_dir: str,
    txn: tuple[str, int] | None,
    publish_gate=None,
) -> int:
    """Append ``delta`` under the store's recorded modulus
    (snapshots.snapshot_append keeps the layout, one task per shard,
    and the table's properties); returns the new version."""
    return snapshot_append(
        with_shard(delta, key, shard_count(table_dir)),
        table_dir,
        txn,
        publish_gate,
    )


def read_pruned(
    spark: SparkSession, table_dir: str, delta: DataFrame, key: Column
) -> DataFrame:
    """The store restricted to the shards ``delta``'s keys fall in."""
    n = shard_count(table_dir)
    shards = [
        r[0] for r in with_shard(delta, key, n).select("_shard").distinct().collect()
    ]
    return snapshot_read(spark, table_dir).filter(F.col("_shard").isin(shards))
