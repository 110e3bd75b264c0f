"""Streaming sink into the snapshot table format: every micro-batch
commits as one append snapshot, so the table gains time travel and
snapshot isolation for free and a crash mid-commit can never expose a
half-written batch (reference: iceberg_assets.py persists frames to
Iceberg; this is the streaming spelling of that persistence path,
wrm_pipeline/wrm_pipeline/assets/iceberg_assets.py:11-49).

Exactly-once: foreachBatch is at-least-once — after a failure the
engine REPLAYS the last unacknowledged batch. The sink fences commits
Delta-style on an (app id, version) txn recorded in the manifest
meta: the app id identifies THIS stream (derived from its checkpoint
location — the engine's own identity for a run lineage), the version
is the batch id. A replayed batch (version ≤ the writer's last
committed, snapshots.txn_committed) is skipped. Because the fence
scans retained manifests newest-to-oldest past commits from OTHER
writers — manual appends, maintenance compaction overwrites — those
can never disarm it.
Restarting with a NEW checkpoint dir is a new writer by definition:
its batches all commit (Delta's txn semantics; the operator chose
reprocessing, and silently dropping the new stream's data would be
worse than duplicating — document, don't guess).

Concurrency contract: the fence is check-then-write, so exactly-once
assumes ONE active writer per commit sequence at a time (the normal
Structured Streaming deployment — one driver per checkpoint). The
failure mode is still safe, not silent: if a zombie driver races a
restarted stream on the same version, snapshot_write's conditional
manifest publish (O_EXCL-style link) makes the loser ERROR instead of
last-write-winning, so a double-commit cannot slip through unnoticed.

CHECK constraints (snapshots.set_check_constraints) gate every batch:
the sink commits with no maintenance marker, so a violating batch
raises ConstraintViolation inside foreachBatch and FAILS THE STREAM
before any data file lands — loud and uncommitted, never silently
dropped rows (tests/test_constraints.py pins both directions).

At 100 TB: each commit is O(1) manifest metadata regardless of batch
size; run expire_snapshots periodically to bound manifest count —
but keep retention LONGER than the maximum stream downtime, or the
fence loses the writer's history and a replayed batch commits twice —
and compact small per-batch data dirs with a maintenance overwrite
commit. Maintenance never moves the fence: compaction, merge and delete
carry the head's txn keys forward, and a restore takes them from the
head, never from the version it restores.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators import snapshots as S


def _app_id(checkpoint_dir: str) -> str:
    norm = os.path.abspath(checkpoint_dir)
    return hashlib.md5(norm.encode()).hexdigest()[:16]


def start_batches(
    stream: DataFrame, checkpoint_dir: str, process
) -> StreamingQuery:
    """Start a foreachBatch stream that drains what is available now
    and stops: ``process(batch_df, batch_id, app_id)`` handles each
    micro-batch, ``app_id`` being this stream's identity (derived from
    its checkpoint location) for the txn fence."""
    app = _app_id(checkpoint_dir)
    return (
        stream.writeStream.foreachBatch(lambda df, bid: process(df, bid, app))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def commit_batch(
    batch_df: DataFrame, batch_id: int, table_dir: str, app_id: str
) -> bool:
    """Fenced append of one micro-batch; returns False when the batch
    is a replay (already committed by this writer). The append keeps
    the table's recorded layout and properties
    (snapshots.snapshot_append), so the sink can target a Hive-layout
    table or a store whose dials later readers validate."""
    txn = (app_id, batch_id)
    if S.txn_committed(table_dir, txn):
        return False
    S.snapshot_append(batch_df, table_dir, txn)
    return True


def write_stream_snapshots(
    stream_df: DataFrame, table_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start a foreachBatch stream committing each batch as an append
    snapshot, txn-fenced for idempotent replays."""
    return start_batches(
        stream_df,
        checkpoint_dir,
        lambda df, bid, app: commit_batch(df, bid, table_dir, app),
    )
