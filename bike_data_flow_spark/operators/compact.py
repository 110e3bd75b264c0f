"""Small-file compaction for dt=-partitioned parquet zones.

Streaming per-batch commits (one file per day per batch; a late file
lands in its own day, and `processed_at` is the time of the batch that
first landed a row) and frequent appends accumulate small files; at
100 TB the scan cost is dominated by file-open overhead once files drop
under ~100 MB. This operator rewrites selected partitions to a target
file count derived from their actual byte size, using a staging dir +
atomic directory swap so concurrent readers never see a half-written
partition.

The rewrite names its files `part-*`, so it must not run on a stream's
zone while a batch may still be replayed: the replay finds its earlier
output by the `b<batch id>-` prefix (`enhance.commit_batch`).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def partition_sizes(root: str | Path) -> dict[str, tuple[int, int]]:
    """{dt: (n_files, total_bytes)} for each dt= partition on local fs."""
    out: dict[str, tuple[int, int]] = {}
    for d in sorted(Path(root).glob("dt=*")):
        files = [p for p in d.glob("*.parquet") if p.is_file()]
        out[d.name.split("=", 1)[1]] = (
            len(files),
            sum(p.stat().st_size for p in files),
        )
    return out


def compact_partitions(
    spark: SparkSession,
    root: str | Path,
    dts: list[str] | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
) -> dict[str, int]:
    """Rewrite each selected dt partition into ceil(bytes/target) files.
    Returns {dt: new_file_count}. Skips partitions already compact."""
    root = Path(root)
    sizes = partition_sizes(root)
    chosen = dts if dts is not None else list(sizes)
    result: dict[str, int] = {}
    for dt in chosen:
        n_files, n_bytes = sizes.get(dt, (0, 0))
        if n_files < min_files_to_compact:
            continue
        n_out = max(1, -(-n_bytes // target_file_bytes))  # ceil div
        if n_out >= n_files:
            continue  # already at/under target granularity
        src = root / f"dt={dt}"
        stage = root.parent / f".compact-{dt}-{uuid.uuid4().hex[:8]}"
        (
            spark.read.parquet(str(src))
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(str(stage))
        )
        # Swap: move old out, stage in, drop old. POSIX has no atomic
        # directory exchange, so there is a brief window where dt= is
        # absent; a failure inside the window restores the old partition
        # instead of stranding it in dt=X.old.
        old = src.with_name(src.name + ".old")
        src.rename(old)
        try:
            stage.rename(src)
        except BaseException:
            old.rename(src)
            shutil.rmtree(stage, ignore_errors=True)
            raise
        shutil.rmtree(old)
        (src / "_SUCCESS").unlink(missing_ok=True)
        result[dt] = n_out
    return result
