"""Small-file compaction for dt=-partitioned parquet zones.

Streaming per-batch commits (one file per day per batch; a late file
lands in its own day, and `processed_at` is the time of the batch that
first landed a row) and frequent appends accumulate small files; at
100 TB the scan cost is dominated by file-open overhead once files drop
under ~100 MB. This operator rewrites selected partitions to a target
file count derived from their actual byte size, using a staging dir +
directory swap (``swap_dir``) so readers never see a half-written
partition. The stage is the day's sibling ``dt=X__tmp``: a listing of
the whole zone in the instant between its write and its rename sees
the day twice, as one in the swap's other window misses it.

The rewrite names its files `part-*`, so it must not run on a stream's
zone while a batch may still be replayed: the replay finds its earlier
output by the `b<batch id>-` prefix (`enhance.commit_batch`).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def recover_swap(target: str) -> None:
    """Undo a death inside ``swap_dir``: between its two renames,
    ``target__old`` holds the only full copy and moves back; once
    ``target`` exists, a leftover ``__old`` or ``__tmp`` is garbage."""
    old, tmp = f"{target}__old", f"{target}__tmp"
    if not os.path.isdir(target) and os.path.isdir(old):
        os.rename(old, target)
    for stale in (tmp, old):
        if os.path.isdir(stale):
            shutil.rmtree(stale)


def swap_dir(target: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``target`` with what ``write(stage)`` puts
    in ``target__tmp``, after ``recover_swap`` (a caller that reads
    ``target`` to build ``write`` recovers before that read). The
    stage's rename is the commit point: a failed write leaves
    ``target`` intact. POSIX has no atomic directory exchange, so the
    old copy moves to ``target__old`` first — a brief window with no
    ``target``, undone at once if the second rename fails."""
    recover_swap(target)
    old, tmp = f"{target}__old", f"{target}__tmp"
    write(tmp)
    if os.path.isdir(target):
        os.rename(target, old)
    try:
        os.rename(tmp, target)
    except BaseException:
        if os.path.isdir(old):
            os.rename(old, target)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.isdir(old):
        shutil.rmtree(old)


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
    Returns {dt: new_file_count}. Skips partitions already compact.
    Days a death left mid-swap are recovered first, so ``dt=X__old``
    is never listed as a day of its own."""
    root = Path(root)
    for stale in [*root.glob("dt=*__old"), *root.glob("dt=*__tmp")]:
        recover_swap(str(stale)[: -len("__old")])
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
        swap_dir(
            str(src),
            lambda stage: spark.read.parquet(str(src))
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(stage),
        )
        (src / "_SUCCESS").unlink(missing_ok=True)
        result[dt] = n_out
    return result
