"""SparkSession factory, and the one driver-concurrency primitive.

Replaces the reference's ad-hoc engine wiring (DuckDB connect +
httpfs/S3 config at create_enhanced_views.py:14-33, pandas in assets)
with one tuned SparkSession. Settings chosen for correctness parity
with the DuckDB oracle (UTC session time zone) and for scale (AQE,
dynamic partition overwrite for day rebuilds, Arrow for the few
pandas-UDF paths).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterator
from concurrent.futures import Future
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def get_spark(
    app_name: str = "bike-data-flow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from SPARK_GRAFT_CPUS (driver
    contract) or all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # Local mode runs driver AND all executor threads in ONE JVM whose
    # heap defaults to 1g — starving 32 threads of execution/storage
    # memory (observed: cache evictions under the bench, broadcast
    # build OOM at 10× data). Size it like the single node it is;
    # spark.driver.memory only applies at JVM launch, so it must be set
    # by the FIRST getOrCreate in the process. On a real cluster,
    # spark-submit owns this and the env override keeps us out of the way.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # Oracle parity: DuckDB returns naive UTC timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Scale: adaptive execution re-plans shuffles/joins/skew at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Parallelism-first coalescing (the default) targets
        # total/parallelism per stage but is floored by
        # minPartitionSize, whose 1m default quietly serializes
        # CPU-dense stages with byte-light shuffles (an exploding
        # join's ~2 MB map output coalesced to 2 tasks while 30 cores
        # idled — see tuning.plan_partitions). 64k lets the
        # parallelism-first target actually bind; genuinely tiny
        # shuffles still collapse to one task, and at scale partitions
        # are far above either floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Joins: let the planner pick shuffled-hash over sort-merge when
        # its size conditions hold (skips both sides' sorts), and let
        # AQE rewrite a planned sort-merge to shuffled-hash at runtime
        # when every post-shuffle partition is under the threshold —
        # the per-partition bound is what keeps the build side safe at
        # 100 TB (a partition that exceeds it stays sort-merge and
        # spills gracefully).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        # Batch day loads (write_enhanced, SURVEY ST4): overwrite only touched dt= partitions.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for pandas interchange / pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def overlap() -> Iterator[Callable[..., Future]]:
    """Run independent serial chains of small Spark jobs on driver
    threads, so their jobs overlap instead of queueing behind each
    other (the scheduler back-fills one chain's idle cores with the
    other's tasks)::

        with overlap() as submit:
            a = submit(build_a, x)
            b = submit(build_b)
        a.result(), b.result()  # submission order

    ``submit(fn, *args)`` starts ``fn(*args)`` at once on its own
    thread and returns its Future. Each branch runs under a copy of the
    caller's local properties taken at submit time (job group, job
    description, scheduler pool), so its jobs stay attributed to the
    caller and a ``cancelJobGroup`` on the caller's group reaches them;
    a plain thread would see none of them.

    The block exits only after every branch has settled, so no thread
    outlives it. An exception from the block itself wins; otherwise
    the first failed branch, in submission order, is re-raised."""
    spark = SparkSession.active()
    branches: list[tuple[threading.Thread, Future]] = []

    def submit(fn: Callable, *args) -> Future:
        fut: Future = Future()
        target = inheritable_thread_target(spark)(fn)

        def run() -> None:
            try:
                fut.set_result(target(*args))
            except BaseException as e:  # noqa: BLE001 — re-raised below
                fut.set_exception(e)

        thread = threading.Thread(target=run)
        thread.start()
        branches.append((thread, fut))
        return fut

    try:
        yield submit
    finally:
        for thread, _ in branches:
            thread.join()
    for _, fut in branches:
        if fut.exception() is not None:
            raise fut.exception()
