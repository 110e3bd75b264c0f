"""session.overlap — the one driver-concurrency primitive: branches
inherit the caller's local properties and context variables, start at
once, return in submission order, and never outlive the call, whichever
side fails."""

from __future__ import annotations

import contextvars
import pathlib
import re
import threading
import time

import pytest

from bike_data_flow_spark.operators import pins
from bike_data_flow_spark.session import overlap

from .conftest import pinned

_GROUP, _DESC = "spark.jobGroup.id", "spark.job.description"


@pytest.fixture()
def caller_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("overlap-test", "caller group")
    sc.setJobDescription("caller description")
    yield sc
    for key in (_GROUP, _DESC, "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _slow(done: list, value=None):
    time.sleep(0.5)
    done.append(value)
    return value


def _fail(msg: str, delay: float = 0.0):
    time.sleep(delay)
    raise ValueError(msg)


def test_branch_sees_callers_job_group_and_description(spark, caller_group):
    sc = caller_group

    def branch():
        spark.range(3).count()  # one job, run from the branch thread
        return sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC)

    with overlap() as submit:
        fut = submit(branch)
    assert fut.result() == ("overlap-test", "caller description")
    # the branch's job is attributed to (and cancellable with) the group
    assert sc.statusTracker().getJobIdsForGroup("overlap-test")


def test_branch_sees_callers_context_variables():
    var = contextvars.ContextVar("overlap_test")
    token = var.set("caller")
    try:
        with overlap() as submit:
            fut = submit(var.get)  # LookupError in a context without it
        assert fut.result() == "caller"
    finally:
        var.reset(token)


def test_pins_made_on_branches_are_released_by_callers_scope(spark):
    entries, rdds = pinned(spark)
    with pins.scope():
        with overlap() as submit:
            ckpt = submit(lambda: pins.checkpoint(spark.range(5)))
            cached = submit(
                lambda: pins.cache(spark.range(7).selectExpr("id * 3 AS x"))
            )
        assert cached.result().count() == 7 and ckpt.result().count() == 5
        inside_entries, inside_rdds = pinned(spark)
        assert inside_entries == entries + 1 and len(inside_rdds - rdds) == 2
    after_entries, after_rdds = pinned(spark)
    assert after_entries <= entries
    assert after_rdds <= rdds, after_rdds - rdds


def test_results_in_submission_order_and_no_worker_cap(spark):
    n = 8
    # every branch waits for all the others: a capped pool would stall
    barrier = threading.Barrier(n, timeout=30)

    def branch(i: int) -> int:
        barrier.wait()
        time.sleep(0.02 * (n - i))  # later submissions finish first
        return i

    with overlap() as submit:
        futs = [submit(branch, i) for i in range(n)]
    assert [f.result() for f in futs] == list(range(n))


def test_branch_failure_raises_after_siblings_settle(spark):
    baseline = threading.active_count()
    done: list = []
    with pytest.raises(ValueError, match="first"):
        with overlap() as submit:
            submit(_slow, done, "slow")
            submit(_fail, "first", 0.2)
            submit(_fail, "second")  # fails sooner, but submitted later
    assert done == ["slow"]
    assert threading.active_count() == baseline


def test_caller_exception_wins_after_branches_settle(spark):
    baseline = threading.active_count()
    done: list = []
    with pytest.raises(KeyError, match="caller"):
        with overlap() as submit:
            submit(_slow, done, "slow")
            submit(_fail, "branch")
            raise KeyError("caller")
    assert done == ["slow"]
    assert threading.active_count() == baseline


def test_no_thread_pools_outside_the_helper():
    """Driver-side concurrency goes through session.overlap only, so
    every branch inherits the caller's job group and none leaks."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"
    banned = re.compile(
        r"ThreadPoolExecutor|concurrent\.futures|threading\.Thread|\bThread\("
    )
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
