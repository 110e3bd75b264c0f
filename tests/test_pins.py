"""operators/pins.py — the one pin lifecycle: who owns a pin, when a
scope releases it, and what a window roll keeps."""

from __future__ import annotations

from pyspark.sql import functions as F

from bike_data_flow_spark.operators import pins
from bike_data_flow_spark.operators.ml import hashed_token_features, logreg_train

from .conftest import pinned


def test_callee_never_releases_callers_cache(spark):
    """A callee's pins.cache of a plan the caller already cached makes
    no pin, so the callee's release (logreg_train's, after its rounds)
    leaves the caller's entry in place."""
    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} pin owner", i % 2) for i in range(12)],
        "doc_id long, text string, y int",
    )
    entries, _ = pinned(spark)
    with pins.scope():
        feats = pins.cache(hashed_token_features(docs, label=F.col("y"), n_buckets=4))
        feats.count()
        assert pinned(spark)[0] == entries + 1
        logreg_train(feats, n_buckets=4, n_iter=2)
        assert pinned(spark)[0] == entries + 1  # still the caller's
    assert pinned(spark)[0] == entries


def test_nested_scopes_and_idempotent_release(spark):
    entries, rdds = pinned(spark)
    with pins.scope():
        outer = pins.checkpoint(spark.range(4).selectExpr("id AS outer_pin"))
        with pins.scope():
            inner = pins.checkpoint(spark.range(3).selectExpr("id AS inner_pin"))
            assert len(pinned(spark)[1] - rdds) == 2
        assert len(pinned(spark)[1] - rdds) == 1  # the inner scope's pin went
        pins.release(outer, inner)
        pins.release(outer)  # a second release is a no-op
        assert pinned(spark)[1] <= rdds
    after_entries, after_rdds = pinned(spark)
    assert after_entries == entries and after_rdds <= rdds


def test_window_roll_releases_what_the_checkpoint_supersedes(spark):
    _, rdds = pinned(spark)
    with pins.scope():
        win = pins.Window()
        state = win.cache(spark.range(6).selectExpr("id AS window_pin"))
        state.count()
        rolled = win.roll(win.cache(state.selectExpr("window_pin + 1 AS window_pin")))
        # only the boundary checkpoint is left, and it reads correctly
        assert len(pinned(spark)[1] - rdds) == 1
        assert sorted(r[0] for r in rolled.collect()) == list(range(1, 7))
    assert pinned(spark)[1] <= rdds
