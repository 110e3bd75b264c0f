"""Full-registry canary: every registered query must ANALYZE and EXECUTE.

Round 3 shipped with 32 queries broken by a testdata encoding change
because nothing forced a whole-registry analysis pass. This test runs
each query at sf0.001 and collects one row — cheap (~2 min total), and
it fails within minutes of any future testdata/planner drift. Each run
is also a pin-leak check: a query's caches and checkpoints must all be
released by the scope it runs in.
"""

from __future__ import annotations

import pytest

from bike_data_flow_spark.operators import pins
from bike_data_flow_spark.queries import load_all

from .conftest import SF_DIR, pinned

_ALL = sorted(load_all())


@pytest.mark.parametrize("name", _ALL)
def test_query_analyzes_and_runs(spark, name):
    """... and leaves nothing pinned: every cache and checkpoint the
    query takes goes through operators/pins.py, so the scope the query
    runs in releases them all when it exits."""
    q = load_all()[name]
    entries, rdds = pinned(spark)
    with pins.scope():
        df = q.fn(spark, SF_DIR)
        # limit(1).collect() forces full analysis + at least one task of
        # execution without materializing the whole result.
        df.limit(1).collect()
    after_entries, after_rdds = pinned(spark)
    assert after_entries == entries
    assert after_rdds <= rdds, after_rdds - rdds


def test_check_first_names_all_exist():
    """_CHECK_FIRST entries resolve against the registry: load_all()
    silently skips unknown names (`if n in REGISTRY`), so a typo would
    quietly demote a query out of the driver's checked prefix."""
    from bike_data_flow_spark.queries import _CHECK_FIRST

    registry = set(load_all())
    missing = [n for n in _CHECK_FIRST if n not in registry]
    assert not missing, missing


def test_every_query_has_oracle():
    """The engine's claim is 100% oracle coverage — a new query landing
    without oracle SQL should be a deliberate, visible choice."""
    lacking = [n for n, q in load_all().items() if q.oracle is None]
    assert not lacking, lacking
