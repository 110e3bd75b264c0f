"""as-of join and range join vs brute-force oracles; the contract of
pairs_sharing_key, the one candidate-pair self-join."""

from __future__ import annotations

import pathlib
import re
from collections import Counter

from pyspark.sql import functions as F

from bike_data_flow_spark.operators.joins import (
    asof_join,
    pairs_sharing_key,
    range_join,
)


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("A", 5, 99.0), ("B", 7, 50.0)],
        ["sym", "t", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", 8, 99.5), ("A", 10, 100.1), ("A", 15, 100.7), ("B", 9, 49.9)],
        ["sym", "t", "bid"],
    )
    out = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t")
    got = {(r["sym"], r["t"]): r["r_bid"] for r in out.collect()}
    assert got == {
        ("A", 5): None,  # nothing at or before t=5
        ("A", 10): 100.1,  # quote at exactly t=10 counts (≤)
        ("A", 20): 100.7,  # latest ≤ 20 is t=15
        ("B", 7): None,  # B's only quote is later
    }
    assert out.count() == trades.count()  # every left row survives


def test_asof_join_duplicate_left_rows_stay_one_to_one(spark):
    trades = spark.createDataFrame(
        [("A", 10, "x"), ("A", 10, "y"), ("A", 12, "z")], ["sym", "t", "side"]
    )
    quotes = spark.createDataFrame([("A", 9, 1.0), ("A", 11, 2.0)], ["sym", "t", "bid"])
    out = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t")
    assert out.count() == 3  # no fan-out from the duplicated (A, 10)
    got = sorted((r["t"], r["side"], r["r_bid"]) for r in out.collect())
    assert got == [(10, "x", 1.0), (10, "y", 1.0), (12, "z", 2.0)]


def test_asof_join_matches_bruteforce_on_events(spark):
    import random

    rng = random.Random(7)
    left = [(k, rng.randint(0, 100)) for k in "ab" for _ in range(30)]
    right = [(k, rng.randint(0, 100), rng.random()) for k in "ab" for _ in range(20)]
    ldf = spark.createDataFrame(left, ["k", "t"])
    rdf = spark.createDataFrame(right, ["k", "t", "v"])
    out = asof_join(ldf, rdf, on="k", left_ts="t", right_ts="t")
    # brute force: max right t ≤ left t; among ties the operator picks a
    # deterministic one — compare on the matched TIME, not the value
    got = {}
    for r in out.collect():
        got.setdefault((r["k"], r["t"]), r["r_t"])
    for k, t in {(x[0], x[1]) for x in left}:
        prior = [rt for (rk, rt, _) in right if rk == k and rt <= t]
        expect = max(prior) if prior else None
        assert got[(k, t)] == expect, (k, t)


def test_range_join_matches_theta_join(spark):
    points = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], ["pid", "x"]
    )
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 6.5), (3, 40.0, 55.0), (4, 60.0, 70.0)],
        ["iid", "lo", "hi"],
    )
    fast = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "x", "lo", "hi", bin_size=8.0).collect()
    }
    theta = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))
        ).collect()
    }
    assert fast == theta and len(fast) > 0


def test_asof_tiebreak_stable_across_partition_layouts(spark):
    """Duplicate (key, ts) right rows with different payloads must
    resolve to the SAME winner regardless of partitioning (the old
    monotonically_increasing_id tie-break depended on layout)."""
    trades = spark.createDataFrame([("A", 10, "x")], ["sym", "t", "side"])
    quotes = spark.createDataFrame(
        [("A", 9, 1.0), ("A", 9, 2.0), ("A", 9, 3.0)], ["sym", "t", "bid"]
    )
    winners = set()
    for n_parts in (1, 2, 3, 7):
        out = asof_join(
            trades, quotes.repartition(n_parts), on="sym", left_ts="t", right_ts="t"
        )
        rows = out.collect()
        assert len(rows) == 1
        winners.add(rows[0]["r_bid"])
    assert len(winners) == 1  # same duplicate wins under every layout


def test_asof_caller_supplied_tiebreak_id(spark):
    trades = spark.createDataFrame([("A", 10, "x")], ["sym", "t", "side"])
    quotes = spark.createDataFrame(
        [("A", 9, 1.0, 1), ("A", 9, 2.0, 5), ("A", 9, 3.0, 3)],
        ["sym", "t", "bid", "qid"],
    )
    out = asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t", right_id="qid"
    )
    assert out.collect()[0]["r_bid"] == 2.0  # largest qid wins


def test_asof_string_uuid_right_id(spark):
    """A non-numeric right_id (string UUID) must still produce matches:
    the old cast('long') surrogate silently became NULL for every row,
    so no left row ever matched."""
    trades = spark.createDataFrame(
        [("A", 10, "x"), ("A", 20, "y")], ["sym", "t", "side"]
    )
    quotes = spark.createDataFrame(
        [
            ("A", 8, 99.5, "3e0f7a1c-9a1b-4b3e-8f2a-000000000001"),
            ("A", 15, 100.7, "3e0f7a1c-9a1b-4b3e-8f2a-000000000002"),
        ],
        ["sym", "t", "bid", "quote_uuid"],
    )
    out = asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t", right_id="quote_uuid"
    )
    got = {r["t"]: (r["r_bid"], r["r_quote_uuid"]) for r in out.collect()}
    assert got[10] == (99.5, "3e0f7a1c-9a1b-4b3e-8f2a-000000000001")
    assert got[20] == (100.7, "3e0f7a1c-9a1b-4b3e-8f2a-000000000002")


def test_range_join_left_preserves_unmatched_points(spark):
    points = spark.createDataFrame(
        [(1, 5.0), (2, 30.0), (3, 65.0)], ["pid", "x"]
    )
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (4, 60.0, 70.0)], ["iid", "lo", "hi"]
    )
    got = {
        r["pid"]: r["iid"]
        for r in range_join(
            points, intervals, "x", "lo", "hi", bin_size=8.0, how="left"
        ).collect()
    }
    assert got == {1: 1, 2: None, 3: 4}  # pid=2 survives null-extended


def test_range_join_rejects_interval_preserving_outer(spark):
    import pytest

    points = spark.createDataFrame([(1, 5.0)], ["pid", "x"])
    intervals = spark.createDataFrame([(1, 0.0, 10.0)], ["iid", "lo", "hi"])
    with pytest.raises(ValueError, match="inner"):
        range_join(points, intervals, "x", "lo", "hi", bin_size=8.0, how="right")


def _pair_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_pairs_sharing_key_null_keys_never_pair(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "k"), (4, "k")], "id int, key string"
    )
    got = pairs_sharing_key(df, "id", ["key"])
    assert got.columns == ["id_a", "id_b"]
    assert _pair_rows(got) == [(3, 4)]


def test_pairs_sharing_key_repeats_pairs_like_the_self_join(spark):
    rows = [(1, "k"), (1, "k"), (2, "k"), (3, "k"), (1, "j"), (2, "j")]
    df = spark.createDataFrame(rows, "id int, key string")
    # the hand-written self-join multiset: one row per (left row, right
    # row) with the same key and id_a < id_b
    want = Counter(
        (a, b) for a, ka in rows for b, kb in rows if ka == kb and a < b
    )
    got = Counter(_pair_rows(pairs_sharing_key(df, "id", ["key"])))
    assert got == want
    # the duplicated (1, "k") row doubles (1, 2) and (1, 3) under "k";
    # (1, 2) also shares "j" — one row per shared key, not per pair
    assert got[(1, 2)] == 3 and got[(1, 3)] == 2 and got[(2, 3)] == 1


def test_pairs_sharing_key_equal_ids_never_pair(spark):
    df = spark.createDataFrame(
        [(5, "k"), (5, "k"), (5, "k"), (7, "j")], "id int, key string"
    )
    assert _pair_rows(pairs_sharing_key(df, "id", ["key"])) == []


def test_pairs_sharing_key_carries_each_sides_own_columns(spark):
    df = spark.createDataFrame(
        [(i, "k", f"p{i}", 10 * i) for i in (3, 1, 2)],
        "id int, key string, payload string, w int",
    )
    got = pairs_sharing_key(df, "id", ["key"], ("payload", "w"))
    assert got.columns == ["id_a", "payload_a", "w_a", "id_b", "payload_b", "w_b"]
    rows = got.collect()
    assert sorted((r.id_a, r.id_b) for r in rows) == [(1, 2), (1, 3), (2, 3)]
    for r in rows:
        assert (r.payload_a, r.w_a) == (f"p{r.id_a}", 10 * r.id_a)
        assert (r.payload_b, r.w_b) == (f"p{r.id_b}", 10 * r.id_b)


def test_pairs_sharing_key_multi_column_keys(spark):
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 1), (3, "a", 2), (4, "b", 1), (5, "a", None),
         (6, "a", None)],
        "id int, k1 string, k2 int",
    )
    got = pairs_sharing_key(df, "id", ["k1", "k2"])
    assert got.columns == ["id_a", "id_b"]
    assert _pair_rows(got) == [(1, 2)]


def test_no_hand_rolled_pair_self_joins_outside_the_helper():
    """Candidate pairs go through joins.pairs_sharing_key only, so the
    self-join's form (and any later change of it) lives in one place."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"
    banned = re.compile(r"""F\.col\(["']id_a["']\)\s*<\s*F\.col\(["']id_b["']\)""")
    # mutual_knn_pairs joins the k-NN edges with their REVERSED copy on
    # (id_a, id_b) to keep reciprocal edges — not pairs sharing a key
    allowed = {"queries/relational12.py"}
    hits = [
        f"{rel}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "joins.py"
        and (rel := str(path.relative_to(pkg))) not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def test_txn_fence_spelled_only_in_snapshots():
    """The txn fence — what counts as a replay, which txn keys a commit
    records and which it drops — is spelled in operators/snapshots.py
    only; every other writer goes through txn_committed and
    snapshot_append."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"
    banned = re.compile(r"""last_txn_version\(|["']txn_app_id["']|startswith\(["']txn_["']\)""")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "snapshots.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def test_pins_taken_and_released_only_in_pins():
    """Every cache, persist, local checkpoint and release in the package
    goes through operators/pins.py, and so does the capture of a
    checkpoint's RDD handle: one lifecycle, so a scope sees every pin."""
    import ast

    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"

    def banned(call):
        f = call.func
        if not isinstance(f, ast.Attribute):
            return False
        if f.attr in ("persist", "localCheckpoint", "unpersist"):
            return True
        if f.attr == "cache":  # df.cache(); pins.cache(df) takes the frame
            return not call.args and not call.keywords
        inner = f.value  # <plan>.analyzed().rdd()
        return (
            f.attr == "rdd"
            and isinstance(inner, ast.Call)
            and isinstance(inner.func, ast.Attribute)
            and inner.func.attr == "analyzed"
        )

    hits = [
        f"{path.relative_to(pkg)}:{node.lineno}: {node.func.attr}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "pins.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and banned(node)
    ]
    assert hits == []


def test_rewrite_and_manifest_listing_spelled_once_in_snapshots():
    """In operators/snapshots.py, a commit that carries a manifest's
    ``meta`` goes through _rewrite (head read after crash recovery, CAS
    on it) or snapshot_append, and the manifest directory is listed by
    _retained_versions only."""
    import ast

    path = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bike_data_flow_spark" / "operators" / "snapshots.py"
    )

    def calls(node, name):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and name in (getattr(c.func, "id", None), getattr(c.func, "attr", None))
        ]

    hits = []
    for fn in ast.parse(path.read_text()).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        if fn.name not in ("_rewrite", "snapshot_append"):
            hits += [
                f"{fn.name}:{c.lineno}: snapshot_write(meta=...)"
                for c in calls(fn, "snapshot_write")
                if any(k.arg == "meta" for k in c.keywords)
            ]
        if fn.name != "_retained_versions":
            # names bound to the manifest dir, then any listing of them
            mdir = {
                t.id
                for a in ast.walk(fn)
                if isinstance(a, ast.Assign) and calls(a.value, "_manifest_dir")
                for t in a.targets
                if isinstance(t, ast.Name)
            }
            hits += [
                f"{fn.name}:{c.lineno}: lists the manifest dir"
                for lister in ("listdir", "scandir", "glob", "iglob", "walk")
                for c in calls(fn, lister)
                if any(
                    calls(arg, "_manifest_dir")
                    or any(getattr(n, "id", None) in mdir for n in ast.walk(arg))
                    for arg in c.args
                )
            ]
    assert hits == []


def test_shard_layout_spelled_only_in_shards():
    """The dedup stores' shard layout — the shard column, how it is
    derived, written, appended and pruned — is spelled in
    operators/shards.py only."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bike_data_flow_spark"
    banned = re.compile(r"""["']_shard["']""")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "shards.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def test_plans_captured_only_in_tools_plans():
    """A physical plan is captured in tools/plans.py only (`explain`,
    then `canonical`): no other `.explain(` call or stdout redirect in
    the package, the tools or the tests."""
    import ast

    root = pathlib.Path(__file__).resolve().parent.parent

    def banned(node):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            return node.func.attr == "explain"
        if isinstance(node, ast.Attribute):
            return node.attr == "redirect_stdout"
        if isinstance(node, ast.alias):  # from contextlib import redirect_stdout
            return node.name == "redirect_stdout"
        return False

    hits = [
        f"{path.relative_to(root)}:{getattr(node, 'lineno', '?')}"
        for top in ("bike_data_flow_spark", "tools", "tests")
        for path in sorted((root / top).rglob("*.py"))
        if path != root / "tools" / "plans.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if banned(node)
    ]
    assert hits == []
