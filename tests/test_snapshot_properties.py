"""Property-based model check of the snapshot table format: ANY
sequence of maintenance/write operations must preserve the table's
rows, layout, properties, and retained-version time travel.

The defect classes this pins: maintenance rewrites (compact, merge,
delete) silently dropping table PROPERTIES (meta, partition_by),
bricking reads (empty partitioned appends), or starting from the
pointer's version instead of a crashed append's durable orphan. A
Python model executes the same op sequence on plain lists/dicts, and
counts an orphaned append (its pointer move crashed) as committed;
after every op the real table must agree with the model on
- the row multiset of the newest committed version,
- the head's partition_by / latest_meta,
- snapshot_history length (non-contiguity after expiry tolerated),
- time travel for every RETAINED version.
"""

from __future__ import annotations

from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bike_data_flow_spark.operators.snapshots import (
    _read_manifest,
    current_version,
    expire_snapshots,
    latest_meta,
    snapshot_compact,
    snapshot_delete,
    snapshot_history,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)

_META = {"format": "prop_table", "dial": 9}

# ops: ("append", rows) | ("empty_append",) | ("overwrite", rows)
#    | ("compact", target_files) | ("merge", rows) | ("expire", keep)
#    | ("orphan_append", rows) | ("delete", k)
_rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 2)), min_size=1, max_size=4
)
_op = st.one_of(
    st.tuples(st.just("append"), _rows),
    st.tuples(st.just("empty_append")),
    st.tuples(st.just("overwrite"), _rows),
    st.tuples(st.just("compact"), st.integers(1, 2)),
    st.tuples(st.just("merge"), _rows),
    st.tuples(st.just("expire"), st.integers(1, 3)),
    st.tuples(st.just("orphan_append"), _rows),
    st.tuples(st.just("delete"), st.integers(0, 9)),
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, f"v{k}", p) for k, p in rows], "k int, v string, p int"
    )


@given(st.lists(_op, min_size=1, max_size=6))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_op_sequences_match_model(spark, ops):
    import shutil
    import tempfile

    t = tempfile.mkdtemp(prefix="snap_prop_") + "/tbl"
    try:
        # bootstrap: partitioned table with properties
        seed = [(0, 0), (1, 1)]
        snapshot_write(
            _df(spark, seed), t, mode="overwrite", meta=_META,
            partition_by=["p"],
        )
        model_rows = [(k, f"v{k}", p) for k, p in seed]  # multiset
        history = {1: list(model_rows)}  # version -> rows
        retained = {1}
        version = 1
        orphaned = False  # the pointer is one behind the newest commit

        for op in ops:
            kind = op[0]
            if kind in ("append", "orphan_append"):
                rows = [(k, f"v{k}", p) for k, p in op[1]]
                v = snapshot_write(
                    _df(spark, op[1]), t, meta=_META, partition_by=["p"]
                )
                if kind == "orphan_append":  # the pointer move "crashed"
                    Path(t, "_LATEST").write_text(str(v - 1))
                model_rows = model_rows + rows
            elif kind == "empty_append":
                snapshot_write(
                    _df(spark, [(0, 0)]).filter(F.lit(False)),
                    t,
                    meta=_META,
                    partition_by=["p"],
                )
            elif kind == "overwrite":
                rows = [(k, f"v{k}", p) for k, p in op[1]]
                snapshot_write(
                    _df(spark, op[1]), t, mode="overwrite", meta=_META,
                    partition_by=["p"],
                )
                model_rows = rows
            elif kind == "compact":
                snapshot_compact(spark, t, target_files=op[1])
            elif kind == "merge":
                # upsert by key k: dedupe source on k (merge refuses
                # duplicate source keys); EVERY matching target row
                # updates (duplicate target keys stay duplicated),
                # unmatched source keys insert
                src = {}
                for k, p in op[1]:
                    src[k] = (k, f"v{k}", p)
                snapshot_merge(
                    spark, t, _df(spark, [(k, p) for k, _, p in src.values()]),
                    ["k"],
                )
                target_keys = {r[0] for r in model_rows}
                model_rows = [src.get(r[0], r) for r in model_rows] + [
                    row for k, row in src.items() if k not in target_keys
                ]
            elif kind == "delete":
                snapshot_delete(spark, t, f"k = {op[1]}")
                model_rows = [r for r in model_rows if r[0] != op[1]]
            elif kind == "expire":
                expired = expire_snapshots(t, keep_last=op[1])
                retained -= set(expired)
            if kind != "expire":  # every non-expire op commits a version
                version += 1
                history[version] = list(model_rows)
                retained.add(version)
                # every other commit rolls the pointer onto the orphan
                orphaned = kind == "orphan_append"

            # --- invariants after EVERY op ---
            assert current_version(t) == version - orphaned, kind
            got = sorted(
                tuple(r)
                for r in snapshot_read(spark, t, version=version).collect()
            )
            assert got == sorted(model_rows), (kind, got, model_rows)
            layout = _read_manifest(t, current_version(t))["partition_by"]
            assert layout == ["p"], kind  # layout never lost
            assert latest_meta(t) == _META, kind  # properties never lost
            assert {h["version"] for h in snapshot_history(t)} == retained

        # time travel for every retained version matches the model
        for v in retained:
            got = sorted(
                tuple(r) for r in snapshot_read(spark, t, version=v).collect()
            )
            assert got == sorted(history[v]), v
    finally:
        shutil.rmtree(t.rsplit("/", 1)[0], ignore_errors=True)
