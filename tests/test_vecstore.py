"""Incremental embedding near-dup index (operators/vecstore.py): probe
results must equal the batch bucketed near-dup restricted to the batch,
and the index must stay correct across consecutive appends."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bike_data_flow_spark.operators import sigstore as G
from bike_data_flow_spark.operators import similarity as S
from bike_data_flow_spark.operators import vecstore as V
from bike_data_flow_spark.operators.shards import shard_count
from bike_data_flow_spark.operators.snapshots import (
    current_version,
    snapshot_read,
)
from bike_data_flow_spark.tables import load

_DIM = 64
_TAU = 0.4


@pytest.fixture()
def store_dir():
    d = os.path.join(
        tempfile.gettempdir(), f"vecstore_test_{os.getpid()}", "vecs"
    )
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    yield d
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def _pairs(df):
    return {(r.id_a, r.id_b, r.cos_sim) for r in df.collect()}


def _batch_bucketed_pairs(emb):
    """The from-scratch truth: same-bucket pairs with round(cos,6) ≥ τ."""
    e = emb.select(
        "vec_id",
        S.hyperplane_bucket(F.col("embedding"), _DIM).alias("bucket"),
        "embedding",
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), "bucket", F.col("embedding").alias("_ea")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), "bucket", F.col("embedding").alias("_eb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(S.cosine(F.col("_ea"), F.col("_eb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _TAU)
    )


def test_incremental_equals_batch_across_two_appends(spark, store_dir):
    """Bootstrap with part A, probe+commit batch B, probe+commit batch
    C. The union of (batch pairs within A) + (probe B) + (probe C) must
    equal the full-corpus batch pairs — daily incremental semantic
    dedup finds exactly what a from-scratch rerun would, and the two
    appends maintained the index correctly."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    part = F.pmod(F.col("vec_id"), F.lit(3))
    a_vecs = emb.filter(part == 0)
    b_vecs = emb.filter(part == 1)
    c_vecs = emb.filter(part == 2)

    V.vector_store_init(a_vecs, store_dir, dim=_DIM)
    v1 = current_version(store_dir)
    got = _pairs(_batch_bucketed_pairs(a_vecs))
    got |= _pairs(
        V.incremental_cosine_pairs(
            spark, b_vecs, store_dir, dim=_DIM, tau=_TAU, commit=True
        )
    )
    assert current_version(store_dir) == v1 + 1  # B's rows admitted
    got |= _pairs(
        V.incremental_cosine_pairs(
            spark, c_vecs, store_dir, dim=_DIM, tau=_TAU, commit=True
        )
    )
    assert current_version(store_dir) == v1 + 2

    want = _pairs(_batch_bucketed_pairs(emb))
    assert got == want
    assert len(want) > 0

    # the maintained index is exactly the full corpus's bucket rows
    full = {
        (r.vec_id, r.bucket)
        for r in V.bucket_rows_for(emb, _DIM).collect()
    }
    stored = {
        (r.vec_id, r.bucket)
        for r in snapshot_read(spark, store_dir).collect()
    }
    assert stored == full


def test_bloom_prefilter_changes_nothing(spark, store_dir):
    """use_bloom=False must yield the identical pair set (the bloom is
    a pure map-side store prefilter: false positives reach the exact
    join, false negatives are impossible)."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    V.vector_store_init(emb.filter(~delta_flag), store_dir, dim=_DIM)
    with_bloom = _pairs(
        V.incremental_cosine_pairs(
            spark, emb.filter(delta_flag), store_dir, dim=_DIM, tau=_TAU,
            commit=False,
        )
    )
    without = _pairs(
        V.incremental_cosine_pairs(
            spark, emb.filter(delta_flag), store_dir, dim=_DIM, tau=_TAU,
            commit=False, use_bloom=False,
        )
    )
    assert with_bloom == without
    assert len(with_bloom) > 0


def test_planes_dial_mismatch_refused(spark, store_dir):
    """A probe under a different planes dial than the store was built
    with must fail loudly — bucket ids are not comparable across
    dials."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    V.vector_store_init(
        emb.filter(~delta_flag), store_dir, dim=_DIM, n_planes=4
    )
    old = S.N_HYPERPLANES
    S.N_HYPERPLANES = 8
    try:
        with pytest.raises(ValueError, match="planes"):
            V.incremental_cosine_pairs(
                spark, emb.filter(delta_flag), store_dir, dim=_DIM, tau=_TAU
            )
    finally:
        S.N_HYPERPLANES = old


# --- randomized probe-equivalence property -------------------------------

from decimal import ROUND_HALF_UP, Decimal  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PDIM = 4
# non-zero integer vectors: real embeddings are unit-ish and never
# all-zero (zero norm makes cosine undefined on every engine)
_vec = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=_PDIM, max_size=_PDIM
).filter(lambda v: any(x != 0 for x in v))


def _py_bucket(v):
    b = 0
    for p in range(S.N_HYPERPLANES):
        d = sum(
            float(x) * S.hyperplane_component(p, i + 1)
            for i, x in enumerate(v)
        )
        if d > 0:
            b |= 1 << p
    return b


def _py_cos6(a, b):
    # same left-to-right float64 fold as similarity.cosine / the oracle
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    import math

    # math.sqrt is IEEE correctly-rounded like the JVM's — x**0.5 (pow)
    # is not guaranteed to be and can land an ulp off the fold Spark runs
    c = dot / (math.sqrt(na) * math.sqrt(nb))
    # Spark round(double, 6) = BigDecimal(exact double) HALF_UP
    return float(Decimal(c).quantize(Decimal("0.000001"), ROUND_HALF_UP))


@given(st.lists(_vec, min_size=3, max_size=8))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_probe_matches_brute_force(spark, vecs):
    """For ANY corpus/Δ split, the store probe must return exactly the
    brute-force same-bucket pairs touching Δ with round(cos,6) ≥ τ —
    ids and rounded values both (the fold order matches the Python
    reference bit-for-bit)."""
    import os
    import shutil
    import tempfile

    tau = 0.4
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    d = os.path.join(
        tempfile.gettempdir(), f"vecstore_prop_{os.getpid()}", "vecs"
    )
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    try:
        in_delta = lambda i: i % 2 == 0  # noqa: E731
        V.vector_store_init(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) != 0), d, dim=_PDIM
        )
        got = _pairs(
            V.incremental_cosine_pairs(
                spark,
                emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0),
                d,
                dim=_PDIM,
                tau=tau,
                commit=False,
            )
        )
        want = set()
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                if not (in_delta(i) or in_delta(j)):
                    continue
                if _py_bucket(vecs[i]) != _py_bucket(vecs[j]):
                    continue
                c = _py_cos6(vecs[i], vecs[j])
                if c >= tau:
                    want.add((i, j, c))
        assert got == want
    finally:
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_store_scan_prunes_shard_partitions(spark, store_dir):
    """The store persists Hive-partitioned on _shard, so the probe's
    bounded shard IN-list must land as PartitionFilters — directory
    listing-level pruning, not a post-scan filter."""
    import contextlib
    import io

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    V.vector_store_init(emb, store_dir, dim=_DIM)
    pruned = snapshot_read(spark, store_dir).filter(
        F.col("_shard").isin([1, 2])
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "_shard" in plan, plan
    # the partition filter must not degrade into a data filter only
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "_shard" in pf.group(1), plan
    # and the pruned read returns exactly the matching rows
    want = {
        r.vec_id
        for r in V.bucket_rows_for(emb, _DIM).collect()
        if r._shard in (1, 2)
    }
    assert {r.vec_id for r in pruned.collect()} == want


def test_mixed_layout_append_refused(spark, store_dir):
    """An append whose partition_by differs from the table's layout
    must be refused — mixed layouts read the partition column as NULL
    for the other directories."""
    from bike_data_flow_spark.operators.snapshots import snapshot_write

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    V.vector_store_init(emb.filter(F.col("vec_id") < 100), store_dir, dim=_DIM)
    rows = V.bucket_rows_for(emb.filter(F.col("vec_id") >= 100), _DIM)
    with pytest.raises(ValueError, match="partition_by"):
        snapshot_write(rows, store_dir, mode="append")  # layout omitted


def test_dim_mismatch_refused(spark, store_dir):
    """ADVICE r8: a probe under a different dim than the store was
    built with must fail as loudly as a planes mismatch — a different
    dim projects through different hyperplane components and silently
    drops real collisions otherwise."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    V.vector_store_init(emb.filter(~delta_flag), store_dir, dim=_DIM)
    with pytest.raises(ValueError, match="dim"):
        V.incremental_cosine_pairs(
            spark, emb.filter(delta_flag), store_dir, dim=_DIM - 1, tau=_TAU
        )


def test_compact_then_probe_and_append(spark, store_dir):
    """VERDICT r8 #1 repro: vector_store_init → probe+commit →
    snapshot_compact → probe AND partitioned append must both succeed,
    with identical probe results — compaction must not discard the
    manifest's dim/planes meta or the _shard layout."""
    from bike_data_flow_spark.operators.snapshots import (
        _read_manifest,
        snapshot_compact,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    part = F.pmod(F.col("vec_id"), F.lit(3))
    V.vector_store_init(emb.filter(part == 0), store_dir, dim=_DIM)
    V.incremental_cosine_pairs(
        spark, emb.filter(part == 1), store_dir, dim=_DIM, tau=_TAU,
        commit=True,
    ).collect()
    probe = lambda: _pairs(  # noqa: E731
        V.incremental_cosine_pairs(
            spark, emb.filter(part == 2), store_dir, dim=_DIM, tau=_TAU,
            commit=False,
        )
    )
    before = probe()

    v = snapshot_compact(spark, store_dir)
    m = _read_manifest(store_dir, v)
    assert m["meta"].get("planes") is not None  # dial survived
    assert m["meta"].get("dim") == _DIM
    assert m["partition_by"] == ["_shard"]  # layout survived
    assert len(m["dirs"]) == 1  # multi-append union collapsed

    assert probe() == before  # probe identical post-compaction
    # and the partitioned append (admission) still lands
    V.incremental_cosine_pairs(
        spark, emb.filter(part == 2), store_dir, dim=_DIM, tau=_TAU,
        commit=True,
    ).collect()
    full = {
        (r.vec_id, r.bucket) for r in V.bucket_rows_for(emb, _DIM).collect()
    }
    stored = {
        (r.vec_id, r.bucket)
        for r in snapshot_read(spark, store_dir).collect()
    }
    assert stored == full


def test_empty_delta_commit_is_a_noop(spark, store_dir):
    """An empty daily batch must neither brick the store (the fileless
    partitioned dir of ADVICE r8) nor bump the version."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    V.vector_store_init(emb, store_dir, dim=_DIM)
    v = current_version(store_dir)
    got = V.incremental_cosine_pairs(
        spark,
        emb.filter(F.lit(False)),
        store_dir,
        dim=_DIM,
        tau=_TAU,
        commit=True,
    )
    assert got.count() == 0
    assert current_version(store_dir) == v  # no version bump
    assert snapshot_read(spark, store_dir).count() == emb.count()  # readable


def test_shard_dial_migration_safe(spark, store_dir, monkeypatch):
    """A store built under one VECSTORE_SHARDS dial must keep probing
    and admitting correctly after the dial moves: shard values derive
    from the manifest-recorded modulus, never the current global."""
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    part = F.pmod(F.col("vec_id"), F.lit(3))
    V.vector_store_init(emb.filter(part == 0), store_dir, dim=_DIM)
    assert shard_count(store_dir) == 64

    monkeypatch.setattr(V, "VECSTORE_SHARDS", 5)  # dial moves
    want = _pairs(
        V.incremental_cosine_pairs(
            spark, emb.filter(part == 1), store_dir, dim=_DIM, tau=_TAU,
            commit=False, use_bloom=False,
        )
    )
    got = _pairs(
        V.incremental_cosine_pairs(
            spark, emb.filter(part == 1), store_dir, dim=_DIM, tau=_TAU,
            commit=True,
        )
    )
    assert got == want and len(got) > 0
    # admitted rows re-sharded under the RECORDED modulus (64)
    rows = snapshot_read(spark, store_dir).select(
        "_shard",
        F.pmod(F.col("bucket"), F.lit(64)).cast("int").alias("_want"),
    )
    assert rows.filter(F.col("_shard") != F.col("_want")).count() == 0


def test_appends_keep_table_properties(spark, store_dir):
    """Every append into a store keeps its table properties: a
    snapshot-sink commit leaves the format/dim/planes/shards dials
    beside its own txn keys (so the next probe's dial check passes),
    and a fenced admission by another writer records only ITS txn keys
    — never the previous writer's."""
    from bike_data_flow_spark.operators.snapshots import latest_meta
    from bike_data_flow_spark.streaming.snapshot_sink import commit_batch

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    part = F.pmod(F.col("vec_id"), F.lit(3))
    V.vector_store_init(emb.filter(part == 0), store_dir, dim=_DIM)
    dials = {
        k: latest_meta(store_dir)[k]
        for k in ("format", "dim", "planes", "shards")
    }

    rows = V.bucket_rows_for(emb.filter(part == 1), _DIM)
    assert commit_batch(rows, 0, store_dir, "sink-app") is True
    assert latest_meta(store_dir) == {
        **dials, "txn_app_id": "sink-app", "txn_version": 0,
    }
    V.validate_store_dials(store_dir, _DIM)

    v = current_version(store_dir)
    delta = V.bucket_rows_for(emb.filter(part == 2), _DIM).localCheckpoint()
    assert V.admit_vector_delta(spark, delta, store_dir, ("probe-app", 5)) == v + 1
    assert latest_meta(store_dir) == {
        **dials, "txn_app_id": "probe-app", "txn_version": 5,
    }
    # the replay of that admission is fenced: no new version
    assert V.admit_vector_delta(spark, delta, store_dir, ("probe-app", 5)) is None
    assert current_version(store_dir) == v + 1
    assert snapshot_read(spark, store_dir).count() == emb.count()


@pytest.mark.parametrize("kind", ["sig", "vec"])
def test_store_not_built_by_init_refused(spark, store_dir, tmp_path, kind):
    """Both stores are built only by their init, which records the
    shard count (and, for the signature store, the sibling bloom): a
    table written in the row format by a raw snapshot write is refused
    by the probe and by the admission, and commits nothing. A path with
    no table at all fails the vector store's dial check."""
    from bike_data_flow_spark.operators.snapshots import snapshot_write

    if kind == "sig":
        docs = load(spark, "/root/testdata/sf0.001", "documents")
        rows = G.band_keys_for(docs)
        part = F.pmod(F.col("doc_id"), F.lit(4)) == 0

        def probe(d):
            return G.probe_store_pairs(spark, d, store_dir)

        def admit(d):
            return G.admit_delta(spark, d, store_dir)
    else:
        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        rows = V.bucket_rows_for(emb, _DIM)
        part = F.pmod(F.col("vec_id"), F.lit(4)) == 0

        def probe(d):
            return V.probe_vector_pairs(spark, d, store_dir, _TAU)

        def admit(d):
            return V.admit_vector_delta(spark, d, store_dir)

    snapshot_write(rows.filter(~part), store_dir, mode="overwrite")
    delta = rows.filter(part).localCheckpoint()
    with pytest.raises(ValueError):
        probe(delta)
    with pytest.raises(ValueError):
        admit(delta)
    assert current_version(store_dir) == 1
    with pytest.raises(ValueError):
        V.validate_store_dials(str(tmp_path / "no_table"), _DIM)
