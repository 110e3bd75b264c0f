"""Incremental dedup signature store (operators/sigstore.py): probe
results must equal the batch operator's pairs restricted to the batch,
and the store must stay correct across consecutive appends."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bike_data_flow_spark.operators import dedup as D
from bike_data_flow_spark.operators import sigstore as G
from bike_data_flow_spark.operators.shards import shard_count
from bike_data_flow_spark.operators.snapshots import (
    current_version,
    snapshot_read,
)
from bike_data_flow_spark.tables import load


@pytest.fixture()
def store_dir():
    d = os.path.join(
        tempfile.gettempdir(), f"sigstore_test_{os.getpid()}", "sigs"
    )
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    yield d
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_incremental_equals_batch_across_two_appends(spark, store_dir):
    """Bootstrap with part A, probe+commit batch B, probe+commit batch
    C. The union of (batch pairs within A) + (probe B) + (probe C) must
    equal the full-corpus batch candidates — i.e. daily incremental
    dedup finds exactly the pairs a from-scratch rerun would, and the
    two appends maintained the store correctly."""
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    a_docs = docs.filter(part == 0)
    b_docs = docs.filter(part == 1)
    c_docs = docs.filter(part == 2)

    G.signature_store_init(a_docs, store_dir)
    v1 = current_version(store_dir)
    got = _pairs(D.minhash_lsh_candidates(a_docs))
    got |= _pairs(
        G.incremental_lsh_pairs(spark, b_docs, store_dir, commit=True)
    )
    assert current_version(store_dir) == v1 + 1  # B's keys admitted
    got |= _pairs(
        G.incremental_lsh_pairs(spark, c_docs, store_dir, commit=True)
    )
    assert current_version(store_dir) == v1 + 2

    want = _pairs(D.minhash_lsh_candidates(docs))
    assert got == want
    assert len(want) > 0

    # the maintained store is exactly the full corpus's band keys
    full_keys = {
        tuple(r) for r in G.band_keys_for(docs).collect()
    }
    stored = {tuple(r) for r in snapshot_read(spark, store_dir).collect()}
    assert stored == full_keys


def test_bloom_prefilter_changes_nothing(spark, store_dir):
    """use_bloom=False must yield the identical pair set (the bloom is
    a pure map-side prefilter: false positives reach the exact join,
    false negatives are impossible)."""
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    G.signature_store_init(docs.filter(~delta_flag), store_dir)
    with_bloom = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(delta_flag), store_dir, commit=False
        )
    )
    without = _pairs(
        G.incremental_lsh_pairs(
            spark,
            docs.filter(delta_flag),
            store_dir,
            commit=False,
            use_bloom=False,
        )
    )
    assert with_bloom == without
    assert len(with_bloom) > 0


def test_persisted_bloom_stays_equal_to_from_scratch(spark, store_dir):
    """The OR-maintained bloom bitmap must stay EXACTLY equal to one
    built from scratch over the full store after every append (bitmap
    of a union = bitwise OR of the bitmaps), and a probe reading the
    persisted bloom must match the store-scanning spelling."""
    from bike_data_flow_spark.operators.bloom import bloom_build
    from bike_data_flow_spark.operators.sigstore import (
        _bloom_table,
        _combine,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 1), store_dir, commit=True
    ).collect()
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 2), store_dir, commit=True
    ).collect()

    stored = snapshot_read(spark, _bloom_table(store_dir)).first()["bloom"]
    scratch = bloom_build(
        snapshot_read(spark, store_dir).select(_combine()), F.col("_bk_comb")
    ).first()["bloom"]
    assert list(stored) == list(scratch)
    assert any(w != 0 for w in stored)


def test_store_scan_prunes_shard_partitions(spark, store_dir):
    """VERDICT r9 ask #5: the band-key store persists Hive-partitioned
    on _shard, so a bounded shard IN-list must land as PartitionFilters
    — directory-listing-level pruning, symmetric to the vector index
    (test_vecstore.py)."""
    import re

    from tools.plans import explain

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    G.signature_store_init(docs, store_dir)
    pruned = snapshot_read(spark, store_dir).filter(
        F.col("_shard").isin([1, 2, 3])
    )
    plan = explain(pruned)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "_shard" in pf.group(1), plan
    # and the pruned read returns exactly the matching rows
    want = {
        (r.doc_id, r.band, r.band_key)
        for r in G.band_keys_for(docs).collect()
        if r._shard in (1, 2, 3)
    }
    got = {(r.doc_id, r.band, r.band_key) for r in pruned.collect()}
    assert got == want and len(want) > 0


def test_concurrent_bloom_merge_loses_no_bits(spark, store_dir, monkeypatch):
    """ADVICE r8: the persisted-bloom commit must be a CAS, not an
    uncoordinated read-modify-write. Simulate the race deterministically
    — a competitor's merge lands between our read and our publish — and
    assert the final bitmap is the OR of EVERY delta (the pre-fix
    overwrite dropped the competitor's bits: permanent false negatives)."""
    from bike_data_flow_spark.operators import snapshots as S
    from bike_data_flow_spark.operators.bloom import bloom_build

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    bloom_dir = G._bloom_table(store_dir)

    # the competitor's delta (never appended to the store — only its
    # bloom merge lands, mid-flight through OUR commit)
    d2_bloom = bloom_build(
        G.band_keys_for(docs.filter(part == 2)).select(G._combine()),
        F.col("_bk_comb"),
    ).localCheckpoint()

    real_write = S.snapshot_write
    raced = {"n": 0}

    def racing_write(df, table_dir, **kw):
        if table_dir == bloom_dir and kw.get("expected_version") and not raced["n"]:
            raced["n"] += 1
            # competitor: read-merge-publish AFTER our read, BEFORE our
            # publish — the classic lost-update interleaving
            merged = G._or_blooms(S.snapshot_read(spark, bloom_dir), d2_bloom)
            real_write(merged, bloom_dir, mode="overwrite", meta={})
        return real_write(df, table_dir, **kw)

    monkeypatch.setattr(G, "snapshot_write", racing_write)
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 1), store_dir, commit=True
    ).collect()
    monkeypatch.setattr(G, "snapshot_write", real_write)
    assert raced["n"] == 1  # the race actually happened

    final = snapshot_read(spark, bloom_dir).first()["bloom"]
    scratch = bloom_build(
        snapshot_read(spark, store_dir).select(G._combine()),
        F.col("_bk_comb"),
    ).first()["bloom"]
    d2 = d2_bloom.first()["bloom"]
    want = [a | b for a, b in zip(scratch, d2)]
    assert list(final) == want  # no delta's bits were lost


def test_rebuild_resets_sibling_bloom(spark, store_dir):
    """Lifecycle invariant (VERDICT r9 ask #4): a store REBUILD through
    signature_store_init must reset the sibling bloom to cover exactly
    the new corpus — a stale superset bloom would otherwise grow
    (monotonically less selective) forever."""
    from bike_data_flow_spark.operators.bloom import bloom_build

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs, store_dir)  # big corpus
    G.signature_store_init(docs.filter(part == 0), store_dir)  # REBUILD small

    stored = snapshot_read(spark, G._bloom_table(store_dir)).first()["bloom"]
    scratch = bloom_build(
        snapshot_read(spark, store_dir).select(G._combine()),
        F.col("_bk_comb"),
    ).first()["bloom"]
    assert list(stored) == list(scratch)  # exactly the new corpus, no more


def test_expire_leaves_probe_results_unchanged(spark, store_dir):
    """Lifecycle invariant (VERDICT r9 ask #4): expire_snapshots on the
    MAIN store does not touch the sibling bloom — and must not: the
    bloom stays a superset of the retained keys, so probes are
    unchanged (extra bits err toward false positives the exact join
    absorbs)."""
    from bike_data_flow_spark.operators.snapshots import expire_snapshots

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(4))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 1), store_dir, commit=True
    ).collect()
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 2), store_dir, commit=True
    ).collect()
    probe = lambda: _pairs(  # noqa: E731
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 3), store_dir, commit=False
        )
    )
    before = probe()
    bloom_v = current_version(G._bloom_table(store_dir))
    expire_snapshots(store_dir, keep_last=1)
    assert current_version(G._bloom_table(store_dir)) == bloom_v  # untouched
    assert probe() == before
    assert len(before) > 0


def test_compact_then_probe_and_append(spark, store_dir):
    """snapshot_compact on the SHARDED band-key store must round-trip
    its meta and layout: probe results identical, bloom consistency
    maintained, and the post-compaction append (admission) accepted."""
    from bike_data_flow_spark.operators.bloom import bloom_build
    from bike_data_flow_spark.operators.snapshots import (
        _read_manifest,
        snapshot_compact,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 1), store_dir, commit=True
    ).collect()
    probe = lambda: _pairs(  # noqa: E731
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 2), store_dir, commit=False
        )
    )
    before = probe()

    v = snapshot_compact(spark, store_dir)
    m = _read_manifest(store_dir, v)
    assert m["meta"].get("format") == "minhash_band_keys"  # meta survived
    assert m["partition_by"] == ["_shard"]  # layout survived
    assert len(m["dirs"]) == 1  # union collapsed

    assert probe() == before and len(before) > 0
    # admission still lands, and the bloom stays bit-equal to scratch
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 2), store_dir, commit=True
    ).collect()
    stored = snapshot_read(spark, G._bloom_table(store_dir)).first()["bloom"]
    scratch = bloom_build(
        snapshot_read(spark, store_dir).select(G._combine()),
        F.col("_bk_comb"),
    ).first()["bloom"]
    assert list(stored) == list(scratch)


def test_expire_store_prunes_both_tables_probe_unchanged(spark, store_dir):
    """expire_store retires old manifests of BOTH the store and its
    bloom sibling coherently; probes are unchanged (the retained bloom
    is a superset — false positives only)."""
    from bike_data_flow_spark.operators.snapshots import snapshot_history

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(4))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 1), store_dir, commit=True
    ).collect()
    G.incremental_lsh_pairs(
        spark, docs.filter(part == 2), store_dir, commit=True
    ).collect()
    probe = lambda: _pairs(  # noqa: E731
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 3), store_dir, commit=False
        )
    )
    before = probe()

    expired = G.expire_store(store_dir, keep_last=1)
    assert expired["store"] == [1, 2]
    assert expired["bloom"] == [1, 2]  # init + first admission retired
    assert len(snapshot_history(store_dir)) == 1
    assert len(snapshot_history(G._bloom_table(store_dir))) == 1
    assert probe() == before and len(before) > 0


def test_shard_dial_migration_safe(spark, store_dir, monkeypatch):
    """A store built under one SIGSTORE_SHARDS dial must keep probing
    and admitting correctly after the dial moves: shard values derive
    from the manifest-recorded modulus, never the current global."""
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)  # dial=32
    assert shard_count(store_dir) == 32

    monkeypatch.setattr(G, "SIGSTORE_SHARDS", 7)  # dial moves
    want = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 1), store_dir, commit=False,
            use_bloom=False,
        )
    )
    got = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 1), store_dir, commit=True
        )
    )
    assert got == want and len(got) > 0
    # the admitted rows were re-sharded under the RECORDED modulus —
    # every stored _shard is consistent with pmod(combined, 32)
    rows = snapshot_read(spark, store_dir).select(
        "_shard",
        F.pmod(
            F.col("band_key") * F.lit(G.MINHASH_BANDS) + F.col("band"),
            F.lit(32),
        ).cast("int").alias("_want"),
    )
    assert rows.filter(F.col("_shard") != F.col("_want")).count() == 0
    # and a probe AFTER the mixed-dial admission still reconciles
    probe2 = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 2), store_dir, commit=False
        )
    )
    probe2_ref = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 2), store_dir, commit=False,
            use_bloom=False,
        )
    )
    assert probe2 == probe2_ref


def test_bloom_geometry_dial_recorded_and_migration_safe(
    spark, store_dir, monkeypatch
):
    """The bloom's (bits, k) are a RECORDED property: a tiny-dial bloom
    still yields exactly the bloomless pair set (FP-only contract at
    any saturation), saturation is measurable and rises with load, and
    admissions AFTER the global dial moves still OR-merge under the
    recorded geometry (bitmap length unchanged, bit-equal to a
    from-scratch build at that geometry)."""
    from bike_data_flow_spark.operators.bloom import bloom_build

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    monkeypatch.setattr(G, "SIGSTORE_BLOOM_BITS", 1 << 12)  # tiny: saturates
    G.signature_store_init(docs.filter(part == 0), store_dir)
    assert G.bloom_geometry(store_dir) == (1 << 12, 4)
    sat0 = G.bloom_saturation(spark, store_dir)
    assert 0.0 < sat0 <= 1.0

    # probes stay EXACT at any saturation (bloom is FP-only)
    monkeypatch.setattr(G, "SIGSTORE_BLOOM_BITS", 1 << 21)  # dial moves
    want = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 1), store_dir, commit=False,
            use_bloom=False,
        )
    )
    got = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 1), store_dir, commit=True
        )
    )
    assert got == want and len(got) > 0

    # the merge ran under the RECORDED tiny geometry, not the new dial
    stored = snapshot_read(spark, G._bloom_table(store_dir)).first()["bloom"]
    assert len(stored) == (1 << 12) // 64  # bitmap length unchanged
    scratch = bloom_build(
        snapshot_read(spark, store_dir).select(G._combine()),
        F.col("_bk_comb"),
        num_bits=1 << 12,
        k=4,
    ).first()["bloom"]
    assert list(stored) == list(scratch)
    assert G.bloom_geometry(store_dir) == (1 << 12, 4)  # props carried
    assert G.bloom_saturation(spark, store_dir) >= sat0  # monotone


def test_fused_admission_bloom_commits_before_store_pointer(
    spark, store_dir, monkeypatch
):
    """r13 fuses each admission's bloom CAS with the append's data
    write (the CAS runs on a driver thread; the append's manifest
    publish gates on it). The bloom-never-lags invariant is a
    VISIBILITY order: the bloom table's pointer must flip before the
    store table's pointer — pin it by recording every pointer write."""
    from bike_data_flow_spark.operators import snapshots as S

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)

    order = []
    real = S._write_pointer

    def spy(table_dir, version):
        order.append((os.path.basename(table_dir), version))
        return real(table_dir, version)

    monkeypatch.setattr(S, "_write_pointer", spy)
    delta = G.band_keys_for(docs.filter(part == 1)).localCheckpoint()
    v = G.admit_delta(spark, delta, store_dir)
    assert v == 2
    names = [n for n, _ in order]
    assert names.index("sigs_bloom") < names.index("sigs"), order


def test_fused_admission_bloom_failure_leaves_store_invisible(
    spark, store_dir, monkeypatch
):
    """If the bloom CAS fails, the gated append must be abandoned
    BEFORE any store metadata exists: pointer unchanged, reads
    unchanged — an append that became visible with a lagging bloom
    would silently drop candidates via bloom false negatives forever."""
    from bike_data_flow_spark.operators.snapshots import (
        SnapshotConflictError,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    v0 = current_version(store_dir)
    rows0 = snapshot_read(spark, store_dir).count()

    def boom(*a, **kw):
        raise SnapshotConflictError("injected bloom CAS failure")

    monkeypatch.setattr(G, "_commit_bloom_merge", boom)
    delta = G.band_keys_for(docs.filter(part == 1)).localCheckpoint()
    with pytest.raises(SnapshotConflictError, match="injected"):
        G.admit_delta(spark, delta, store_dir)
    assert current_version(store_dir) == v0
    assert snapshot_read(spark, store_dir).count() == rows0

    # recovery: the same Δ admits cleanly afterwards (no orphan state
    # interferes) and the store holds exactly one copy of part0+part1
    monkeypatch.undo()
    v = G.admit_delta(spark, delta, store_dir)
    assert v == v0 + 1
    stored = {
        tuple(r)
        for r in snapshot_read(spark, store_dir)
        .select("doc_id", "band", "band_key")
        .collect()
    }
    want_keys = {
        tuple(r)
        for r in G.band_keys_for(docs.filter(part != 2))
        .select("doc_id", "band", "band_key")
        .collect()
    }
    assert stored == want_keys


def test_fused_admission_store_publish_crash_is_recoverable(
    spark, store_dir, monkeypatch
):
    """Crash AFTER the bloom commit but BEFORE the store publish (the
    new overlap window = the old serial order's between-commits
    window): the bloom carries extra bits (false positives only —
    absorbed by the exact join), the store is unchanged, and the
    retried admission lands exactly one copy of Δ."""
    from bike_data_flow_spark.operators import snapshots as S

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    G.signature_store_init(docs.filter(part == 0), store_dir)
    v0 = current_version(store_dir)
    bloom_v0 = current_version(G._bloom_table(store_dir))

    real = S._publish_manifest

    def crash_store_publish(table_dir, version, manifest):
        if os.path.basename(table_dir) == "sigs":
            raise RuntimeError("injected crash before store publish")
        return real(table_dir, version, manifest)

    monkeypatch.setattr(S, "_publish_manifest", crash_store_publish)
    delta = G.band_keys_for(docs.filter(part == 1)).localCheckpoint()
    with pytest.raises(RuntimeError, match="injected crash"):
        G.admit_delta(spark, delta, store_dir)
    monkeypatch.undo()

    # bloom committed (extra bits — never false negatives), store not
    assert current_version(G._bloom_table(store_dir)) == bloom_v0 + 1
    assert current_version(store_dir) == v0

    # retry: store lands exactly one copy; full probe parity holds
    v = G.admit_delta(spark, delta, store_dir)
    assert v == v0 + 1
    stored = {
        tuple(r)
        for r in snapshot_read(spark, store_dir)
        .select("doc_id", "band", "band_key")
        .collect()
    }
    want_keys = {
        tuple(r)
        for r in G.band_keys_for(docs.filter(part != 2))
        .select("doc_id", "band", "band_key")
        .collect()
    }
    assert stored == want_keys
    got = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 2), store_dir, commit=False
        )
    )
    want = _pairs(
        G.incremental_lsh_pairs(
            spark, docs.filter(part == 2), store_dir, commit=False,
            use_bloom=False,
        )
    )
    assert got == want
