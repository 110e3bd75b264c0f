"""foreachBatch store probe (streaming/store_probe.py): per-batch
probe equals the batch operator's Δ×store arm, admissions are picked
up live by the next batch, and replayed batches admit exactly once."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bike_data_flow_spark.operators import sigstore as G
from bike_data_flow_spark.operators.snapshots import (
    current_version,
    snapshot_read,
)
from bike_data_flow_spark.streaming.store_probe import (
    probe_batch,
    stream_store_probe,
)
from bike_data_flow_spark.tables import load

from .conftest import pinned

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def dirs():
    base = os.path.join(tempfile.gettempdir(), f"store_probe_test_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    yield {
        "store": os.path.join(base, "store"),
        "pairs": os.path.join(base, "pairs"),
        "ckpt": os.path.join(base, "ckpt"),
    }
    shutil.rmtree(base, ignore_errors=True)


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _out_pairs(spark, out_dir, batch_id=None):
    df = spark.read.parquet(out_dir)
    if batch_id is not None:
        df = df.filter(F.col("_batch_id") == batch_id)
    return _pairs(df.select("id_a", "id_b"))


def test_probe_batch_admission_loop_and_replay_fence(spark, dirs):
    """Drive the per-batch function directly: batch 0 probes store A
    and admits; batch 1 must see batch 0's admission LIVE (store
    re-resolved per batch); a REPLAY of batch 1 overwrites its own
    pairs partition with identical rows (idempotent sink) and admits
    nothing (txn fence)."""
    docs = load(spark, SF, "documents")
    part = F.pmod(F.col("doc_id"), F.lit(3))
    a, b1, b2 = (docs.filter(part == i) for i in range(3))
    G.signature_store_init(a, dirs["store"])

    want_b1 = _pairs(
        G.incremental_lsh_pairs(
            spark, b1, dirs["store"], commit=False, include_within=False
        )
    )
    probe_batch(b1, 0, dirs["store"], dirs["pairs"], admit=True, app_id="w")
    assert _out_pairs(spark, dirs["pairs"], 0) == want_b1
    v_after_b1 = current_version(dirs["store"])

    # batch 1's expectation is computed against the UPDATED store —
    # matching proves the probe re-resolves the store per batch
    want_b2 = _pairs(
        G.incremental_lsh_pairs(
            spark, b2, dirs["store"], commit=False, include_within=False
        )
    )
    probe_batch(b2, 1, dirs["store"], dirs["pairs"], admit=True, app_id="w")
    assert _out_pairs(spark, dirs["pairs"], 1) == want_b2
    assert want_b2 - want_b1, "b2 must collide with b1's admitted docs too"
    v_after_b2 = current_version(dirs["store"])
    assert v_after_b2 == v_after_b1 + 1

    # REPLAY batch 1 (engine at-least-once): no second admission, and
    # the pairs partition is overwritten in place — no duplicate rows
    probe_batch(b2, 1, dirs["store"], dirs["pairs"], admit=True, app_id="w")
    assert current_version(dirs["store"]) == v_after_b2  # fence held
    assert _out_pairs(spark, dirs["pairs"], 1) == want_b2
    n_b1 = (
        spark.read.parquet(dirs["pairs"])
        .filter(F.col("_batch_id") == 1)
        .count()
    )
    assert n_b1 == len(want_b2)

    # the maintained store is exactly the full corpus's band keys, and
    # the persisted bloom stays bit-equal to a from-scratch build
    from bike_data_flow_spark.operators.bloom import bloom_build

    full = {
        (r.doc_id, r.band, r.band_key) for r in G.band_keys_for(docs).collect()
    }
    stored = {
        (r.doc_id, r.band, r.band_key)
        for r in snapshot_read(spark, dirs["store"]).collect()
    }
    assert stored == full
    got_bloom = snapshot_read(spark, G._bloom_table(dirs["store"])).first()[
        "bloom"
    ]
    scratch = bloom_build(
        snapshot_read(spark, dirs["store"]).select(G._combine()),
        F.col("_bk_comb"),
    ).first()["bloom"]
    assert list(got_bloom) == list(scratch)


def test_stream_equivalence_with_stream_static_spelling(spark, dirs):
    """The real streaming engine driving the foreachBatch probe must
    emit exactly the Δ×store pairs the batch operator (and therefore
    the stream-static gate query) finds for the same split."""
    docs = load(spark, SF, "documents")
    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    G.signature_store_init(docs.filter(~delta_flag), dirs["store"])
    want = _pairs(
        G.incremental_lsh_pairs(
            spark,
            docs.filter(delta_flag),
            dirs["store"],
            commit=False,
            include_within=False,
        )
    )

    schema = spark.read.parquet(f"{SF}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
        .filter(delta_flag)
    )
    q = stream_store_probe(stream, dirs["store"], dirs["pairs"], dirs["ckpt"])
    q.awaitTermination(120)
    assert _out_pairs(spark, dirs["pairs"]) == want
    assert len(want) > 0
    # probe-only: the store was not touched
    assert current_version(dirs["store"]) == 1


def test_empty_batch_is_a_noop(spark, dirs):
    """An empty micro-batch writes nothing and admits nothing."""
    docs = load(spark, SF, "documents")
    G.signature_store_init(docs, dirs["store"])
    probe_batch(
        docs.filter(F.lit(False)), 0, dirs["store"], dirs["pairs"],
        admit=True, app_id="w",
    )
    assert not os.path.exists(dirs["pairs"])  # no sink write at all
    assert current_version(dirs["store"]) == 1


# ---- embedding twin (stream_vector_probe) --------------------------------

_DIM = 64
_TAU = 0.4


def test_vector_probe_batch_admission_and_replay_fence(spark, dirs):
    """The vector twin: batch 0 probes index A and admits; batch 1 sees
    the admission live; replay admits nothing; maintained index equals
    the full corpus's bucket rows."""
    from bike_data_flow_spark.operators import vecstore as V
    from bike_data_flow_spark.streaming.store_probe import vector_probe_batch

    emb = load(spark, SF, "embeddings")
    part = F.pmod(F.col("vec_id"), F.lit(3))
    a, b1, b2 = (emb.filter(part == i) for i in range(3))
    V.vector_store_init(a, dirs["store"], dim=_DIM)

    def _want(batch):
        return {
            (r.id_a, r.id_b, r.cos_sim)
            for r in V.incremental_cosine_pairs(
                spark, batch, dirs["store"], dim=_DIM, tau=_TAU,
                commit=False, include_within=False,
            ).collect()
        }

    def _got(batch_id):
        df = spark.read.parquet(dirs["pairs"]).filter(
            F.col("_batch_id") == batch_id
        )
        return {(r.id_a, r.id_b, r.cos_sim) for r in df.collect()}

    want_b1 = _want(b1)
    vector_probe_batch(
        b1, 0, dirs["store"], dirs["pairs"], _DIM, _TAU, admit=True,
        app_id="w",
    )
    assert _got(0) == want_b1
    v1 = current_version(dirs["store"])

    want_b2 = _want(b2)  # computed against the UPDATED store
    vector_probe_batch(
        b2, 1, dirs["store"], dirs["pairs"], _DIM, _TAU, admit=True,
        app_id="w",
    )
    assert _got(1) == want_b2
    v2 = current_version(dirs["store"])
    assert v2 == v1 + 1

    vector_probe_batch(  # replay: fence must hold
        b2, 1, dirs["store"], dirs["pairs"], _DIM, _TAU, admit=True,
        app_id="w",
    )
    assert current_version(dirs["store"]) == v2

    from bike_data_flow_spark.operators.vecstore import bucket_rows_for

    full = {(r.vec_id, r.bucket) for r in bucket_rows_for(emb, _DIM).collect()}
    stored = {
        (r.vec_id, r.bucket)
        for r in snapshot_read(spark, dirs["store"]).collect()
    }
    assert stored == full


def test_vector_stream_equivalence(spark, dirs):
    """The real streaming engine driving the vector probe must emit
    exactly the batch operator's Δ×store arm for the same split."""
    from bike_data_flow_spark.operators import vecstore as V
    from bike_data_flow_spark.streaming.store_probe import stream_vector_probe

    emb = load(spark, SF, "embeddings")
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    V.vector_store_init(emb.filter(~delta_flag), dirs["store"], dim=_DIM)
    want = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in V.incremental_cosine_pairs(
            spark, emb.filter(delta_flag), dirs["store"], dim=_DIM,
            tau=_TAU, commit=False, include_within=False,
        ).collect()
    }

    schema = spark.read.parquet(f"{SF}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(SF)
        .filter(delta_flag)
    )
    q = stream_vector_probe(
        stream, dirs["store"], dirs["pairs"], dirs["ckpt"], dim=_DIM,
        tau=_TAU,
    )
    q.awaitTermination(120)
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in spark.read.parquet(dirs["pairs"])
        .select("id_a", "id_b", "cos_sim")
        .collect()
    }
    assert got == want and len(want) > 0
    assert current_version(dirs["store"]) == 1  # probe-only


# --- the composed incremental curation funnel (curation_batch) ---------------

_BASE_A = (
    "the quick brown fox jumps over the lazy dog while the river "
    "flows gently past the old stone mill near the quiet village green"
)
_BASE_D = (
    "every morning the baker kneads fresh dough and the oven warms "
    "the little shop before sunrise brings hungry customers inside"
)
_BASE_F = (
    "seven sailors charted unknown waters guided by constellations "
    "and patient winds that carried their vessel beyond familiar maps"
)

# Crafted corpus exercising EVERY decision class; the LSH collision map
# of these texts is exactly {(2,3),(4,100),(6,7),(6,30),(20,22)} and
# the one-hot embedding axes make cosine 1.0 within an axis, 0.0
# across (τ = 0.4). Store docs: 100, 101. Batch 0: 1-22. Batch 1: 30-31.
_CUR_TEXTS = {
    100: _BASE_A + " first story ends here tonight",
    101: "tall towers of glass reflect clouds drifting over the busy "
         "harbor where cranes load heavy containers onto waiting ships",
    1: "too short text here",                       # fails quality
    2: "charlie unique tale about mountains and snow that melts in "
       "spring feeding streams and lakes below the ridge line",
    3: "charlie unique tale about mountains and snow that melts in "
       "spring feeding streams and lakes below the ridge line",  # = 2
    4: _BASE_A + " first story ends here today",    # ~ store 100
    5: "winding trails cross misty forests where hikers pause beside "
       "waterfalls to watch salmon leap against the current upstream",
    6: _BASE_F + " chapter one opens calmly tonight",
    7: _BASE_F + " chapter one opens calmly tonight okay",  # ~ 6
    8: "quiet libraries hold forgotten letters between pages of dusty "
       "books that nobody has opened since the war ended long ago",
    9: "bright meadows bloom with wildflowers as bees hum lazily "
       "between blossoms under the warm afternoon sun of late june",
    20: _BASE_D + " second story begins quietly tonight",
    21: "old lighthouses blink patiently through fog warning distant "
        "fishermen about rocks hidden beneath the churning grey waves",
    22: _BASE_D + " second story begins quietly today",  # ~ 20
    30: _BASE_F + " chapter one opens calmly this very evening",  # ~ 6
    31: "small workshops repair broken clocks whose gears and springs "
        "scatter across wooden benches waiting for careful steady hands",
}
_CUR_DIM = 16
_CUR_AXIS = {
    100: 0, 101: 1, 1: 2, 2: 3, 3: 3, 4: 4,
    5: 0,          # cosine 1.0 with STORE vector 100
    6: 5, 7: 6,
    8: 7, 9: 7,    # within-batch vec pair (8, 9)
    20: 8,
    21: 9, 22: 9,  # within-batch vec pair (21, 22)
    30: 10,
    31: 7,         # cosine 1.0 with batch-0 ADMITTED vector 8
}


# batch 0's decisions against the two-document stores {100, 101}
_CUR_BATCH0_DECISIONS = {
    1: "rejected_quality",
    2: "admitted",
    3: "rejected_exact",
    4: "rejected_near_text",
    5: "rejected_near_vec",
    6: "admitted",
    7: "rejected_within_text",
    8: "admitted",
    9: "rejected_within_vec",
    20: "admitted",
    21: "admitted",
    22: "rejected_within_text",
}


def _cur_docs(spark, ids):
    return spark.createDataFrame(
        [(i, _CUR_TEXTS[i]) for i in ids], "doc_id long, text string"
    )


def _cur_embs(spark, ids):
    rows = [
        (i, [1.0 if d == _CUR_AXIS[i] else 0.0 for d in range(_CUR_DIM)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture()
def cur_dirs():
    base = os.path.join(tempfile.gettempdir(), f"curation_batch_test_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    yield {
        "sig": os.path.join(base, "sig"),
        "vec": os.path.join(base, "vec"),
        "out": os.path.join(base, "out"),
    }
    shutil.rmtree(base, ignore_errors=True)


def test_curation_batch_every_decision_class_and_post_state(spark, cur_dirs):
    """One crafted batch hits all seven decision classes; the admitted
    set — and ONLY it — lands in both stores; two admitted docs linked
    through a rejected middleman (20—22 text edge, 21—22 vec edge)
    share a split; a replay admits nothing; the next batch sees batch
    0's admissions live (both text and vec arms)."""
    from bike_data_flow_spark.operators.dedup import MINHASH_BANDS
    from bike_data_flow_spark.operators.vecstore import vector_store_init
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.streaming.store_probe import curation_batch

    store_ids = [100, 101]
    batch0 = [1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 21, 22]
    all_ids = store_ids + batch0 + [30, 31]
    emb = _cur_embs(spark, all_ids)
    G.signature_store_init(_cur_docs(spark, store_ids), cur_dirs["sig"])
    vector_store_init(
        _cur_embs(spark, store_ids), cur_dirs["vec"], dim=_CUR_DIM
    )

    curation_batch(
        _cur_docs(spark, batch0), 0, emb,
        cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
        dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
    )
    rows = {
        r["doc_id"]: r
        for r in spark.read.parquet(cur_dirs["out"]).collect()
    }
    expected = _CUR_BATCH0_DECISIONS
    assert {i: r["decision"] for i, r in rows.items()} == expected
    # splits: present iff admitted; cluster-consistent through the
    # rejected middleman 22 (component {20, 21, 22} hashes on 20)
    for i, r in rows.items():
        assert (r["split"] is not None) == (expected[i] == "admitted")
    assert rows[20]["split"] == rows[21]["split"]

    admitted = {i for i, d in expected.items() if d == "admitted"}
    sig = snapshot_read(spark, cur_dirs["sig"])
    by_doc = {
        r["doc_id"]: r["n"]
        for r in sig.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_doc) == set(store_ids) | admitted
    assert all(n == MINHASH_BANDS for n in by_doc.values())
    vec = snapshot_read(spark, cur_dirs["vec"])
    vby = {
        r["vec_id"]: r["n"]
        for r in vec.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert vby == {i: 1 for i in set(store_ids) | admitted}

    # replay of batch 0: the idempotent sink overwrites its own
    # _batch_id partition with IDENTICAL rows (no double-append), and
    # the txn fence blocks BOTH admissions — store versions unchanged
    sv, vv = (
        current_version(cur_dirs["sig"]),
        current_version(cur_dirs["vec"]),
    )
    before = {
        (r["doc_id"], r["decision"], r["split"])
        for r in spark.read.parquet(cur_dirs["out"]).collect()
    }
    curation_batch(
        _cur_docs(spark, batch0), 0, emb,
        cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
        dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
    )
    assert current_version(cur_dirs["sig"]) == sv
    assert current_version(cur_dirs["vec"]) == vv
    assert spark.read.parquet(cur_dirs["out"]).count() == len(batch0)
    after = {
        (r["doc_id"], r["decision"], r["split"])
        for r in spark.read.parquet(cur_dirs["out"]).collect()
    }
    assert after == before

    # batch 1 probes the POST-batch-0 stores live: 30 text-collides
    # with admitted 6, 31 cosine-matches admitted 8's vector
    curation_batch(
        _cur_docs(spark, [30, 31]), 1, emb,
        cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
        dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
    )
    b1 = {
        r["doc_id"]: r["decision"]
        for r in spark.read.parquet(cur_dirs["out"])
        .filter(F.col("_batch_id") == 1)
        .collect()
    }
    assert b1 == {30: "rejected_near_text", 31: "rejected_near_vec"}


def _crash_and_replay(spark, cur_dirs, monkeypatch, fault, moved, decided):
    """Run batch 0 with a one-shot crash injected into ``fault``, check
    the partial state it leaves (``moved`` = store versions advanced),
    replay the same batch id and check both stores and the decisions
    converge on a clean run's. ``decided`` says whether the crashed
    call had already written its decisions partition."""
    import bike_data_flow_spark.streaming.store_probe as SP
    from bike_data_flow_spark.operators.dedup import MINHASH_BANDS
    from bike_data_flow_spark.operators.vecstore import vector_store_init
    from bike_data_flow_spark.queries.curation_inc import _quality_gate

    store_ids = [100, 101]
    batch0 = [1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 21, 22]
    emb = _cur_embs(spark, store_ids + batch0)
    G.signature_store_init(_cur_docs(spark, store_ids), cur_dirs["sig"])
    vector_store_init(
        _cur_embs(spark, store_ids), cur_dirs["vec"], dim=_CUR_DIM
    )
    sv0, vv0 = (
        current_version(cur_dirs["sig"]),
        current_version(cur_dirs["vec"]),
    )

    real = getattr(SP, fault)
    calls = {"n": 0}

    def crash_once(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(f"injected crash in {fault}")
        return real(*args, **kwargs)

    monkeypatch.setattr(SP, fault, crash_once)

    def run():
        SP.curation_batch(
            _cur_docs(spark, batch0), 0, emb,
            cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
            dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
        )

    def decisions():
        if not os.path.isdir(cur_dirs["out"]):
            return set()  # the fault struck before the decisions write
        return {
            (r["doc_id"], r["decision"], r["split"])
            for r in spark.read.parquet(cur_dirs["out"]).collect()
        }

    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    # the partial state the fault leaves behind
    assert current_version(cur_dirs["sig"]) == sv0 + moved[0]
    assert current_version(cur_dirs["vec"]) == vv0 + moved[1]
    crashed = decisions()

    run()  # replay of the same batch id (engine at-least-once)
    # each store admitted batch 0 exactly once across crash + replay
    assert current_version(cur_dirs["sig"]) == sv0 + 1
    assert current_version(cur_dirs["vec"]) == vv0 + 1
    assert calls["n"] == 2

    admitted = {2, 6, 8, 20, 21}
    sig_counts = {
        r["doc_id"]: r["n"]
        for r in snapshot_read(spark, cur_dirs["sig"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(sig_counts) == set(store_ids) | admitted
    assert all(n == MINHASH_BANDS for n in sig_counts.values())
    vec_counts = {
        r["vec_id"]: r["n"]
        for r in snapshot_read(spark, cur_dirs["vec"])
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert vec_counts == {i: 1 for i in set(store_ids) | admitted}
    # the replay overwrote its own decisions partition: byte-identical
    replayed = decisions()
    assert crashed == (replayed if decided else set())
    assert spark.read.parquet(cur_dirs["out"]).count() == len(batch0)
    # ... and equal to a clean run's decisions
    assert {d: dec for d, dec, _ in replayed} == _CUR_BATCH0_DECISIONS


def test_curation_batch_partial_crash_between_admissions(
    spark, cur_dirs, monkeypatch
):
    """A crash in the window BETWEEN the two fenced admissions (sig
    committed, vec not) must converge on replay — the already-committed
    store's fence skips, the other catches up, nothing double-admits,
    and the decisions output is byte-identical."""
    _crash_and_replay(
        spark, cur_dirs, monkeypatch, "admit_vector_delta",
        moved=(1, 0), decided=True,
    )


def test_curation_batch_crash_inside_overlapped_probe(
    spark, cur_dirs, monkeypatch
):
    """A fault inside the vec probe chain, while the sig chain runs
    beside it, fails the call before the decisions write and either
    admission: neither store moves, and the replay gives a clean run's
    decisions."""
    _crash_and_replay(
        spark, cur_dirs, monkeypatch, "probe_vector_pairs",
        moved=(0, 0), decided=False,
    )


def test_curation_batch_crash_in_sig_admission_beside_vec(
    spark, cur_dirs, monkeypatch
):
    """The three commits run in overlap: a fault in the sig admission
    leaves the vec admission and the decisions write beside it
    committed; the replay admits sig once and the vec fence skips."""
    _crash_and_replay(
        spark, cur_dirs, monkeypatch, "admit_delta",
        moved=(0, 1), decided=True,
    )


def test_curation_batch_crash_in_decisions_write(
    spark, cur_dirs, monkeypatch
):
    """A fault in the decisions write, with both admissions beside it:
    both stores commit, no decisions partition lands, and the replay
    writes a clean run's decisions while both fences skip."""
    _crash_and_replay(
        spark, cur_dirs, monkeypatch, "_write_batch_partition",
        moved=(1, 1), decided=False,
    )


def test_curation_batch_scopes_to_embedded_corpus(spark, cur_dirs):
    """A batch document with no embedding is outside the curation
    corpus: no decision row, no admission to either store."""
    from bike_data_flow_spark.operators.vecstore import vector_store_init
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.streaming.store_probe import curation_batch

    G.signature_store_init(_cur_docs(spark, [100, 101]), cur_dirs["sig"])
    vector_store_init(
        _cur_embs(spark, [100, 101]), cur_dirs["vec"], dim=_CUR_DIM
    )
    # 8 has an embedding; 9 is withheld from the embeddings side
    curation_batch(
        _cur_docs(spark, [8, 9]), 0, _cur_embs(spark, [100, 101, 8]),
        cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
        dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
    )
    out = spark.read.parquet(cur_dirs["out"])
    assert {r["doc_id"] for r in out.collect()} == {8}
    sig_ids = {
        r["doc_id"]
        for r in snapshot_read(spark, cur_dirs["sig"]).select("doc_id").distinct().collect()
    }
    assert sig_ids == {100, 101, 8}


def test_curation_batch_probe_only_mode_mutates_nothing(spark, cur_dirs):
    """admit=False (the monitoring / smoke-timing shape) emits the same
    decisions but leaves BOTH stores byte-identical — every rep of a
    timing loop probes the same state."""
    from bike_data_flow_spark.operators.vecstore import vector_store_init
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.streaming.store_probe import curation_batch

    G.signature_store_init(_cur_docs(spark, [100, 101]), cur_dirs["sig"])
    vector_store_init(
        _cur_embs(spark, [100, 101]), cur_dirs["vec"], dim=_CUR_DIM
    )
    sv, vv = (
        current_version(cur_dirs["sig"]),
        current_version(cur_dirs["vec"]),
    )
    batch = [4, 5, 6]
    curation_batch(
        _cur_docs(spark, batch), 0, _cur_embs(spark, [100, 101, 4, 5, 6]),
        cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
        dim=_CUR_DIM, tau=0.4, gate=_quality_gate, admit=False,
    )
    assert current_version(cur_dirs["sig"]) == sv
    assert current_version(cur_dirs["vec"]) == vv
    got = {
        r["doc_id"]: r["decision"]
        for r in spark.read.parquet(cur_dirs["out"]).collect()
    }
    assert got == {
        4: "rejected_near_text",
        5: "rejected_near_vec",
        6: "admitted",
    }


def test_curation_batches_leave_nothing_pinned(spark, cur_dirs):
    """Each micro-batch releases every pin it makes, on overlap branches
    too: after each of two consecutive curation batches the session
    holds no more cache entries and no persistent RDD it did not hold
    before the batch (the union-find components' edge cache, and the
    pair pin its plan reads, used to outlive every batch)."""
    from bike_data_flow_spark.operators.vecstore import vector_store_init
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.streaming.store_probe import curation_batch

    store_ids, batches = [100, 101], [[1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 21, 22], [30, 31]]
    emb = _cur_embs(spark, store_ids + batches[0] + batches[1])
    G.signature_store_init(_cur_docs(spark, store_ids), cur_dirs["sig"])
    vector_store_init(_cur_embs(spark, store_ids), cur_dirs["vec"], dim=_CUR_DIM)
    for batch_id, ids in enumerate(batches):
        entries, rdds = pinned(spark)
        curation_batch(
            _cur_docs(spark, ids), batch_id, emb,
            cur_dirs["sig"], cur_dirs["vec"], cur_dirs["out"],
            dim=_CUR_DIM, tau=0.4, gate=_quality_gate, app_id="test-app",
        )
        after_entries, after_rdds = pinned(spark)
        assert after_entries <= entries, (batch_id, entries, after_entries)
        assert after_rdds <= rdds, (batch_id, after_rdds - rdds)
    assert spark.read.parquet(cur_dirs["out"]).count() == sum(map(len, batches))


@pytest.mark.parametrize("kind", ["sig", "vec"])
def test_probe_batch_with_admission_leaves_nothing_pinned(spark, dirs, kind):
    """probe_batch and vector_probe_batch, admitting, release their Δ
    pin before they return: no new cache entry, no new persistent RDD."""
    from bike_data_flow_spark.operators import vecstore as V
    from bike_data_flow_spark.streaming.store_probe import vector_probe_batch

    if kind == "sig":
        rows, id_col = load(spark, SF, "documents"), "doc_id"
    else:
        rows, id_col = load(spark, SF, "embeddings"), "vec_id"
    part = F.pmod(F.col(id_col), F.lit(2))
    a, b = rows.filter(part == 0), rows.filter(part == 1)
    if kind == "sig":
        G.signature_store_init(a, dirs["store"])
    else:
        V.vector_store_init(a, dirs["store"], dim=_DIM)
    version = current_version(dirs["store"])
    entries, rdds = pinned(spark)
    if kind == "sig":
        probe_batch(b, 0, dirs["store"], dirs["pairs"], admit=True, app_id="w")
    else:
        vector_probe_batch(
            b, 0, dirs["store"], dirs["pairs"], _DIM, _TAU, admit=True, app_id="w"
        )
    after_entries, after_rdds = pinned(spark)
    assert after_entries <= entries
    assert after_rdds <= rdds, after_rdds - rdds
    assert current_version(dirs["store"]) == version + 1  # admitted
