"""Properties of the round-9 curation additions: cluster-balanced
sampling (queries/vectors.cluster_balanced_sample) and the leakage-safe
split (queries/textops4.leakage_safe_split). The value-level parity is
oracle-gated; these tests pin the SEMANTIC guarantees the hash compare
can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from bike_data_flow_spark.queries import load_all

from .conftest import pinned

SF = "/root/testdata/sf0.001"


def test_leakage_safe_split_no_pair_straddles_splits(spark):
    """THE guarantee: no near-dup candidate pair lands in two different
    splits (the leakage a per-doc hash split permits)."""
    from bike_data_flow_spark.operators import dedup as D
    from bike_data_flow_spark.tables import load

    q = load_all()["leakage_safe_split"].fn
    assign = q(spark, SF).select("doc_id", "split")
    docs = load(spark, SF, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    a = assign.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "split", "split_a"
    )
    b = assign.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "split", "split_b"
    )
    straddlers = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddlers.count() == 0


def test_leakage_safe_split_total_and_deterministic(spark):
    q = load_all()["leakage_safe_split"].fn
    one = q(spark, SF).orderBy("doc_id").collect()
    two = q(spark, SF).orderBy("doc_id").collect()
    assert one == two  # hash split: stable across runs
    assert len(one) == 500  # every document assigned exactly once
    assert len({r["doc_id"] for r in one}) == 500
    assert {r["split"] for r in one} <= {"train", "val", "test"}


def test_cluster_balanced_sample_flattens_big_clusters(spark):
    """Keep-rate must be ~C/sqrt(|c|): observed per-cluster rates fall
    as cluster size grows, and each observed rate is within binomial
    noise of the planned basis-point dial."""
    import math

    from bike_data_flow_spark.operators import similarity as S
    from bike_data_flow_spark.queries.vectors import (
        _CBS_NUM,
        _KMEANS_TRAIN_PCT,
    )
    from bike_data_flow_spark.tables import load

    kept = load_all()["cluster_balanced_sample"].fn(spark, SF)
    kept_sizes = {
        r["cluster"]: r["n_kept"]
        for r in kept.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .collect()
    }
    emb = load(spark, SF, "embeddings")
    asg = S.kmeans_lloyd(emb, k=5, n_iter=5, train_pct=_KMEANS_TRAIN_PCT)
    full_sizes = {
        r["cluster"]: r["n"]
        for r in asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for c, n in full_sizes.items():
        rate = min(1.0, math.floor(_CBS_NUM / math.sqrt(n)) / 10000.0)
        got = kept_sizes.get(c, 0) / n
        # 4-sigma binomial tolerance
        tol = 4.0 * math.sqrt(rate * (1 - rate) / n) + 1e-9
        assert abs(got - rate) <= tol, (c, n, rate, got)


def test_cluster_balanced_sample_is_subset_of_assignment(spark):
    from bike_data_flow_spark.operators import similarity as S
    from bike_data_flow_spark.queries.vectors import _KMEANS_TRAIN_PCT
    from bike_data_flow_spark.tables import load

    kept = load_all()["cluster_balanced_sample"].fn(spark, SF)
    emb = load(spark, SF, "embeddings")
    asg = S.kmeans_lloyd(emb, k=5, n_iter=5, train_pct=_KMEANS_TRAIN_PCT)
    # (vec_id, cluster) of every kept row appears in the assignment
    missing = kept.select("vec_id", "cluster").exceptAll(
        asg.select("vec_id", "cluster")
    )
    assert missing.count() == 0


def test_kcenter_greedy_matches_brute_force(spark):
    """Operator equals the straightforward Python greedy on a small
    synthetic set (seed = min id, farthest-point, ties -> min id)."""
    import random

    from bike_data_flow_spark.operators.similarity import kcenter_greedy

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    sel = [min(rows)[0]]
    vecs = dict(rows)
    dmin = {i: sqd(v, vecs[sel[0]]) for i, v in rows}
    expect = [(1, sel[0], 0.0)]
    for r in range(2, 6):
        far = max(dmin.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        expect.append((r, far, round(dmin[far], 6)))
        for i, v in rows:
            dmin[i] = min(dmin[i], sqd(v, vecs[far]))
    got = [
        (r["sel_rank"], r["vec_id"], r["d"])
        for r in kcenter_greedy(df, k=5).orderBy("sel_rank").collect()
    ]
    assert got == expect


def test_kcenter_greedy_first_pick_is_min_id_and_d_monotone_coverage(spark):
    from bike_data_flow_spark.operators.similarity import kcenter_greedy
    from bike_data_flow_spark.tables import load

    out = (
        kcenter_greedy(load(spark, SF, "embeddings"), k=5)
        .orderBy("sel_rank")
        .collect()
    )
    assert out[0]["sel_rank"] == 1 and out[0]["d"] == 0.0
    # greedy picks have non-increasing selection distances after rank 2
    ds = [r["d"] for r in out[1:]]
    assert all(a >= b for a, b in zip(ds, ds[1:]))


def test_fs_linkage_clusters_properties(spark):
    """Every resolved entity has >= 2 members, and the member total is
    bounded by twice the match-pair count (each pair contributes at
    most two new nodes)."""
    q = load_all()["fs_linkage_clusters"].fn
    rows = q(spark, SF).collect()
    assert rows, "expected at least one resolved entity at sf0.001"
    assert all(r["n_members"] >= 2 for r in rows)
    pairs = load_all()["fs_linkage_scores"].fn(spark, SF)
    n_matches = pairs.filter(F.col("decision") == "match").count()
    assert sum(r["n_members"] for r in rows) <= 2 * n_matches


def test_kcenter_assignment_partitions_corpus(spark):
    """Assignment is a PARTITION of the corpus: counts sum to the
    corpus size, centers are exactly the selected ids, and the
    reported radius is the max assigned distance (>= 0)."""
    from bike_data_flow_spark.operators.similarity import kcenter_greedy
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF, "embeddings")
    asg = load_all()["kcenter_assignment"].fn(spark, SF).collect()
    assert sum(r["n_assigned"] for r in asg) == emb.count()
    sel = {r["vec_id"] for r in kcenter_greedy(emb, k=5).collect()}
    assert {r["center_id"] for r in asg} == sel
    assert all(r["radius"] >= 0.0 for r in asg)


def test_kcenter_greedy_checkpoint_boundary_matches_brute_force(spark):
    """k past _KCENTER_CHECKPOINT_EVERY crosses the lineage-truncation
    boundary (VERDICT r10 #5) — picks and distances must be identical
    to the Python greedy straight through it (localCheckpoint stores
    the same doubles it replaces recomputation of)."""
    import random

    from bike_data_flow_spark.operators import similarity as S

    assert S._KCENTER_CHECKPOINT_EVERY == 32
    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(3)]) for i in range(48)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    sel0 = min(rows)[0]
    vecs = dict(rows)
    dmin = {i: sqd(v, vecs[sel0]) for i, v in rows}
    expect = [(1, sel0, 0.0)]
    for r in range(2, 41):
        far = max(dmin.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        expect.append((r, far, round(dmin[far], 6)))
        for i, v in rows:
            dmin[i] = min(dmin[i], sqd(v, vecs[far]))
    got = [
        (r["sel_rank"], r["vec_id"], r["d"])
        for r in S.kcenter_greedy(df, k=40).orderBy("sel_rank").collect()
    ]
    assert got == expect


def test_kcenter_greedy_releases_caches_and_checkpoints(spark):
    """ADVICE r11: superseded periodic checkpoints (and the corpus
    cache) must release eagerly, not linger for the async ContextCleaner
    — after a run crossing MULTIPLE checkpoint boundaries no cache entry
    and no persistent RDD the run made may remain."""
    import random

    from bike_data_flow_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(3)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    entries, rdds = pinned(spark)
    # k=70 crosses two _KCENTER_CHECKPOINT_EVERY=32 boundaries
    out = S.kcenter_greedy(df, k=70).collect()
    assert len(out) == 70
    after_entries, after_rdds = pinned(spark)
    assert after_entries <= entries
    assert after_rdds <= rdds, after_rdds - rdds


def test_kmeans_train_sample_cap_raises_loudly(spark, monkeypatch):
    """The sampled-training collect is bounded by a MECHANICAL cap, not
    just the docstring contract (VERDICT r10 #2): past
    KMEANS_MAX_TRAIN_SAMPLE the operator refuses instead of shipping a
    corpus-fraction to the driver (and instead of silently truncating,
    which would silently change the codebook)."""
    import pytest as _pytest

    from bike_data_flow_spark.operators import similarity as S
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF, "embeddings")
    monkeypatch.setattr(S, "KMEANS_MAX_TRAIN_SAMPLE", 10)
    with _pytest.raises(ValueError, match="KMEANS_MAX_TRAIN_SAMPLE"):
        S.kmeans_lloyd(emb, k=3, n_iter=1, train_pct=100)
    # under the cap the operator runs exactly as before
    monkeypatch.setattr(S, "KMEANS_MAX_TRAIN_SAMPLE", 100_000)
    assert S.kmeans_lloyd(emb, k=3, n_iter=1, train_pct=100).count() > 0
