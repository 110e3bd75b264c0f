"""Index-quality eval operators (queries/evalops.py): recall@k of the
LSH probe and MinHash estimator calibration. Value parity vs DuckDB is
the gate's job; these pin the operator INVARIANTS."""

from __future__ import annotations

from pyspark.sql import functions as F

from bike_data_flow_spark.operators import pins
from tests.conftest import SF_DIR, pinned


def test_ann_recall_bounds_and_shape(spark):
    from bike_data_flow_spark.operators.similarity import ann_recall_at_k
    from bike_data_flow_spark.tables import load

    out = ann_recall_at_k(
        load(spark, SF_DIR, "embeddings"), n_queries=10, k=5
    ).collect()
    assert len(out) == 10  # one row per query, even zero-hit ones
    assert {r["qid"] for r in out} == set(range(10))
    for r in out:
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall_at_k"] - r["n_hits"] / 5) < 1e-9


def test_ann_recall_self_excluded(spark):
    """A query must never count ITSELF as a neighbor — with self
    included every recall would be inflated by the trivial hit."""
    from bike_data_flow_spark.operators.similarity import ann_recall_at_k
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    # k = corpus size: both arms return everything they scored, so a
    # self-hit would surface as n_hits > corpus_in_bucket - 1
    n = emb.count()
    out = ann_recall_at_k(emb, n_queries=3, k=n).collect()
    for r in out:
        assert r["n_hits"] <= n - 1


def test_minhash_estimate_errors_invariants(spark):
    from bike_data_flow_spark.operators.dedup import (
        minhash_estimate_errors,
        minhash_lsh_candidates,
    )
    from bike_data_flow_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    out = minhash_estimate_errors(docs)
    rows = out.collect()
    # one row per LSH candidate pair — the estimator audits exactly the
    # pairs the banding surfaces
    n_cand = minhash_lsh_candidates(docs).count()
    assert len(rows) == n_cand > 0
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["jaccard"] <= 1.0
        # rounding happens per column, so allow 1e-4 + 5e-5 slack
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) < 2e-4
    # identical texts must estimate AND measure 1.0
    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    perfect = minhash_estimate_errors(dup).collect()
    assert len(perfect) == 1
    assert perfect[0]["est_jaccard"] == 1.0
    assert perfect[0]["jaccard"] == 1.0
    assert perfect[0]["abs_err"] == 0.0


def test_bpe_learned_merges_textbook_example(spark):
    """Sennrich-style hand-checkable corpus: vocab {low×3, lower,
    lowest, new×2, newer, newest} → merges (l,o) [tie-break over
    (o,w)], then (lo,w), then (e,w) [lexicographic over (n,e)]."""
    from bike_data_flow_spark.operators.bpe import bpe_learned_merges

    df = spark.createDataFrame(
        [("low lower lowest",), ("new newer newest",), ("low low new",)],
        "text string",
    )
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learned_merges(df, n_merges=4).collect()
    ]
    assert got == [
        (1, "l", "o", 5),
        (2, "lo", "w", 5),
        (3, "e", "w", 4),
        (4, "n", "ew", 4),
    ]


def test_bpe_merge_is_greedy_left_to_right(spark):
    """Overlapping occurrences resolve greedily: 'aaa' merges its
    FIRST two a's only; adjacent non-overlapping pairs both merge
    ('abab' → two (a,b) merges feeding one (ab,ab))."""
    from bike_data_flow_spark.operators.bpe import bpe_learned_merges

    df = spark.createDataFrame([("aaa abab abab",)], "text string")
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learned_merges(df, n_merges=3).collect()
    ]
    # round 1: (a,b)=4 beats (a,a)=2 (overlap counted) and (b,a)=2
    assert got[0] == (1, "a", "b", 4)
    # round 2: each 'abab' is now the symbols [ab, ab] → (ab,ab)=2;
    # 'aaa' still offers (a,a)=2 — tie-break 'a' < 'ab' picks (a,a)
    assert got[1] == (2, "a", "a", 2)
    assert got[2] == (3, "ab", "ab", 2)


def test_token_budget_selection_matches_global_prefix(spark):
    """The two-phase histogram-cutoff plan must return EXACTLY the
    greedy global (score DESC, id ASC) cumsum prefix — including the
    boundary rule: a doc overshooting the remaining budget is excluded
    and ends the prefix (greedy, not knapsack)."""
    from bike_data_flow_spark.operators.selection import (
        select_within_token_budget,
    )

    rows = [
        # (doc_id, score, n_tokens) — scores span bins, ties included
        (1, 0.90, 40),
        (2, 0.90, 30),  # tie with 1: id order decides
        (3, 0.85, 50),
        (4, 0.40, 10),
        (5, 0.39, 100),  # overshoots at its turn → ends the prefix
        (6, 0.30, 1),   # after the overshoot: NOT selected (greedy)
        (7, None, 5),   # NULL score: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    got = {
        r["doc_id"]
        for r in select_within_token_budget(df, budget=130, bins=10).collect()
    }
    # prefix: 1 (40) + 2 (70) + 3 (120) + 4 (130) then 5 overshoots
    assert got == {1, 2, 3, 4}
    # budget smaller than the best doc → empty
    assert select_within_token_budget(df, budget=30, bins=10).count() == 0
    # huge budget → everything scored
    assert (
        select_within_token_budget(df, budget=10_000, bins=10).count() == 6
    )


def test_pq_codes_shape_and_reconstruction_monotonicity(spark):
    """PQ invariants: one code row per vector, codes in [0, k),
    sq_err ≥ 0 — and identical vectors get identical codes."""
    from bike_data_flow_spark.operators.similarity import pq_codes
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    out = pq_codes(emb, m=4, k=4, n_iter=1, train_pct=50).collect()
    assert len(out) == n
    for r in out:
        for j in range(4):
            assert 0 <= r[f"c{j}"] < 4
        assert r["sq_err"] >= 0.0
    by_id = {r["vec_id"]: r for r in out}
    # duplicate a vector under a fresh id: same subvectors → same codes
    first = emb.orderBy("vec_id").first()
    dup = spark.createDataFrame(
        [(999_999, first["embedding"], first["label"])],
        emb.schema,
    )
    out2 = {
        r["vec_id"]: r
        for r in pq_codes(emb.unionByName(dup), m=4, k=4, n_iter=1, train_pct=50).collect()
    }
    orig, copy = out2[first["vec_id"]], out2[999_999]
    assert [orig[f"c{j}"] for j in range(4)] == [copy[f"c{j}"] for j in range(4)]


def test_label_spread_clamps_seeds_and_spreads(spark):
    """Seeds keep their ORIGINAL labels verbatim; spread labels only
    ever take values that exist among the seeds; origin tags are
    consistent with nullability."""
    from bike_data_flow_spark.queries.vectors import (
        _LS_SEED_PCT,
        knn_label_spread,
    )
    from bike_data_flow_spark.tables import load

    out = {r["vec_id"]: r for r in knn_label_spread(spark, SF_DIR).collect()}
    emb = {r["vec_id"]: r["label"] for r in
           load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()}
    import hashlib

    def is_seed(vid):
        h = int(hashlib.md5(f"smp|{vid}".encode()).hexdigest()[:8], 16)
        return h % 100 < _LS_SEED_PCT

    seed_labels = {emb[v] for v in emb if is_seed(v)}
    for vid, r in out.items():
        if is_seed(vid):
            assert r["origin"] == "seed" and r["final_label"] == emb[vid]
        elif r["final_label"] is not None:
            assert r["origin"] == "spread"
            assert r["final_label"] in seed_labels
        else:
            assert r["origin"] == "none"


def test_ivfpq_adc_matches_manual_reconstruction(spark):
    """The ADC distance of each returned row must equal the manually
    reconstructed Σ_j ‖q_j − codebook_j[code_j(x)]‖² computed in
    Python from the same codebooks — no silent LUT/code mixups."""
    import numpy as np

    from bike_data_flow_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
    )
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    out = ivfpq_topk(emb, vec_id=0, k=5, nprobe=2, n_iter=1).collect()
    books = [np.asarray(b) for b in pq_codebooks(emb, m=4, k=4, n_iter=1)]
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    q = vecs[0]
    sub = len(q) // 4
    for r in out:
        x = vecs[r["vec_id"]]
        adc = 0.0
        for j in range(4):
            xj = x[j * sub : (j + 1) * sub]
            qj = q[j * sub : (j + 1) * sub]
            code = int(np.argmin(((xj - books[j]) ** 2).sum(axis=1)))
            adc += float(((qj - books[j][code]) ** 2).sum())
        assert abs(r["adc_dist"] - adc) < 1e-4, (r, adc)


def test_exact_quantile_cont_matches_percentile(spark):
    """The histogram-selection quantile must reproduce Spark's exact
    percentile (and SQL quantile_cont) on high-NDV, constant, and
    tiny inputs — including integer positions (frac = 0) and the
    bucket-boundary interpolation case."""
    import random

    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.selection import exact_quantile_cont

    rnd = random.Random(7)
    cases = [
        [rnd.uniform(-50, 900) for _ in range(1000)],  # high NDV
        [5.0] * 40,                                    # degenerate range
        [1.0, 2.0],                                    # tiny n
        [3.25],                                        # n = 1
        list(range(11)),                               # frac = 0 at p=0.9
    ]
    for p in (0.5, 0.9, 0.99):
        for vals in cases:
            df = spark.createDataFrame([(float(v),) for v in vals], "r double")
            got = exact_quantile_cont(df, p, value_col="r").first()
            want = df.agg(F.percentile("r", F.lit(p)).alias("q")).first()["q"]
            assert got["n"] == len(vals)
            assert got["q"] == want, (p, len(vals), got["q"], want)


def test_exact_quantile_cont_total_on_empty(spark):
    """Empty input must yield the ONE row (n=0, q=NULL) the percentile
    aggregate returns — not zero rows — and the operator must not leak
    its internal histogram cache (it materializes eagerly and releases
    the cache before returning)."""
    from bike_data_flow_spark.operators.selection import exact_quantile_cont

    entries, _ = pinned(spark)
    empty = spark.createDataFrame([], "r double")
    rows = exact_quantile_cont(empty, 0.9, value_col="r").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 0 and rows[0]["q"] is None
    # nonempty path still exactly one row, and no cache entry registered
    one = spark.createDataFrame([(1.0,), (2.0,)], "r double")
    rows = exact_quantile_cont(one, 0.5, value_col="r").collect()
    assert len(rows) == 1 and rows[0]["q"] == 1.5
    assert pinned(spark)[0] <= entries
    # its checkpoints are read by the returned plan: the caller's scope
    # releases them
    _, rdds = pinned(spark)
    with pins.scope():
        assert exact_quantile_cont(one, 0.5, value_col="r").first()["q"] == 1.5
    assert pinned(spark)[1] <= rdds
