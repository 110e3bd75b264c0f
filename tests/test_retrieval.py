"""BM25 / RRF / BFS / JL operator contracts on tiny, hand-checkable
data (the oracle gate covers engine parity; these pin the semantics)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bike_data_flow_spark.operators import graph as G
from bike_data_flow_spark.operators import retrieval as R
from bike_data_flow_spark.operators import similarity as S

from .conftest import pinned


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "apple banana apple"),          # tf(apple)=2, dl=3
        (2, "apple cherry"),                 # tf(apple)=1, dl=2
        (3, "banana banana banana banana"),  # no apple
        (4, "durian elderberry fig grape"),  # no query terms at all
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_matches_hand_formula(corpus):
    got = {
        r["doc_id"]: r["score"]
        for r in R.bm25_scores(corpus, ("apple",)).collect()
    }
    # N=4, df(apple)=2, avgdl=13/4
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    k1, b = R.BM25_K1, R.BM25_B

    def s(tf, dl):
        raw = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * (dl / (13 / 4))))
        return round(round(raw * R.BM25_SCALE) / R.BM25_SCALE, 6)

    assert got == {1: s(2, 3), 2: s(1, 2)}  # non-matching docs absent


def test_bm25_rare_term_outranks_common(corpus):
    # "cherry" (df=1) must score doc 2 above what "apple" (df=2) gives it
    cherry = {r["doc_id"]: r["score"] for r in R.bm25_scores(corpus, ("cherry",)).collect()}
    apple = {r["doc_id"]: r["score"] for r in R.bm25_scores(corpus, ("apple",)).collect()}
    assert cherry[2] > apple[2]


def test_bm25_topk_deterministic_order(corpus):
    rows = R.bm25_topk(corpus, ("apple", "banana"), k=3).collect()
    assert [r["doc_id"] for r in rows] == sorted(
        [r["doc_id"] for r in rows],
        key=lambda d: (-dict((x["doc_id"], x["score"]) for x in rows)[d], d),
    )


def test_rrf_fuse_hand_values(spark):
    arm0 = spark.createDataFrame([(10, 1), (20, 2)], ["doc_id", "rank"])
    arm1 = spark.createDataFrame([(20, 1), (30, 2)], ["doc_id", "rank"])
    got = {
        r["doc_id"]: r["rrf"]
        for r in R.rrf_fuse([arm0, arm1], id_col="doc_id").collect()
    }
    assert got[10] == round(1 / 61, 6)                # arm0 only
    assert got[20] == round(1 / 62 + 1 / 61, 6)       # both arms
    assert got[30] == round(1 / 62, 6)                # arm1 only
    # the doc present in BOTH arms must win
    assert max(got, key=lambda d: got[d]) == 20


def test_bfs_min_hops_and_bound(spark):
    # path 1→2→3→4→5 plus shortcut 1→4: hop(4) must be 1, not 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], ["src", "dst"]
    )
    src = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hops"] for r in G.bfs_hops(edges, src, 2).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}  # 5 via the shortcut
    # max_hops bound respected: depth-1 search never sees node 3
    got1 = {r["node"]: r["hops"] for r in G.bfs_hops(edges, src, 1).collect()}
    assert got1 == {1: 0, 2: 1, 4: 1}


def test_bfs_unreachable_absent(spark):
    edges = spark.createDataFrame([(1, 2), (8, 9)], ["src", "dst"])
    src = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"] for r in G.bfs_hops(edges, src, 3).collect()}
    assert got == {1, 2}  # the 8–9 component is invisible


def test_jl_projection_shape_and_linearity(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [2.0] * 8), (2, [0.0] * 8)],
        ["vec_id", "embedding"],
    )
    out = S.jl_project(df, in_dim=8, out_dim=4).collect()
    assert len(out) == 12  # 3 vecs × 4 dims
    by = {(r["vec_id"], r["dim"]): r["val"] for r in out}
    for j in range(4):
        assert by[(2, j)] == 0.0                       # zero maps to zero
        assert by[(1, j)] == pytest.approx(2 * by[(0, j)], abs=2e-6)  # linear
    # signs are genuinely ±1 and deterministic
    assert {S.jl_sign(j, i) for j in range(4) for i in range(8)} == {1.0, -1.0}
    assert S.jl_sign(0, 0) == S.jl_sign(0, 0)


def test_pagerank_star_center_wins_and_mass_conserved(spark):
    # undirected star: 1 is hub, 2..5 leaves
    und = [(1, j) for j in (2, 3, 4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {r["node"]: r["pagerank"] for r in G.pagerank(edges).collect()}
    assert max(got, key=lambda n: got[n]) == 1        # hub dominates
    leaves = {got[j] for j in (2, 3, 4, 5)}
    assert len(leaves) == 1                           # symmetry
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)  # mass conserved


def test_pagerank_uniform_on_regular_graph(spark):
    # 3-cycle both directions: regular graph → uniform stationary dist
    und = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {r["node"]: r["pagerank"] for r in G.pagerank(edges).collect()}
    for p in got.values():
        assert p == pytest.approx(1 / 3, abs=1e-9)


def test_graph_loops_release_superseded_round_caches(spark):
    """Iterative graph ops must not leak one persisted round per
    iteration: after a DEEP run (depth 16 — would also OOM on plan
    analysis without windowed checkpoint truncation), the
    persistent-RDD registry grows by at most one checkpoint WINDOW of
    state (a constant), never by O(rounds) — and the caller's
    pins.scope() releases that last window too."""
    from bike_data_flow_spark.operators import pins
    from bike_data_flow_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(i + 1, i) for i in range(30)],
        "src long, dst long",
    )
    src = spark.createDataFrame([(0,)], "node long")
    w = edges.withColumn("w", F.lit(1).cast("long"))
    # tail window caches (≤2 per round for BFS) + boundary checkpoint
    limit = 2 * G._CKPT_EVERY + 2

    def bfs(depth):
        vis = G.bfs_hops(edges, src, max_hops=depth)
        assert vis.count() == depth + 1  # path graph: 0..depth reachable

    runs = {
        "pr": lambda depth: G.pagerank(edges, iters=depth).collect(),
        "bfs": bfs,
        "bf": lambda depth: bellman_ford(w, src, rounds=depth).collect(),
    }
    grow = {}
    for depth in (8, 16):  # same bound at both depths ⇒ not O(rounds)
        for op, run in runs.items():
            spark.catalog.clearCache()  # every round's cache is the run's own
            _, rdds = pinned(spark)
            with pins.scope():
                run(depth)
                grow[(op, depth)] = len(pinned(spark)[1] - rdds)
            assert pinned(spark)[1] <= rdds, (op, depth)
    assert all(g <= limit for g in grow.values()), grow
    # doubling the depth must not grow resident state
    for op in ("pr", "bfs", "bf"):
        assert grow[(op, 16)] <= grow[(op, 8)] + 1, grow
