"""Generic distributed graph traversal: bounded-depth BFS, PageRank,
Bellman-Ford.

Complements the specialized graph operators already in the engine
(pointer-jumping connected components in dedup.py, degree-ordered
triangle counting and label propagation over the k-NN graph in
queries/vectors.py) with the classic frontier-expansion primitives.

Iteration discipline — WINDOWED checkpointing (shared by all three
loops, ``pins.Window``): rounds cache lazily inside a window of
``_CKPT_EVERY`` rounds; at each window boundary the state table
localCheckpoints (eager: materializes AND truncates the logical plan)
and every cache/checkpoint the window superseded is released
deterministically. Why a window rather than per-round eagerness or
pure laziness:

- pure lazy caching (the pre-r7 spelling) leaks one cached round per
  iteration AND lets the logical plan double per round where the state
  feeds the next round 2-3× (BFS, Bellman-Ford) — analysis OOMs near
  depth 6;
- per-round eager checkpointing bounds both, but costs one
  materialization job per round and defeats CacheManager plan-matched
  reuse across calls — measured 5-9× slower on the fixed-3-round
  bench queries (copurchase_pagerank 0.37 s → 3.5 s);
- the window keeps shallow loops (≤ window) on the single-job lazy
  fast path, while deep loops stay O(window) in both cluster state
  and plan size: ≤ 2^window plan leaves and ≤ window live rounds,
  constants independent of depth.

Superseded pins are released only after the boundary checkpoint has
materialized: never release before the successor is durable, since
local checkpoints cannot recompute. How a checkpoint is released, and
who owns the last window's pins (the caller's ``pins.scope()``), is
operators/pins.py's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pins

_CKPT_EVERY = 4  # window length: shallow (≤4-round) loops never checkpoint


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Minimum hop count from ``sources`` to every node reachable in at
    most ``max_hops`` directed edge traversals.

    ``edges``: (src, dst) directed — symmetrize first for undirected
    semantics. ``sources``: one ``node`` column; each seed is hop 0.
    Returns (node, hops). First-visit order IS min-hop order (BFS
    invariant), so the anti-join against the visited set both prevents
    recounting and guarantees minimality — no per-node min-agg needed
    at the end.

    Scale shape per round: ONE equi-join (frontier ⋈ edges on the
    source endpoint) + a distinct + an anti-join — all keyed shuffles,
    no cross product; work is bounded by the frontier's out-edges (the
    textbook Pregel superstep). State follows the windowed-checkpoint
    discipline in the module docstring.
    """
    win = pins.Window()
    visited = win.cache(
        sources.select(F.col(node_col)).distinct().withColumn("hops", F.lit(0))
    )
    frontier = visited.select(node_col)
    for hop in range(1, max_hops + 1):
        nxt = win.cache(
            frontier.join(edges, frontier[node_col] == edges[src_col])
            .select(F.col(dst_col).alias(node_col))
            .distinct()
            .join(visited.select(node_col), node_col, "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        visited = win.cache(visited.union(nxt))
        frontier = nxt.select(node_col)
        if hop % _CKPT_EVERY == 0 and hop < max_hops:
            visited = win.roll(visited)
            # nxt was released with the window; re-derive the frontier
            # from the checkpointed table (hops == hop, one filter)
            frontier = visited.filter(F.col("hops") == hop).select(node_col)
    return visited


PR_SCALE = 1_000_000_000_000  # integer-scaling for fold-order-free sums


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list (nodes = edge endpoints'
    sources; supply a symmetrized list for undirected semantics, which
    also guarantees no dangling mass — every node then has out-edges).

    p_{t+1}(v) = (1−d)/N + d·Σ_{u→v} p_t(u)/outdeg(u), fixed ``iters``
    rounds from the uniform start. Engine-parity: the rank STATE is a
    scaled integer (rank × PR_SCALE) end-to-end — contributions are
    single rounds of identical doubles (round-to-integer agrees across
    engines when the input doubles are bit-identical), sums are exact
    BIGINTs, and the only doubles ever compared are final long→double
    divisions. The previous spelling re-rounded a double rank to 12
    DECIMALS each round; multi-digit rounding is implemented
    differently across engines (BigDecimal half-up vs scaled
    nearest-int), so a rank landing on a 1e-12 boundary diverged —
    caught by the sf0.01 replica after a testdata refresh, fixed by
    never multi-digit-rounding state.

    Scale shape per round: ONE edges⋈ranks equi-join + ONE partial-agg
    groupBy(dst) — node- and edge-bounded, the textbook Pregel
    iteration. State follows the windowed-checkpoint discipline in the
    module docstring.
    """
    win = pins.Window()
    deg = win.cache(
        edges.groupBy(F.col(src_col).alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = win.cache(
        deg.crossJoin(F.broadcast(n)).select(
            "node",
            "deg",
            F.round(F.lit(float(PR_SCALE)) / F.col("n")).cast("long").alias("ps"),
        )
    )
    teleport = (
        F.round(F.lit(1.0 - damping) * F.lit(float(PR_SCALE)) / F.col("n"))
        .cast("long")
    )
    for i in range(1, iters + 1):
        contrib = edges.join(
            ranks, edges[src_col] == ranks["node"]
        ).select(
            F.col(dst_col).alias("node"),
            F.round(F.lit(damping) * F.col("ps") / F.col("deg"))
            .cast("long")
            .alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = win.cache(
            sums.join(deg, "node")
            .crossJoin(F.broadcast(n))
            .select("node", "deg", (teleport + F.col("_s")).alias("ps"))
        )
        if i % _CKPT_EVERY == 0 and i < iters:
            ranks = win.roll(ranks)
            # deg was released with the window; the checkpointed ranks
            # carries its own deg column, so re-derive the join side
            deg = win.cache(ranks.select("node", "deg"))
    return ranks.select(
        "node",
        F.col("ps").alias("pr_scaled"),
        (F.col("ps").cast("double") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-depth single-source shortest paths (Bellman-Ford): after
    ``rounds`` relaxations, (node, cost) holds the minimum path cost
    over all paths of at most ``rounds`` edges from ``sources``
    (cost 0). Weights must be non-negative integers/longs — the
    min-plus semiring is then EXACT and fold-order-free (min is
    commutative/associative; no float accumulation), so an unrolled
    oracle reproduces it bit-for-bit.

    Scale shape per round: one frontier⋈edges equi-join + one
    (node) min-aggregate — node/edge-bounded, the Pregel SSSP
    iteration. State (which feeds each round TWICE: relax join +
    union) follows the windowed-checkpoint discipline in the module
    docstring.
    """
    win = pins.Window()
    dist = win.cache(
        sources.select(F.col(node_col), F.lit(0).cast("long").alias("cost"))
    )
    for i in range(1, rounds + 1):
        relax = (
            dist.join(edges, dist[node_col] == edges[src_col])
            .select(
                F.col(dst_col).alias(node_col),
                (F.col("cost") + F.col(weight_col)).alias("cost"),
            )
        )
        dist = win.cache(
            dist.unionByName(relax)
            .groupBy(node_col)
            .agg(F.min("cost").alias("cost"))
        )
        if i % _CKPT_EVERY == 0 and i < rounds:
            dist = win.roll(dist)
    return dist
