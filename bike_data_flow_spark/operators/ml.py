"""Distributed classifier training (north-star extension) — the
fastText-style quality/language filter stage of LLM data pipelines
(GPT-3's quality classifier, CCNet's language filter) as a
shuffle-bounded Spark job: logistic regression by full-batch gradient
descent over HASHED token features.

Scale shape: features are B hashed-bucket token ratios computed in one
conditional aggregation per doc (map-side partial agg, |docs| rows);
each GD round is ONE corpus aggregation whose output is B+1 doubles —
the weight vector is the only thing that ever reaches the driver, and
the next round's plan embeds it as literals (the same bounded-state
pattern as the sampled k-means codebook and the BPE argmax). Rounds
are O(iters) corpus scans over a cached feature table.

Determinism/oracle contract (the repo's float discipline):
- feature ratios are one division of two exact ints — deterministic;
- z folds weights in ascending bucket order from the bias —
  bit-identical on both engines given equal weights;
- the sigmoid rounds to 6 decimals (exp() may differ in the last ulp
  between Java and C runtimes — rounding absorbs it);
- gradient sums round to 6 (group-sum order is engine-dependent);
- weight updates round to 6 INSIDE the engine expression (Spark and
  DuckDB round() are both HALF_UP; Python's round() is half-even and
  must not touch these values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pins
from .dedup import md5_hash64
from .text import tokens

LOGREG_BUCKETS = 8
LOGREG_ITERS = 3
LOGREG_LR = 1.0


def hashed_token_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label: Column | None = None,
    n_buckets: int = LOGREG_BUCKETS,
) -> DataFrame:
    """(id, y, x0..x{B-1}): per-doc hashed-bucket token RATIOS (counts
    over total tokens — bounded features, no normalization pass),
    MAP-ONLY via array higher-order functions: tokens stay an array,
    each token's bucket is computed once (`transform`, shared across
    all B ratio columns by codegen subexpression elimination), and
    each ratio is a `filter`+`size` count over the bucket array. The
    former spelling exploded |tokens| rows and shuffled them back
    through a groupBy(doc) aggregation — this one has NO Exchange at
    all, and the sum(CASE)/count(*) ints it replaces are exactly
    size(filter)/size ints, so the divisions are bit-identical. Docs
    with NULL text drop (explode's null-drop semantics; split() never
    yields an empty array, so that was the only dropping case)."""
    toks = tokens(F.col(text_col))
    buckets = F.transform(toks, lambda t: md5_hash64(t) % n_buckets)
    n = F.size(buckets)

    # one-arg lambda factory: F.filter treats a TWO-arg lambda as
    # (element, index) — a `lambda x, _b=b:` spelling silently binds
    # the element's positional index over the default, so the loop
    # variable must be closed over via a factory instead
    def _eq(b: int):
        return lambda x: x == b

    xs = [
        (F.size(F.filter(buckets, _eq(b))) / n).alias(f"x{b}")
        for b in range(n_buckets)
    ]
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        (label if label is not None else F.lit(0)).alias("_y"),
        *xs,
    )


def _z_expr(weights: list[float], n_buckets: int) -> Column:
    """w0 + Σ_b w_{b+1}·x_b folded in ascending bucket order."""
    z = F.lit(weights[0])
    for b in range(n_buckets):
        z = z + F.lit(weights[b + 1]) * F.col(f"x{b}")
    return z


def _p_expr(weights: list[float], n_buckets: int) -> Column:
    """round-6 sigmoid of the fold (absorbs exp()'s last-ulp noise)."""
    return F.round(1.0 / (1.0 + F.exp(-_z_expr(weights, n_buckets))), 6)


def logreg_train(
    features: DataFrame,
    n_buckets: int = LOGREG_BUCKETS,
    n_iter: int = LOGREG_ITERS,
    lr: float = LOGREG_LR,
) -> list[float]:
    """Full-batch GD from zero weights; returns [bias, w0..w{B-1}]
    after ``n_iter`` rounds. One corpus aggregation per round; every
    arithmetic step mirrors the SQL-oracle spelling (see module
    docstring) so the learned weights hash-match across engines.

    Cache ownership: the feature frame is pinned for the rounds and
    released after them, unless the CALLER already cached it — then
    ``pins.cache`` makes no pin and the caller's cache survives (an
    unconditional release dropped it, so a subsequent ``logreg_score``
    over the same frame recomputed every feature)."""
    feats = pins.cache(features)
    weights = [0.0] * (n_buckets + 1)
    for _ in range(n_iter):
        p = _p_expr(weights, n_buckets)
        r = F.col("_y") - p
        n = F.count(F.lit(1))
        updates = [
            F.round(
                F.lit(weights[0]) + F.lit(lr) * F.round(F.sum(r) / n, 6), 6
            ).alias("w0")
        ] + [
            F.round(
                F.lit(weights[b + 1])
                + F.lit(lr) * F.round(F.sum(r * F.col(f"x{b}")) / n, 6),
                6,
            ).alias(f"w{b + 1}")
            for b in range(n_buckets)
        ]
        row = feats.agg(*updates).first()
        weights = [row[f"w{i}"] for i in range(n_buckets + 1)]
    pins.release(feats)
    return weights


def logreg_score(
    features: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    n_buckets: int = LOGREG_BUCKETS,
    threshold: float = 0.5,
) -> DataFrame:
    """(id, y, p, predicted): map-only scoring pass with the trained
    weights as plan literals — at deployment scale this is the filter
    stage applied to the full corpus."""
    p = _p_expr(weights, n_buckets)
    return features.select(
        F.col(id_col),
        F.col("_y").alias("y"),
        p.alias("p"),
        (p >= threshold).cast("int").alias("predicted"),
    )
