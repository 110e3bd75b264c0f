"""Corpus selection under a token budget.

The standard curation step after quality scoring: keep the
highest-quality documents whose cumulative token count fits the
training budget (greedy prefix of the (score DESC, id ASC) order —
the semantics a SQL `QUALIFY sum(w) OVER (ORDER BY ...) <= budget`
expresses).

The naive spelling is a GLOBAL ordered cumsum — an un-partitioned
window, i.e. every row through one task: a scale-killer. This
operator computes the identical result set in two phases, neither of
which ever concentrates the corpus:

1. **Histogram cutoff**: scores bucket into ``bins`` histogram bins
   (floor(score·bins) — monotone in score, so bin order == score
   order). Per-bin token totals aggregate map-side; the running-total
   window runs over ≤ bins+1 rows. Bins whose prefix fits entirely
   are kept whole; bins past the budget drop whole.
2. **Boundary fill**: only the ONE bin the budget crosses is sorted
   (score DESC, id ASC) for a bin-local cumsum against the remaining
   budget — ~1/bins of the corpus through that window, dialed by
   ``bins``.

Ties and boundaries behave exactly like the global prefix: a document
whose weight overshoots the remaining budget is excluded and ends the
prefix (greedy, not knapsack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pins


def select_within_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    bins: int = 100,
) -> DataFrame:
    """Rows of ``df`` forming the greedy (score DESC, id ASC) prefix
    whose cumulative ``weight_col`` stays ≤ ``budget``. ``score_col``
    must be in [0, 1] (quality scores are); NULL scores are excluded.
    Returns the input columns, unordered (set semantics)."""
    d = df.filter(F.col(score_col).isNotNull()).select(
        id_col, score_col, weight_col
    )
    # cached: three consumers (bin totals, full-bin keep, boundary
    # fill) would otherwise re-run the caller's scoring pipeline —
    # typically regex-heavy quality metrics — once each
    binned = pins.cache(d.withColumn("_bin", F.floor(F.col(score_col) * bins)))
    totals = binned.groupBy("_bin").agg(F.sum(weight_col).alias("_bin_w"))
    wdesc = Window.orderBy(F.desc("_bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    marked = totals.withColumn(
        "_above", F.coalesce(F.sum("_bin_w").over(wdesc), F.lit(0))
    )
    full_bins = marked.filter(F.col("_above") + F.col("_bin_w") <= budget).select(
        "_bin"
    )
    boundary = marked.filter(
        (F.col("_above") < budget) & (F.col("_above") + F.col("_bin_w") > budget)
    ).select("_bin", (F.lit(budget) - F.col("_above")).alias("_remaining"))

    kept_full = binned.join(F.broadcast(full_bins), "_bin", "left_semi")
    wbin = Window.partitionBy("_bin").orderBy(
        F.desc(score_col), F.asc(id_col)
    ).rowsBetween(Window.unboundedPreceding, 0)
    kept_partial = (
        binned.join(F.broadcast(boundary), "_bin")
        .withColumn("_cum", F.sum(weight_col).over(wbin))
        .filter(F.col("_cum") <= F.col("_remaining"))
        .drop("_remaining", "_cum")
    )
    return kept_full.unionByName(kept_partial).drop("_bin")


def exact_quantile_cont(
    values: DataFrame,
    p: float,
    value_col: str = "r",
    bins: int = 1000,
) -> DataFrame:
    """One row (n BIGINT, q DOUBLE): the exact linearly-interpolated
    p-quantile of ``value_col`` — SQL ``quantile_cont`` / Spark
    ``percentile`` semantics (0-based position (n−1)·p, value =
    lo + (hi−lo)·frac over the two adjacent order statistics) —
    WITHOUT funnelling the column through one task.

    Spark's exact ``percentile`` aggregate merges every distinct value
    into a single final buffer: at fact scale that is a one-task sort
    in disguise (the same class as an un-partitioned window). This is
    the histogram-selection spelling instead, the
    select_within_token_budget discipline applied to rank selection:

    1. one tiny agg → (n, min, max); ranks k=floor((n−1)p), k+1.
    2. value-range histogram (``bins`` buckets, map-side partial agg);
       a running count over ≤ bins rows locates the ≤ 2 buckets
       holding ranks k and k+1.
    3. ONLY those buckets' rows (≈ n/bins, dialed by ``bins``) sort
       bucket-locally; bucket-prefix offsets turn local row_numbers
       into global ranks, exactly like the budget-crossing bin fill.

    The selected order statistics are the identical doubles any other
    engine selects, and the interpolation arithmetic matches both
    DuckDB's quantile_cont and Spark's percentile, so results are
    hash-stable cross-engine. Degenerate range (min == max) returns
    that value directly. TOTAL: empty input yields the one row
    (n=0, q=NULL) — the same shape SQL quantile_cont / Spark
    percentile return — not zero rows.

    Execution shape: ``values`` (typically an expensive residual/score
    pipeline the caller derived) is PINNED once with an eager
    localCheckpoint — the stats agg, the histogram, and the
    bucket-local sort all read the pinned column, so the caller's
    pipeline executes exactly once per call and no cache entry is
    registered (the r8 ``binned.cache()`` spelling leaked one
    CacheManager entry per call AND scanned the caller's pipeline
    twice — stats, then cache materialization; measured 2.5 s vs
    1.3 s on regression_conformal_q at sf0.1). The pinned column is
    O(n) executor storage, the same footprint the cache had; the
    returned plan reads it, so its blocks release when the caller's
    ``pins.scope()`` exits (or with the plan, via the ContextCleaner).
    """
    v = F.col(value_col)
    pinned = pins.checkpoint(values.select(v.alias(value_col)))
    stats = pinned.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
    )
    pos = (F.col("_n") - 1).cast("double") * F.lit(p)
    k = F.floor(pos).cast("bigint")
    width = (F.col("_hi") - F.col("_lo")) / F.lit(bins)
    # eager 1-row pin: the stats scan of `values` runs ONCE and feeds
    # the binned projection, the bucket pick, and the n==0 totality row
    ranks = pins.checkpoint(stats.select(
        "_n", "_lo", "_hi",
        k.alias("_k"),
        (pos - k.cast("double")).alias("_frac"),
        width.alias("_w"),
    ))
    # two consumers (bucket counts, rank-holding-bucket pick) both read
    # the PINNED column — in-memory block re-reads, not pipeline re-runs
    binned = pinned.select(v.alias("_v")).crossJoin(F.broadcast(ranks)).select(
        "_v", "_n", "_k", "_frac",
        F.when(F.col("_w") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("_v") - F.col("_lo")) / F.col("_w")),
                F.lit(bins - 1),
            )
        )
        .cast("bigint")
        .alias("_b"),
    )
    counts = binned.groupBy("_b", "_n", "_k", "_frac").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    marked = counts.withColumn(
        "_before", F.coalesce(F.sum("_c").over(wcum), F.lit(0))
    )
    k1 = F.least(F.col("_k") + 1, F.col("_n") - 1)
    hit = marked.filter(
        (
            (F.col("_before") <= F.col("_k"))
            & (F.col("_before") + F.col("_c") > F.col("_k"))
        )
        | ((F.col("_before") <= k1) & (F.col("_before") + F.col("_c") > k1))
    ).select("_b", "_before")
    wbin = Window.partitionBy("_b").orderBy("_v")
    picked = (
        binned.join(F.broadcast(hit), "_b")
        .withColumn(
            "_rank", F.col("_before") + F.row_number().over(wbin) - 1
        )
        .filter(
            (F.col("_rank") == F.col("_k"))
            | (F.col("_rank") == F.least(F.col("_k") + 1, F.col("_n") - 1))
        )
    )
    # two-weight interpolation, NOT lo + (hi-lo)*frac: both DuckDB's
    # quantile_cont and Spark's percentile compute
    # (1-frac)*lo + frac*hi, and the two forms differ in the last ulp
    # (verified empirically) — the value-hash gate sees that ulp
    interpolated = picked.groupBy("_n", "_frac").agg(
        F.min(F.struct("_rank", "_v"))["_v"].alias("_vlo"),
        F.max(F.struct("_rank", "_v"))["_v"].alias("_vhi"),
    ).select(
        F.col("_n").alias("n"),
        F.when(F.col("_frac") == 0, F.col("_vlo"))
        .otherwise(
            (F.lit(1.0) - F.col("_frac")) * F.col("_vlo")
            + F.col("_frac") * F.col("_vhi")
        )
        .alias("q"),
    )
    # totality: on empty input `picked` has no rows, so the interpolated
    # frame is empty — union the (n=0, q=NULL) row the stats frame
    # carries, exactly the one-row shape the percentile aggregate (and
    # the DuckDB oracle) would return. When n>0 this arm is empty, so
    # row count is exactly 1 either way.
    empty_row = ranks.filter(F.col("_n") == 0).select(
        F.col("_n").alias("n"), F.lit(None).cast("double").alias("q")
    )
    return interpolated.unionByName(empty_row)
