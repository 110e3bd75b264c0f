"""Physical-layout operators: bucketing for shuffle-free joins, salting
for skew — the 100 TB dials SCALE.md describes, as callable tools.

Bucketing: co-partitioning two fact tables on the join key at write
time removes the per-query shuffle entirely (sort-merge join reads
bucket i of A against bucket i of B). At 100 TB this converts every
repeated key-join from a full network shuffle into local merges.

Salting: a skewed key (one user with 10⁸ events) caps parallelism at 1
task; salting splits the hot side into S sub-keys and replicates the
small side S× — S-way parallelism at the cost of an S× build-side blow-up
confined to the replicated dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+ sorted) managed table. Joins/aggregations
    on bucket_cols against an equally-bucketed table plan without an
    Exchange."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table, format="parquet")


def bucketed_join_is_shuffle_free(
    spark: SparkSession, left: str, right: str, on: list[str]
) -> bool:
    """Introspection helper (used by tests): True when the bucketed join
    plan contains no Exchange above either scan."""
    df = spark.table(left).join(spark.table(right), on)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, explode the small side.

    big:   salt = hash(row) % S appended to the key
    small: replicated S× with every salt value
    Join on (key, salt) spreads one hot key over S tasks. Columns of
    both inputs are preserved (minus the helper salt).

    Supports 'inner' and 'left' (big side preserved). 'right'/'full'
    would duplicate unmatched small-side rows S× — rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left' only")
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt_buckets)))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of non-negative integer columns — the
    multi-dimension clustering key behind Delta/Iceberg OPTIMIZE ZORDER.

    Sorting (or range-partitioning) a table by this key before writing
    places rows close in EVERY dimension into the same files, so
    parquet min/max stats prune scans for predicates on ANY of the
    dimensions — a single-column sort can only serve its own column.

    Pure bit arithmetic (shift/or folds over plan-time Python loops —
    the expression tree has bits×dims nodes, well under the codegen
    limit for bits=16, dims≤3). Columns must already be non-negative
    bin numbers (e.g. from analytics.grid binning); values ≥ 2^bits
    wrap into the top bin via a least() clamp.
    """
    dims = len(cols)
    cap = (1 << bits) - 1
    clamped = [F.least(F.col(c) if isinstance(c, str) else c, F.lit(cap)) for c in cols]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for d, col in enumerate(clamped):
            bit = F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, b * dims + d)
            )
    return key
