"""Custom join operators Spark lacks natively: as-of join, bin-bucketed
range join (SURVEY §2.3, task north-star list) and the candidate-pair
self-join every near-dup, blocking and store-probe operator starts from.

All are compositions of built-in operators — no UDFs, no Catalyst
surgery:

- as-of join: union the two sides tagged, one per-key event-time sort
  window carries the latest right-side id forward, then a broadcast-or-
  shuffle equi-join retrieves the right row's payload. One shuffle on
  the key; no range cross-product ever materializes.
- range join: intervals explode to the fixed-size bins they cover,
  points map to their single bin, bins equi-join (hash-partitioned,
  skew-free for bounded interval length), exact predicate re-verifies.
  Replaces O(|points|·|intervals|) theta joins with
  O(|points| + Σ interval_bins) + a hash join.
- pairs sharing a key: the frame equi-joined with itself on the key,
  kept where ``id_a < id_b`` — the one candidate-pair primitive of the
  dedup, linkage and store-probe operators. Only rows sharing a key
  ever meet, so the cost is quadratic only within a key bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_prefix: str = "r_",
    right_id: str | None = None,
) -> DataFrame:
    """For every left row: columns of the latest right row (same `on`
    key) whose ``right_ts`` ≤ ``left_ts``; NULLs when none precedes.

    Ties: a right row at exactly left_ts counts (≤). Among right rows
    with equal (key, ts), the winner is chosen by ``right_id`` when the
    caller supplies a unique id column; otherwise by a content hash of
    the whole right row — stable across runs and partition layouts
    (unlike monotonically_increasing_id), though which duplicate wins
    is arbitrary. Exact-duplicate rows are interchangeable either way.
    """
    rid = "_asof_rid"
    ts = "_asof_ts"
    tag = "_asof_tag"  # right=0 sorts before left=1 at equal timestamps

    if right_id is not None:
        # The surrogate must be a non-null long: casting a string/UUID id
        # with cast("long") would silently yield NULL (breaking both the
        # tie-break and the back-join), so non-integral ids are hashed —
        # still deterministic, but the duplicate-(key, ts) winner is then
        # "largest hash", not "largest id". NULL ids fall back to the
        # whole-row hash: xxhash64(NULL) is a constant, and letting every
        # NULL-id row share one surrogate would fuse distinct payloads in
        # the back-join.
        id_type = dict(right.dtypes)[right_id]
        if id_type in ("tinyint", "smallint", "int", "bigint"):
            surrogate = F.col(right_id).cast("long")
        else:
            surrogate = F.when(
                F.col(right_id).isNull(),
                F.xxhash64(*[F.col(c) for c in right.columns]),
            ).otherwise(F.xxhash64(F.col(right_id)))
    else:
        surrogate = F.xxhash64(*[F.col(c) for c in right.columns])
    r = right.withColumn(rid, surrogate)
    r_events = r.select(
        F.col(on),
        F.col(right_ts).alias(ts),
        F.lit(0).alias(tag),
        F.col(rid),
    )
    l_events = left.select(
        F.col(on),
        F.col(left_ts).alias(ts),
        F.lit(1).alias(tag),
        F.lit(None).cast("long").alias(rid),
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc(ts), F.asc(tag), F.asc(rid))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # distinct: duplicate (key, ts) left rows resolve to the same match —
    # one match row per (key, ts) keeps the back-join 1:1 per left row
    matched = (
        r_events.unionByName(l_events)
        .withColumn("_match", F.last(rid, ignorenulls=True).over(w))
        .filter(F.col(tag) == 1)
        .select(F.col(on), F.col(ts), F.col("_match"))
        .distinct()
    )
    # Content-hashed surrogates collide for exact-duplicate right rows;
    # dedupe so the back-join stays 1:1 per left row (identical payloads,
    # so which survives is immaterial).
    right_payload = r.select(
        F.col(rid).alias("_match"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns],
    ).dropDuplicates(["_match"])
    out = (
        left.join(
            matched.withColumnRenamed(ts, left_ts),
            [on, left_ts],
        )
        .join(right_payload, "_match", "left")
        .drop("_match")
    )
    return out


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_size: float,
    how: str = "inner",
) -> DataFrame:
    """Join each point to every interval with start ≤ point < end.

    ``bin_size`` should be on the order of the typical interval length:
    each interval lands in (length/bin_size + 1) buckets, each point in
    exactly one.

    ``how`` may be ``inner`` or ``left`` (points-preserving: unmatched
    points survive null-extended — the range predicate lives in the
    join condition, so outer rows are not re-filtered away). ``right``/
    ``full`` are rejected: intervals are exploded one row per covered
    bin, so an unmatched interval would surface once per bin.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"range_join supports how='inner'|'left', got {how!r}: "
            "exploded intervals would duplicate unmatched right rows"
        )
    pb = points.withColumn("_pbin", F.floor(F.col(point_col) / bin_size))
    ib = intervals.withColumn(
        "_ibin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_size),
                F.floor((F.col(end_col)) / bin_size),
            )
        ),
    )
    cond = (
        (pb["_pbin"] == ib["_ibin"])
        & (pb[point_col] >= ib[start_col])
        & (pb[point_col] < ib[end_col])
    )
    return pb.join(ib, cond, how).drop("_pbin", "_ibin")


def pairs_sharing_key(
    df: DataFrame,
    id_col: str,
    keys: list[str],
    carry: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Candidate pairs: every two rows of ``df`` that agree on all of
    ``keys``, ordered ``id_a < id_b``, as columns ``id_a``, ``c_a``…,
    ``id_b``, ``c_b``… for each carried column ``c``.

    One output row per shared key value, NOT per distinct pair: a pair
    sharing three shingles (or bands, or blocks) appears three times,
    so counting callers aggregate and the rest take ``distinct``. It is
    a plain equi-join, so a NULL key never pairs, equal ids never pair,
    and a duplicated (id, key) row repeats its pairs.

    The join reads ``df`` twice, once per side, and Spark does not
    reuse the exchange of two differently renamed projections: a
    caller whose ``df`` is an expensive lazy plan (a shingle or
    signature pipeline) caches or checkpoints it first, or that plan
    runs once per side.
    """

    def side(s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *keys,
        )

    return (
        side("a")
        .join(side("b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .drop(*keys)
    )
