"""Fellegi–Sunter probabilistic record linkage.

The classic decision model for entity resolution (Fellegi & Sunter
1969): each candidate pair gets a log-likelihood match weight summed
over field-level agreement indicators. For every compared field f,

    w_f(agree)    = log2(m_f / u_f)
    w_f(disagree) = log2((1 - m_f) / (1 - u_f))

where m_f = P(fields agree | pair is a true match) — supplied as a
model constant — and u_f = P(fields agree | pair is a non-match) —
ESTIMATED FROM THE DATA as the probability two distinct random records
agree on f, which for exact-equality comparators has the closed form

    u_f = (Σ_v n_v² − N) / (N² − N)

over the field's value histogram. Both numerator and denominator are
exact BIGINT sums, so u is one deterministic double division — the
oracle computes bit-identical values from the same integers.

Spark shape at 100 TB:

- ``field_u_probabilities`` is ONE scan of the record set: fields are
  stacked long (map-side explode ×|fields|), partially aggregated into
  (field, value) counts, reduced to |fields| rows, and pivoted to a
  single row — broadcast to every score task. No driver collect.
- ``blocked_pairs`` unions the pairs sharing each of several cheap
  blocking keys (joins.pairs_sharing_key; multi-pass blocking — the
  standard way to keep candidate pairs sub-quadratic while letting
  every compared field still disagree inside some pass). Each pass shuffles on its own compound key; pair
  volume is Σ_blocks |b|²/2 per pass, governed by the key choice, and
  skew-prone keys should go through dedup.capped_block_join instead.
- ``fs_score`` is a pure map stage over the pairs: the u row rides in
  via a broadcast cross join, every weight is a CASE over two column
  equalities, and the decision thresholds are plan literals.

Reference parity: the reference has no probabilistic linkage; this
extends its dedup/ER surface (SURVEY.md §2 north-star: entity
resolution) the way wrm station records would be linked across feeds
without a shared key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import overlap
from . import pins
from .joins import pairs_sharing_key


def field_u_long(records: DataFrame, fields: list[str]) -> DataFrame:
    """(field, u) rows — one per compared field — where u is the
    exact-equality agreement probability of two distinct random
    records, from one stacked pass over ``records``. Both sums are
    exact integers, so u is one deterministic double division."""
    stack_args = ", ".join(
        f"'{f}', cast({f} as string)" for f in fields
    )
    stacked = records.select(
        F.expr(f"stack({len(fields)}, {stack_args}) as (field, value)")
    )
    # NULL values are excluded from the histogram: a NULL field can
    # never AGREE with anything (fs_score's equality comparator yields
    # disagreement for NULL-vs-anything, including NULL-vs-NULL), so
    # counting the NULL group as one giant agreeing value would inflate
    # u on sparse fields. u_f is therefore P(two distinct records with
    # f PRESENT agree on f) — consistent with the score stage.
    counts = (
        stacked.filter(F.col("value").isNotNull())
        .groupBy("field", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # decimal(20,0) intermediates: sum(c)² and sum(c*c) overflow BIGINT
    # once N or a value count passes ~3e9 — routine at the target scale
    # (ANSI mode would kill the job; legacy mode would wrap silently).
    # Decimal sums stay exact to 1e38, and both engines convert the
    # exact integers to double only at the final division (DuckDB's
    # HUGEINT `/` does the same), so gate-scale parity is unchanged.
    cd = F.col("c").cast("decimal(20,0)")
    num = (F.sum(cd * cd) - F.sum(cd)).cast("double")
    den = (F.sum(cd) * F.sum(cd) - F.sum(cd)).cast("double")
    return counts.groupBy("field").agg((num / den).alias("u"))


def field_u_probabilities(records: DataFrame, fields: list[str]) -> DataFrame:
    """One-row DataFrame with one column per compared field (named
    after the field), holding u_f — ``field_u_long`` pivoted wide for
    broadcast into the score stage."""
    return (
        field_u_long(records, fields)
        .groupBy()
        .pivot("field", fields)
        .agg(F.first("u"))
    )


# Runtime dial for scaled deployments: when a block exceeds this many
# records, its members are hash-striped into ceil(|block|/cap) stripes
# and only within-stripe pairs are generated — pair volume per block
# drops from |b|²/2 to ~|b|·cap/2 (LINEAR in |b| for fixed cap). NOT
# output-preserving: a cross-stripe true match in an oversized block is
# missed by that pass (multi-pass blocking gives it further chances) —
# the recall/cost trade a 100 TB run makes when its blocking keys have
# bounded cardinality, exactly like textops3.PPJOIN_THRESHOLD. None
# (the gate default) = exact blocked join, oracle-parity preserved.
BLOCK_STRIPE_CAP: int | None = None

# Companion dial (VERDICT r11 ask #5): when striping is active, run the
# stripe partition this many times under ROTATED (independent) stripe
# hashes and union the within-stripe pairs. Each rotation keeps an
# independent ~1/n_stripes fraction of a block's pairs, so recall grows
# ~LINEARLY in passes at ~linear cost (pair volume ≈ passes·|b|·cap/2;
# SCALE_SMOKE r12 measures exactly this: matched-pair recall 0.16 at
# one pass, 0.28 at two, increments ≈ the kept candidate fraction).
# Full recall would need ~n_stripes passes = the exact quadratic cost —
# the dial is a cost GOVERNOR that buys recall proportional to spend,
# not a shortcut around the quadratic; when an oversized block's FULL
# pair set matters, refine the blocking keys instead. Deterministic:
# rotation p salts the stripe hash with a fixed literal, so the union
# is a pure function of the input. Ignored when striping is off.
BLOCK_STRIPE_PASSES: int = 1


def blocked_pairs(
    records: DataFrame,
    id_col: str,
    block_keys: list[list[str]],
    carry: list[str],
    stripe_cap: int | None = None,
    stripe_passes: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Multi-pass blocked candidate pairs: the pairs sharing each key
    list in ``block_keys`` (joins.pairs_sharing_key), unioned and
    de-duplicated on the id pair.
    Output columns: id_a, id_b (id_a < id_b) plus ``<c>_a``/``<c>_b``
    for every carried comparison column. ``stripe_cap`` (defaulting to
    the module dial BLOCK_STRIPE_CAP) bounds oversized blocks by hash
    striping; ``stripe_passes`` (defaulting to BLOCK_STRIPE_PASSES)
    unions several rotated stripings to recover cross-stripe recall —
    see the dials' comments for the trades.

    ``dedup=False`` skips the id-pair dropDuplicates and returns the
    raw multiset (a pair repeats once per pass that blocks it, with
    IDENTICAL carried values — they come from the same record rows).
    Scoring consumers want this: deduplicating here shuffles the full
    candidate set WIDE (ids + 2·|carry| strings), and with string
    carries the plan is a sort-based aggregate (first(string) has no
    mutable hash-agg buffer) — Exchange + 2×Sort over the fattest
    frame in the pipeline. A pure per-pair scoring stage is cheaper to
    run on the ≤|passes|× multiset and dedup AFTER its threshold
    filter, where rows are few and narrow (see fs_score's
    ``dedup_pairs``) — same output set either way."""
    from ..tuning import spread_for_map

    # The self-join probe side inherits the RECORDS SCAN's partitioning
    # (a single small parquet file scans as 1-2 tasks no matter the
    # core count), and pair formation + downstream scoring fuse into
    # that stage — measured r12: fs_linkage_scores formed+scored its
    # whole candidate multiset in a 2-task stage, 2.0 s of task time
    # with 30 cores idle. spread_for_map round-robins the narrow
    # record rows up to the cluster's parallelism first (a no-op at
    # deployment scale, where the scan arrives as many splits).
    records = spread_for_map(records, id_col)
    cap = BLOCK_STRIPE_CAP if stripe_cap is None else stripe_cap
    passes = BLOCK_STRIPE_PASSES if stripe_passes is None else stripe_passes
    out: DataFrame | None = None
    for keys in block_keys:
        join_base = [f"_bk_{k}" for k in keys]
        sizes = None
        if cap:
            sizes = records.groupBy(*keys).agg(
                F.count(F.lit(1)).alias("_bsz")
            )

        def one_striping(salt: str | None) -> DataFrame:
            side = records
            join_keys = list(join_base)
            if cap:
                n_stripes = F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.col("_bsz") / F.lit(cap)).cast("long"),
                )
                # rotation 0 keeps the original 'fsb|' salt so a
                # single-pass striping is bit-identical to the pre-dial
                # spelling; rotation p>0 salts with 'fsb<p>|' — an
                # independent hash, so its stripe partition is
                # decorrelated from rotation 0's
                stripe = F.pmod(
                    F.expr(
                        f"conv(substring(md5(concat('{salt}', "
                        f"cast({id_col} as string))), 1, 8), 16, 10)"
                    ).cast("long"),
                    n_stripes,
                )
                side = records.join(sizes, keys).withColumn(
                    "_stripe", stripe
                )
                join_keys = join_keys + ["_stripe"]
            # keys join under _bk_ names, so a carried column may also
            # be a blocking key
            keyed = side.select("*", *[F.col(k).alias(f"_bk_{k}") for k in keys])
            return pairs_sharing_key(keyed, id_col, join_keys, carry)

        for p in range(max(1, passes) if cap else 1):
            salt = "fsb|" if p == 0 else f"fsb{p}|"
            pass_pairs = one_striping(salt)
            out = pass_pairs if out is None else out.unionByName(pass_pairs)
    assert out is not None, "at least one blocking pass required"
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


def global_sort_index(
    records: DataFrame,
    id_col: str,
    sort_keys: list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """``records`` plus ``_snm_idx`` = the 1-based GLOBAL rank under
    (sort_keys…, id) — computed WITHOUT a single-partition global sort
    (the trap ``row_number() OVER (ORDER BY …)`` with no PARTITION BY
    falls into: one task sorts the world). Instead: range-repartition
    on the full key (partition p's keys all precede partition p+1's,
    so ranks compose), rank WITHIN each partition, then shift each
    partition's ranks by the row count of all earlier partitions.

    The index is a pure function of (sort_keys, id): range bounds only
    decide WHERE each rank is computed, never what it is — the id
    tiebreak rides in the range key, so ties can't straddle a boundary
    ambiguously. That invariance holds WITHIN one materialization, so
    the ranked frame is localCheckpointed before fanning out: the
    offsets aggregate and every downstream consumer must read the SAME
    evaluation — RangePartitioner SAMPLES its bounds with a seed tied
    to the materialization, so two evaluations of the subtree (when
    exchange reuse doesn't kick in inside a larger plan) partition
    differently, and offsets from one evaluation applied to ranks from
    another corrupt the index. (Also what a 100 TB run wants anyway:
    one range sort, not one per consumer.) The cumulative-offset frame
    is one row per shuffle partition (its single-partition running-sum
    window is over that bounded frame, not the data) and broadcasts
    back."""
    from pyspark.sql import Window

    if n_parts is None:
        n_parts = int(
            records.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    keys = [F.col(k) for k in sort_keys] + [F.col(id_col)]
    part = records.repartitionByRange(max(1, n_parts), *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = pins.checkpoint(part.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(*keys))
    ))
    counts = local.groupBy("_pid").agg(F.max("_rn").alias("_cnt"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn("_snm_idx", F.col("_rn") + F.col("_off"))
        .drop("_pid", "_rn", "_off")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    id_col: str,
    sort_passes: list[list[str]],
    window: int,
    carry: list[str],
    n_parts: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Multi-pass sorted-neighborhood candidate pairs (Hernández &
    Stolfo's SNM, the classic linkage alternative to hash blocking):
    per pass, records are globally ordered by (pass keys…, id) and
    every pair whose ranks differ by less than ``window`` becomes a
    candidate — n·(window−1) pairs per pass, LINEAR in n by
    construction, with recall coming from sort-order ADJACENCY (near
    records sort near) instead of key equality. This is the
    "sharpen the blocking" answer to the stripe-cap recall finding
    (SCALE_SMOKE r12): where an oversized equality block must either
    pay |b|²/2 or stripe away recall proportionally, SNM never forms
    the block at all — the window bounds pair volume a priori and the
    sort key choice, not a random stripe hash, decides what is missed.

    Output matches ``blocked_pairs``: (id_a, id_b) with id_a < id_b
    plus ``<c>_a``/``<c>_b`` for every carried column, deduped across
    passes. Scale shape: one range-shuffle + partition-local sort per
    pass (no global single-partition sort — see global_sort_index),
    then ONE equi-join on the window bucket ⌊rank/(window−1)⌋ (each
    left row exploded to its own and the next bucket, so every
    rank-distance < window pair shares a join key) — no theta-join,
    no cartesian corner."""
    if window < 2:
        raise ValueError(f"window must be ≥ 2, got {window}")
    u = window - 1
    # The per-pass ranked frames are independent until the union, and
    # each global_sort_index pays serial driver-blocking jobs (range-
    # bound sampling + the determinism pin's materialization), so the
    # passes build in overlap. Pass ORDER is preserved in the output
    # construction below, and each pass's pin is still exactly one
    # materialization, so the rank-invariance/determinism contract is
    # untouched.
    with overlap() as submit:
        idx_futs = [
            submit(global_sort_index, records, id_col, keys, n_parts)
            for keys in sort_passes
        ]
    out: DataFrame | None = None
    for idx in (f.result() for f in idx_futs):
        left = idx.select(
            F.col(id_col).alias("_id_l"),
            *[F.col(c).alias(f"_{c}_l") for c in carry],
            F.col("_snm_idx").alias("_ix_l"),
            F.explode(
                F.array(
                    F.floor((F.col("_snm_idx") - 1) / u),
                    F.floor((F.col("_snm_idx") - 1) / u) + 1,
                )
            ).alias("_jb"),
        )
        right = idx.select(
            F.col(id_col).alias("_id_r"),
            *[F.col(c).alias(f"_{c}_r") for c in carry],
            F.col("_snm_idx").alias("_ix_r"),
            F.floor((F.col("_snm_idx") - 1) / u).alias("_jb"),
        )
        joined = left.join(right, "_jb").filter(
            (F.col("_ix_r") - F.col("_ix_l") >= 1)
            & (F.col("_ix_r") - F.col("_ix_l") <= u)
        )
        # canonical id order (sort-rank order ≠ id order); the carried
        # columns swap with their ids so <c>_a always belongs to id_a
        lt = F.col("_id_l") < F.col("_id_r")
        pass_pairs = joined.select(
            F.when(lt, F.col("_id_l")).otherwise(F.col("_id_r")).alias("id_a"),
            F.when(lt, F.col("_id_r")).otherwise(F.col("_id_l")).alias("id_b"),
            *[
                F.when(lt, F.col(f"_{c}_l"))
                .otherwise(F.col(f"_{c}_r"))
                .alias(f"{c}_a")
                for c in carry
            ],
            *[
                F.when(lt, F.col(f"_{c}_r"))
                .otherwise(F.col(f"_{c}_l"))
                .alias(f"{c}_b")
                for c in carry
            ],
        )
        out = pass_pairs if out is None else out.unionByName(pass_pairs)
    assert out is not None, "at least one sort pass required"
    # dedup=False: same raw-multiset contract as blocked_pairs — a pair
    # repeats once per sort pass whose window covers it, carried values
    # identical; scoring consumers dedup after their threshold filter
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


# Degenerate-u guard: a constant compared field gives u = 1.0, making
# w_disagree log2(x/0) = NULL in non-ANSI mode, which NULLs the whole
# pair score and silently drops EVERY pair at the threshold filter; a
# unique-per-record field gives u → 0 and an infinite agree weight.
# Clamping u into [ε, 1-ε] turns both into large-but-finite evidence.
# For any u strictly inside the clamp range, greatest/least pass the
# exact double through, so oracle parity on non-degenerate data is
# bit-identical.
_U_EPS = 1e-12


def fs_weight(
    agree: Column, m: float, u: Column
) -> Column:
    """Field contribution to the FS match weight. ``u`` is clamped to
    [_U_EPS, 1 - _U_EPS] so degenerate fields (constant → u = 1,
    near-unique → u ≈ 0) score as strong finite evidence instead of
    NULLing the pair score (see _U_EPS).

    A NULL ``u`` — a compared field with NO observed values at all
    (field_u_long's NULL-free histogram emits no row for it, and the
    pivot yields NULL) — contributes ZERO evidence: Spark's
    least/greatest skip NULLs, so without the explicit guard the clamp
    would read such a field as uc = 1-ε and score every comparison
    (NULL-vs-NULL agrees under the caller's null-safe spelling, or
    disagrees under ``==``) as log2((1-m)/ε) ≈ +36 — enormous evidence
    FOR a match from a field that carries no information, violating
    fs_score's contract that a missing value is never evidence for a
    match."""
    uc = fs_clamped_u(u)
    w = F.when(
        agree, F.log2(F.lit(m) / uc)
    ).otherwise(F.log2((F.lit(1.0) - F.lit(m)) / (F.lit(1.0) - uc)))
    return F.when(u.isNull(), F.lit(0.0)).otherwise(w)


def fs_clamped_u(u: Column) -> Column:
    """u clamped into [_U_EPS, 1 - _U_EPS] — the shared boundary model
    for fs_weight and the explainability table (fs_field_weights), so
    the scoring path and the reviewer-facing weights can never diverge
    on degenerate fields. NOT null-safe — Spark's least/greatest skip
    NULLs, so a NULL u would read as 1-ε here; fs_weight guards NULL
    BEFORE consulting the clamp (zero evidence), and field_u_long never
    emits a NULL-u row, so no other caller can see one."""
    return F.greatest(
        F.least(u, F.lit(1.0) - F.lit(_U_EPS)), F.lit(_U_EPS)
    )


def fs_score(
    pairs: DataFrame,
    u_row: DataFrame,
    m_probs: dict[str, float],
    match_threshold: float,
    possible_threshold: float,
    dedup_pairs: bool = False,
) -> DataFrame:
    """Score candidate pairs under the FS model and classify.

    ``pairs`` carries ``<f>_a``/``<f>_b`` per field in ``m_probs``;
    ``u_row`` is the one-row frame from ``field_u_probabilities``.
    Output: (id_a, id_b, score, decision) for pairs at or above
    ``possible_threshold`` (below it the pair is a non-match and a
    100 TB run must not materialize it).

    ``dedup_pairs=True`` accepts the raw multiset from
    ``blocked_pairs(dedup=False)`` / ``sorted_neighborhood_pairs(
    dedup=False)`` and drops id-pair duplicates AFTER the threshold
    filter: duplicates carry identical field values, so they score
    identically and the surviving set is exactly the deduped one — but
    the dedup exchange now moves only the few narrow rows that passed
    the threshold instead of every wide candidate (and the per-pair
    work it duplicates is just the CASE picks over broadcast scalars).

    NULL comparisons (either side, including NULL-vs-NULL) score as
    DISAGREEMENT — a missing value is never evidence for a match —
    matching field_u_long's NULL-free histogram, so both model stages
    treat NULL identically.

    Plan shape: the per-field agree/disagree weights are evaluated ON
    THE ONE-ROW u FRAME (two fs_weight columns per field — log2,
    clamp, and NULL guard all run once per field, not once per pair),
    and the broadcast carries those scalars; the per-pair hot path is
    then Σ CASE WHEN eq THEN w_agree ELSE w_disagree END — at 100 TB
    pair volumes that removes ~2|fields| transcendental evaluations
    per candidate pair for bit-identical doubles (same fs_weight
    expressions over the same u values, just hoisted off the pair
    cardinality).
    """
    w_row = u_row.select(
        *[
            fs_weight(F.lit(agree), m, F.col(f)).alias(f"_w_{f}_{tag}")
            for f, m in m_probs.items()
            for agree, tag in ((True, "a"), (False, "d"))
        ]
    )
    scored = pairs.crossJoin(F.broadcast(w_row))
    total = None
    for f in m_probs:
        w = F.when(
            F.col(f"{f}_a") == F.col(f"{f}_b"), F.col(f"_w_{f}_a")
        ).otherwise(F.col(f"_w_{f}_d"))
        total = w if total is None else total + w
    scored = scored.select(
        "id_a", "id_b", F.round(total, 4).alias("score")
    )
    decision = F.when(
        F.col("score") >= match_threshold, F.lit("match")
    ).otherwise(F.lit("possible"))
    out = scored.filter(F.col("score") >= possible_threshold)
    if dedup_pairs:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out.withColumn("decision", decision)
