"""Distributed BPE tokenizer training: learn the first N merges.

``bpe_pair_counts`` (queries/textops3.py) is one COUNTING round; this
operator closes the loop — the full Sennrich et al. (2016,
arXiv:1508.07909) training iteration, re-expressed as a Spark plan:

    word vocabulary (weighted) → adjacent-pair counts → argmax pair →
    apply the merge to every word → repeat.

Scale design: the corpus is scanned ONCE (word histogram). Every
iteration after that runs over the DISTINCT-word vocabulary weighted
by count — the standard trainer trick, and the property that makes
BPE training feasible at 100 TB (vocabulary grows ~Heaps' law, orders
of magnitude smaller than the corpus). Per round: one vocab-sized
aggregate shuffle (pair counts) + a 1-row broadcast (the argmax
merge); the iterative state that crosses rounds is ONE row, never
collected to the driver.

Merge application is a single string ``replace`` per word over a
double-space symbol encoding ('  a  b  c  '): the needle
``' a  b '`` consumes one pad space from each side, so adjacent
non-overlapping occurrences both match while overlapping ones resolve
greedily left-to-right — exactly BPE's merge order, identically in
Spark and DuckDB (the oracle replays the same replaces). Merged
symbols join with a \\x01 marker so multi-char merges stay
distinguishable; the marker is assumed absent from the input text
(it is a C0 control byte no honest tokenizer emits) and is stripped
from the reported merge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pins
from .text import tokens

_MARK = "\x01"


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts over the weighted vocabulary."""
    syms = F.split(F.trim(F.col("s")), "  ")
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + F.lit(1)).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        cur.select(F.explode(pairs).alias("pr"), "wc")
        .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
        .agg(F.sum("wc").alias("cnt"))
    )


@pins.scope()
def bpe_learned_merges(
    df: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> DataFrame:
    """The first ``n_merges`` BPE merges over the corpus, as
    (step, left_sym, right_sym, pair_count). Deterministic: the argmax
    pair tie-breaks on (count DESC, left ASC, right ASC).

    Iterative-state hygiene (ADVICE r5): each round collects the 1-row
    argmax to the driver (bounded by contract) and rewrites the
    vocabulary with LITERAL needles — so the superseded round's cached
    vocabulary can be released as soon as the new one materializes,
    instead of every intermediate copy staying pinned in executor
    storage for the session. The per-round count() that forces the new
    cache also truncates the recompute chain, the same reason the
    connected-components loop checkpoints."""
    spark = df.sparkSession
    words = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    cur = pins.cache(words.select(
        F.concat(F.lit("  "), F.concat_ws("  ", chars), F.lit("  ")).alias("s"),
        "wc",
    ))

    schema = "step int, left_sym string, right_sym string, pair_count bigint"
    rows = []
    superseded = []  # the round cur replaced: released after the NEXT argmax
    for step in range(1, n_merges + 1):
        best = (
            _pair_counts(cur)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .first()
        )
        # this argmax just materialized cur's cache, so the round it
        # superseded is no longer needed by anything — drop it now
        # (deferred one round: releasing before cur materializes
        # would force a full-chain recompute)
        pins.release(*superseded)
        if best is None:  # vocabulary exhausted / empty corpus
            break
        rows.append(
            (
                step,
                best["l"].replace(_MARK, ""),
                best["r"].replace(_MARK, ""),
                int(best["cnt"]),
            )
        )
        if step < n_merges:
            needle = f" {best['l']}  {best['r']} "
            merged = f" {best['l']}{_MARK}{best['r']} "
            superseded = [cur]
            cur = pins.cache(cur.select(
                F.replace(F.col("s"), F.lit(needle), F.lit(merged)).alias("s"),
                "wc",
            ))
    return spark.createDataFrame(rows, schema)  # the scope releases cur


def bpe_vocab_lengths(
    df: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> DataFrame:
    """ENCODE side of the trainer: replay the ``n_merges`` learned
    merges over the word vocabulary and return (w, n_syms) — each
    distinct word's post-merge symbol count. A corpus encode is then
    a words→vocab join + per-doc sum (vocabulary-sized state, the
    same scale story as training)."""
    words = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    cur = pins.cache(words.select(
        "w",
        F.concat(F.lit("  "), F.concat_ws("  ", chars), F.lit("  ")).alias("s"),
        "wc",
    ))
    for _ in range(n_merges):
        best = (
            _pair_counts(cur)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .first()
        )
        if best is None:
            break
        needle = f" {best['l']}  {best['r']} "
        merged = f" {best['l']}{_MARK}{best['r']} "
        prev = cur
        cur = pins.cache(prev.select(
            "w",
            F.replace(F.col("s"), F.lit(needle), F.lit(merged)).alias("s"),
            "wc",
        ))
        cur.count()  # materialize before releasing the superseded round
        pins.release(prev)
    return cur.select(
        "w", F.size(F.split(F.trim(F.col("s")), "  ")).alias("n_syms")
    )
