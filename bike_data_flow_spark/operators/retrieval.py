"""Full-text retrieval operators: Okapi BM25 scoring and
reciprocal-rank fusion (RRF) for hybrid lexical + vector search.

The one retrieval modality the engine still lacked next to the ANN
stack (similarity.py) and TF-IDF (queries/textops.py): a query-driven
document ranker. BM25 (Robertson & Walker 1994; the Lucene/Elastic
default) is the lexical arm; RRF (Cormack, Clarke & Buettcher, SIGIR
2009) is the standard zero-tuning way to fuse it with an
embedding-cosine arm — the retrieval shape behind every RAG pipeline.

Scale notes
-----------
- The query-term filter lands BEFORE the (doc, term) aggregation, so
  the shuffle is bounded by the POSTING LISTS of the query terms, not
  the corpus token count — the same asymptotics as an inverted-index
  lookup, expressed as a filtered aggregation.
- Corpus stats (N, Σdl) are one scalar aggregate, broadcast.
- Per-term document frequencies are |query|-sized, broadcast.
- Top-k plans as TakeOrderedAndProject (no global sort materializes).
- Engine-parity: per-term BM25 contributions are rounded and scaled to
  integers before the per-doc SUM, so the aggregation is exact and
  fold-order-free; doubles only appear in per-row scalar expressions
  (bit-identical across engines) and the final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import pins
from . import text as T

BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000_000


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """Document frequency per term from a (doc, term, tf) relation —
    (doc, term) is unique post-aggregation, so a plain count."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every matching document for a bag-of-words
    query: score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    with the Lucene idf  ln(1 + (N − df + 0.5)/(df + 0.5))  (always
    positive, so stop-ish terms dilute rather than flip rankings).

    One corpus scan: the tokenized projection carries the doc length
    map-side; the exploded stream is filtered to the query terms before
    any shuffle (posting-list-bounded), then ONE (doc, term) aggregate
    feeds both the tf rows and the |query|-sized df aggregate.
    """
    staged = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            T.tokens(F.col(text_col)).alias("_toks"),
        )
        .withColumn("dl", F.size("_toks"))
    )
    # scalar corpus stats over ALL docs (not just matches): one 1-row agg
    stats = staged.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tok = staged.select(
        F.col(id_col), F.col("dl"), F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(*terms))
    # cached: feeds the score rows AND the df aggregate (tiny, but the
    # uncached plan would tokenize the corpus twice)
    tf = pins.cache(
        tok.groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = doc_frequencies(tf)

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    contrib = F.round(idf * tfn * F.lit(BM25_SCALE)).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), contrib.alias("_c"))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum("_c").cast("double") / F.lit(BM25_SCALE), 6
            ).alias("score")
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 hits, deterministic (score desc, id asc) — plans as
    TakeOrderedAndProject, never a full sort."""
    scored = bm25_scores(docs, terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


RRF_K = 60


def rrf_fuse(
    arms: list[DataFrame],
    id_col: str = "doc_id",
    k_rrf: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion over ranked retrieval arms: each arm is a
    (id, rank) DataFrame (rank 1-based, already truncated to its own
    top-K), fused as  rrf = Σ_arms 1/(k_rrf + rank)  with absent arms
    contributing 0 — rank-only, so arms with incomparable score scales
    (BM25 vs cosine) fuse without calibration.

    The inputs are top-K lists BY CONTRACT (bounded rows), so the
    outer-join cascade is trivially broadcastable at any corpus size;
    the heavy lifting happened inside each arm.
    """
    fused: DataFrame | None = None
    for i, arm in enumerate(arms):
        cur = arm.select(F.col(id_col), F.col("rank").alias(f"_r{i}"))
        fused = cur if fused is None else fused.join(cur, id_col, "full_outer")
    assert fused is not None, "rrf_fuse needs at least one arm"
    score = None
    for i in range(len(arms)):
        part = F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(f"_r{i}")), F.lit(0.0)
        )
        score = part if score is None else score + part
    return fused.select(F.col(id_col), F.round(score, 6).alias("rrf"))


def ranked(df: DataFrame, order_cols: list, id_col: str) -> DataFrame:
    """Attach a 1-based dense rank position. Single-partition window —
    legal because retrieval arms are top-K lists (bounded rows by
    contract), never corpus-sized."""
    w = Window.orderBy(*order_cols)
    return df.select(F.col(id_col), F.row_number().over(w).alias("rank"))
