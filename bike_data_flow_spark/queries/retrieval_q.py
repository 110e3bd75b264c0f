"""Query-driven retrieval: BM25 ranking and hybrid lexical+vector
fusion (RRF) — the RAG-retrieval surface next to the ANN stack.

Engine-parity notes: per-term BM25 contributions are integer-scaled
before the per-doc SUM (exact, fold-order-free — the zipf_fit
pattern); the scalar expression trees are written with identical
association on both sides, so doubles agree bit-for-bit before the
final round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import pins
from ..operators import retrieval as R
from ..operators import similarity as S
from ..tables import load
from . import query
from .textops import _TOKS
from .vectors import _QUERY_VEC_ID, _sql_cos

# Mixed-selectivity query: three corpus-common terms + one rare term
# ("dup" df≈25/500) so the idf spread actually orders the results.
_BM25_TERMS = ("hash", "join", "stream", "dup")
_TOPK = 10
_ARM_K = 50

_K1_P1 = repr(R.BM25_K1 + 1.0)  # 2.2 — exact: 1.2 + 1.0 == 2.2 in IEEE
_ONE_MB = repr(1.0 - R.BM25_B)  # 0.25, exact
_B = repr(R.BM25_B)
_K1 = repr(R.BM25_K1)


def _bm25_cte(terms: tuple[str, ...]) -> str:
    """Shared CTE body scoring docs by BM25 (association-parity with
    operators/retrieval.bm25_scores: idf * (tfnum/tfden) * scale)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    staged AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE len(trim(text)) > 0
    ),
    stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM staged),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM staged
      ) WHERE term IN ({in_list})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bm25 AS (
      SELECT doc_id,
             round(CAST(sum(CAST(round(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * ((tf.tf * {_K1_P1}) / (tf.tf + {_K1} * ({_ONE_MB} + {_B}
                    * (CAST(tf.dl AS DOUBLE)
                       / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))))
               * {R.BM25_SCALE}) AS BIGINT)) AS DOUBLE)
               / {R.BM25_SCALE}, 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY doc_id
    )"""


@query(
    "bm25_topk",
    oracle=f"""
    WITH {_bm25_cte(_BM25_TERMS)}
    SELECT doc_id, score FROM bm25
    ORDER BY score DESC, doc_id ASC LIMIT {_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a bag-of-words query. The query-term filter
    precedes every shuffle (posting-list-bounded, an inverted-index
    lookup expressed declaratively); corpus stats and per-term dfs ride
    in as broadcast scalars; the limit plans as TakeOrderedAndProject."""
    return R.bm25_topk(load(spark, sf_dir, "documents"), _BM25_TERMS, k=_TOPK)


@query(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_bm25_cte(_BM25_TERMS)},
    arm0 AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM bm25 QUALIFY rank <= {_ARM_K}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    cosed AS (
      SELECT e.vec_id AS doc_id,
             round({_sql_cos("e.embedding", "q.qe")}, 6) AS cos_sim
      FROM embeddings e, q
    ),
    arm1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank
      FROM cosed QUALIFY rank <= {_ARM_K}
    ),
    fused AS (
      SELECT COALESCE(arm0.doc_id, arm1.doc_id) AS doc_id,
             round(COALESCE(1.0 / (60 + arm0.rank), 0.0)
                   + COALESCE(1.0 / (60 + arm1.rank), 0.0), 6) AS rrf
      FROM arm0 FULL JOIN arm1 ON arm0.doc_id = arm1.doc_id
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_TOPK}
    """,
    bench=True,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    arm and the embedding-cosine arm (the synthetic corpus keys
    embeddings to documents by position: vec_id ≡ doc_id) each produce
    a top-50 ranking; RRF fuses rank-only — no score calibration.
    Each arm's heavy work is corpus-shaped and scale-safe on its own;
    the fusion join touches ≤ 2·ARM_K rows by contract."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    arm0 = R.ranked(
        R.bm25_topk(docs, _BM25_TERMS, k=_ARM_K),
        [F.desc("score"), F.asc("doc_id")],
        "doc_id",
    )
    arm1 = R.ranked(
        S.cosine_topk(emb, vec_id=_QUERY_VEC_ID, k=_ARM_K).withColumnRenamed(
            "vec_id", "doc_id"
        ),
        [F.desc("cos_sim"), F.asc("doc_id")],
        "doc_id",
    )
    fused = R.rrf_fuse([arm0, arm1], id_col="doc_id")
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_TOPK)


import math

# NDCG@k: the discounts 1/log2(rank+1) are precomputed PYTHON literals
# spliced into BOTH engines' expression trees (repr round-trip), so no
# engine's log2 implementation is on the parity path; gains (2^rel − 1)
# and the discounted contributions are integer-scaled before the SUM —
# exact, fold-order-free (the BM25/zipf pattern).
_NDCG_K = 10
_DISC = {r: repr(1.0 / math.log2(r + 1)) for r in range(1, _NDCG_K + 1)}
_NDCG_SCALE = 1_000_000_000


def _disc_case_sql() -> str:
    whens = " ".join(f"WHEN {r} THEN {d}" for r, d in _DISC.items())
    return f"CASE rank {whens} END"


def _rel_terms_sql() -> str:
    return "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"


@query(
    "retrieval_ndcg",
    oracle=f"""
    WITH {_bm25_cte(_BM25_TERMS)},
    rel AS (
      SELECT doc_id,
             len(list_intersect(list_distinct(toks), {_rel_terms_sql()}))
               AS rel
      FROM staged
    ),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM bm25 QUALIFY rank <= {_NDCG_K}
    ),
    dcg AS (
      SELECT sum(CAST(round(((1 << rel) - 1) * ({_disc_case_sql()})
                            * {_NDCG_SCALE}) AS BIGINT)) AS s
      FROM ranked JOIN rel USING (doc_id)
    ),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
      FROM rel QUALIFY rank <= {_NDCG_K}
    ),
    idcg AS (
      SELECT sum(CAST(round(((1 << rel) - 1) * ({_disc_case_sql()})
                            * {_NDCG_SCALE}) AS BIGINT)) AS s
      FROM ideal
    )
    SELECT CAST({_NDCG_K} AS BIGINT) AS k,
           CAST(dcg.s AS BIGINT) AS dcg_scaled,
           CAST(idcg.s AS BIGINT) AS idcg_scaled,
           round(CAST(CAST(dcg.s AS BIGINT) AS DOUBLE)
                 / CAST(idcg.s AS BIGINT), 6) AS ndcg
    FROM dcg, idcg
    """,
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval for the BM25 arm: NDCG@10 against graded
    relevance = number of distinct query terms the document contains
    (deterministic, engine-reproducible ground truth). The ranked list
    and the ideal list are both ≤k rows by contract; the corpus-sized
    work is one tokenized scan that feeds BOTH the BM25 scorer and the
    relevance grades. Output is one audit row."""
    from ..operators import text as T

    docs = load(spark, sf_dir, "documents")
    staged = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    rel = pins.cache(staged.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct("toks"),
                F.array(*[F.lit(t) for t in _BM25_TERMS]),
            )
        ).alias("rel"),
    ))

    expr = None
    for r, d in _DISC.items():
        cond = (F.col("rank") == r, F.lit(float(d)))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    disc = expr

    def _scaled_sum(df: DataFrame):
        gain = F.expr("shiftleft(1, rel) - 1")
        term = F.round(gain * disc * F.lit(_NDCG_SCALE)).cast("long")
        return df.agg(F.sum(term).alias("s"))

    ranked_ = R.ranked(
        R.bm25_topk(docs, _BM25_TERMS, k=_NDCG_K),
        [F.desc("score"), F.asc("doc_id")],
        "doc_id",
    )
    dcg = _scaled_sum(ranked_.join(rel, "doc_id"))
    # ideal list: TakeOrderedAndProject prunes the corpus to k rows
    # BEFORE any single-partition window touches it
    ideal10 = rel.orderBy(F.desc("rel"), F.asc("doc_id")).limit(_NDCG_K)
    wi = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = ideal10.withColumn("rank", F.row_number().over(wi))
    idcg = _scaled_sum(ideal)
    return (
        dcg.withColumnRenamed("s", "dcg_scaled")
        .crossJoin(idcg.withColumnRenamed("s", "idcg_scaled"))
        .select(
            F.lit(_NDCG_K).cast("long").alias("k"),
            "dcg_scaled",
            "idcg_scaled",
            F.round(
                F.col("dcg_scaled").cast("double") / F.col("idcg_scaled"), 6
            ).alias("ndcg"),
        )
    )
