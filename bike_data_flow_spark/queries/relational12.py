"""Round-7 coverage batch: data-quality law checks, fulfillment
latency banding, behavioral entropy, template/permutation dedup,
chunk-boundary stitching, reciprocal-NN confirmation, and MMR
diversified retrieval.

Engine-parity patterns as established in earlier modules: exact
integer arithmetic wherever a sum crosses rows (cents, day counts),
sorted-array folds where a float reduction is unavoidable (entropy),
and rounded-then-combined cosines for the vector ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import pins
from ..operators import similarity as S
from ..tables import load
from . import query
from .vectors import _sql_bucket, _sql_cos


# Benford's-law first-digit audit on order totals — the classic
# fabricated-data / unit-mix-bug detector for financial columns. The
# first significant digit comes from the INTEGER cents via string head
# (never log10 of a double, whose power-of-ten boundaries diverge
# across engines); expected share is log10(1 + 1/d).
@query(
    "benford_first_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents WHERE c > 0
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
    SELECT digit, count(*) AS n_orders,
           round(count(*) / any_value(tot.n), 6) AS obs_share,
           round(log10(1 + 1.0 / digit), 6) AS benford_share
    FROM d, tot GROUP BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).filter(F.col("c") > 0)
    d = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.round(F.col("n_orders") / F.col("n"), 6).alias("obs_share"),
            F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias(
                "benford_share"
            ),
        )
    )


# Order→ship fulfillment latency bands: the operational-SLA histogram.
# Day counts and money cross rows as exact integers (epoch-ms integer
# division, cents BIGINT sums); only final presentation divides.
@query(
    "ship_latency_bands",
    oracle="""
    WITH lat AS (
      SELECT (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000
               AS days,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    banded AS (
      SELECT CASE WHEN days < 7 THEN 'under_1w'
                  WHEN days < 30 THEN '1w_to_1m'
                  WHEN days < 90 THEN '1m_to_3m'
                  ELSE 'over_3m' END AS band,
             days, cents
      FROM lat
    )
    SELECT band, count(*) AS n_items,
           round(CAST(sum(days) AS DOUBLE) / count(*), 2) AS avg_days,
           round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
    FROM banded GROUP BY band
    """,
)
def ship_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (
            (
                F.unix_millis(F.col("l_shipdate").cast("timestamp"))
                - F.unix_millis(F.col("o_orderdate").cast("timestamp"))
            )
            / F.lit(86400000)
        )
        .cast("bigint")
        .alias("days"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    banded = lat.select(
        F.when(F.col("days") < 7, "under_1w")
        .when(F.col("days") < 30, "1w_to_1m")
        .when(F.col("days") < 90, "1m_to_3m")
        .otherwise("over_3m")
        .alias("band"),
        "days",
        "cents",
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum("days").cast("double") / F.count(F.lit(1)), 2
        ).alias("avg_days"),
        F.round(F.sum("cents").cast("double") / 100.0, 2).alias("revenue"),
    )


# Behavioral entropy per user: Shannon entropy of the event-type mix —
# the bot/monoculture detector (H≈0 = single-type users, H≈ln(5) =
# uniform). The only unavoidable float reduction (Σ n·ln n over type
# counts) folds over the SORTED count array on both engines, so the
# IEEE addition order is pinned; everything else is exact integers.
@query(
    "user_type_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    a AS (
      SELECT user_id,
             list_sort(list(n)) AS cs,
             CAST(sum(n) AS BIGINT) AS nn,
             count(*) AS n_types
      FROM c GROUP BY user_id
    )
    SELECT user_id, n_types, nn AS n_events,
           round(ln(nn) - list_aggregate(
               [CAST(x AS DOUBLE) * ln(x) FOR x IN cs], 'sum') / nn,
             6) AS entropy_nats
    FROM a
    """,
)
def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = c.groupBy("user_id").agg(
        F.sort_array(F.collect_list("n")).alias("cs"),
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).alias("n_types"),
    )
    fold = F.aggregate(
        F.col("cs"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * F.log(x.cast("double")),
    )
    return a.select(
        "user_id",
        "n_types",
        F.col("nn").alias("n_events"),
        F.round(F.log(F.col("nn").cast("double")) - fold / F.col("nn"), 6)
        .alias("entropy_nats"),
    )


# Template duplicates: documents built from the SAME word set even
# though order and repetition differ — the shuffled/padded-boilerplate
# class exact-hash dedup misses. Canonical key = md5 of the sorted
# DISTINCT token list (set semantics: repetition is the template's
# noise, the vocabulary is its identity); groups are a plain hash
# groupBy, so the shape scales like exact dedup.
def _permutation_keyed(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.sort_array(F.array_distinct(F.split("text", " ")))
            )
        ).alias("perm_key"),
    )


def permutation_clusters(docs: DataFrame) -> DataFrame:
    """EXPLODED membership rows (doc_id, cluster_id, n_docs) for every
    permutation-duplicate group — the scalable emission (the
    dedup_exact_groups shape: per-group state is two scalars, never an
    unbounded collected array; a viral template with millions of
    members is millions of ROWS, not one giant row on one task).
    Two keyed shuffles: group agg + membership join back."""
    keyed = _permutation_keyed(docs)
    groups = (
        keyed.groupBy("perm_key")
        .agg(
            F.min("doc_id").alias("cluster_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return keyed.join(groups, "perm_key").select(
        "doc_id", "cluster_id", "n_docs"
    )


@query(
    "permutation_duplicate_membership",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS perm_key
      FROM documents
    ),
    g AS (
      SELECT perm_key, min(doc_id) AS cluster_id, count(*) AS n_docs
      FROM keyed GROUP BY perm_key HAVING count(*) > 1
    )
    SELECT k.doc_id, g.cluster_id, g.n_docs
    FROM keyed k JOIN g USING (perm_key)
    """,
)
def permutation_duplicate_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return permutation_clusters(load(spark, sf_dir, "documents"))


@query(
    "permutation_duplicate_groups",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS perm_key
      FROM documents
    )
    SELECT min(doc_id) AS cluster_id, count(*) AS n_docs,
           array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',')
             AS doc_ids_csv
    FROM keyed GROUP BY perm_key HAVING count(*) > 1
    """,
)
def permutation_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gate-scale PRESENTATION of the scalable membership rows: the CSV
    # roll-up (a per-group collected array) lives ONLY here, in the
    # oracle-gate query; the operator path (permutation_clusters) emits
    # exploded rows and never holds an unbounded per-group payload
    members = permutation_clusters(load(spark, sf_dir, "documents"))
    return (
        members.groupBy("cluster_id", "n_docs")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))),
                ",",
            ).alias("doc_ids_csv")
        )
        .select("cluster_id", "n_docs", "doc_ids_csv")
    )


_STITCH_K = 3  # token overlap length for boundary stitching

# Support cap on the boundary key: real crawl text has TEMPLATED
# boundaries (". The", list separators, boilerplate) whose key groups
# degenerate the equi-join toward n² — the same skew class
# doc_shingles guards with max_shingle_freq. Keys whose suffix- or
# prefix-side support exceeds the cap are dropped (a boundary shared
# by >cap documents is boilerplate, not a split point). Far above the
# gate data's max support (4 at sf0.1), so gate results are exactly
# the uncapped join.
_STITCH_MAX_KEY_FREQ = 1000


def stitch_pairs(
    docs: DataFrame,
    k: int = _STITCH_K,
    max_key_freq: int | None = _STITCH_MAX_KEY_FREQ,
    log_drops: bool = False,
) -> DataFrame:
    """(a_id, b_id, stitch_key) where a's LAST k tokens equal b's FIRST
    k tokens. Pair work is Σ (suffix support × prefix support) per key,
    bounded by ``max_key_freq``² per key once hot keys are dropped.
    ``log_drops=True`` pays one tiny agg job to WARN how many hot keys
    were suppressed (scale forensics; default off keeps the plan lazy).
    """
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= k
    )
    keys = t.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("toks"), -k, k)).alias("suffix_key"),
        F.concat_ws(" ", F.slice(F.col("toks"), 1, k)).alias("prefix_key"),
    )
    a = keys.select(
        F.col("doc_id").alias("a_id"), F.col("suffix_key").alias("stitch_key")
    )
    b = keys.select(
        F.col("doc_id").alias("b_id"), F.col("prefix_key").alias("stitch_key")
    )
    if max_key_freq is not None:
        # hot = keys over-supported on EITHER side; ≤ n/cap rows by
        # construction, so the anti-join's build side stays small (AQE
        # picks broadcast at runtime)
        hot = (
            a.groupBy("stitch_key").agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_key_freq)
            .select("stitch_key")
            .union(
                b.groupBy("stitch_key")
                .agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > max_key_freq)
                .select("stitch_key")
            )
            .distinct()
        )
        if log_drops:
            import logging

            n_hot = hot.count()
            if n_hot:
                logging.getLogger(__name__).warning(
                    "stitch_pairs: dropped %d boundary keys with support > %d",
                    n_hot,
                    max_key_freq,
                )
        a = a.join(hot, "stitch_key", "left_anti")
        b = b.join(hot, "stitch_key", "left_anti")
    return (
        a.join(b, "stitch_key")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "stitch_key")
    )


# Chunk-boundary stitching: pairs (a, b) where a's LAST k tokens equal
# b's FIRST k tokens — the split-document reconstruction join every
# crawl/chunking pipeline needs before training (a document cut across
# records re-assembles via its boundary fingerprint). Equi-join on the
# boundary key, so pair work is Σ key-group² — and the hot-key cap
# (stitch_pairs) keeps templated boundaries from degenerating that
# toward n² on crawl-scale input.
@query(
    "chunk_stitch_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
    ),
    keys AS (
      SELECT doc_id,
             array_to_string(toks[-{_STITCH_K}:], ' ') AS suffix_key,
             array_to_string(toks[1:{_STITCH_K}], ' ') AS prefix_key
      FROM t WHERE len(toks) >= {_STITCH_K}
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           a.suffix_key AS stitch_key
    FROM keys a JOIN keys b
      ON a.suffix_key = b.prefix_key AND a.doc_id <> b.doc_id
    """,
)
def chunk_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stitch_pairs(load(spark, sf_dir, "documents"))


_MUTUAL_K = 3  # must match vectors._KNN_K so the edge sets agree


# Reciprocal nearest neighbors: pairs where EACH vector is in the
# other's k-NN list — the high-precision core of the near-dup graph
# (mutual-kNN edges are the standard "definitely related" filter
# before clustering). One self-join of the k-bounded edge list:
# |edges| ≤ k·n rows, so the join is linear in the corpus.
@query(
    "mutual_knn_pairs",
    bench=True,
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
             round({_sql_cos("a.embedding", "b.embedding")}, 6) + 0.0
               AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ek AS (
      SELECT src_id, dst_id, cos_sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= {_MUTUAL_K}
    )
    SELECT a.src_id AS id_a, a.dst_id AS id_b, a.cos_sim
    FROM ek a JOIN ek b
      ON a.src_id = b.dst_id AND a.dst_id = b.src_id
    WHERE a.src_id < a.dst_id
    """,
)
def mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import knn_graph_edges

    # lazy cache: the reciprocal self-join consumes the k-NN edge plan
    # twice — without it the bucket-GEMM + window pipeline evaluates
    # once per side inside the single action
    e = pins.cache(
        knn_graph_edges(spark, sf_dir)
        .select("src_id", "dst_id", "cos_sim")
    )
    a = e.select(
        F.col("src_id").alias("id_a"),
        F.col("dst_id").alias("id_b"),
        "cos_sim",
    )
    b = e.select(
        F.col("dst_id").alias("id_a"), F.col("src_id").alias("id_b")
    )
    return (
        a.join(b, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cos_sim")
    )


_MMR_LAMBDA = 0.7
_MMR_QUERY_ID = 0


# Maximal Marginal Relevance: greedy top-3 that trades query relevance
# against redundancy with already-selected results — the diversified
# retrieval every RAG/eval pipeline wants instead of 3 near-identical
# hits. Three rounds, each ONE argmax over candidates crossJoined with
# the ≤2-row selected set (broadcast scalars, no driver collect); all
# cosines round to 6dp BEFORE the λ-combination, so both engines
# compare identical doubles. The oracle unrolls the same three rounds.
@query(
    "mmr_diversified_topk",
    bench=True,
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}
    ),
    r AS (
      SELECT e.vec_id, e.embedding,
             round({_sql_cos("e.embedding", "q.qe")}, 6) + 0.0 AS rel
      FROM embeddings e, q WHERE e.vec_id <> {_MMR_QUERY_ID}
    ),
    s1 AS (SELECT * FROM r ORDER BY rel DESC, vec_id ASC LIMIT 1),
    m2 AS (
      SELECT r.vec_id, r.embedding, r.rel,
             round({_MMR_LAMBDA} * r.rel - {round(1 - _MMR_LAMBDA, 10)} *
               (round({_sql_cos("r.embedding", "s1.embedding")}, 6) + 0.0),
               6) AS mmr
      FROM r, s1 WHERE r.vec_id <> s1.vec_id
    ),
    s2 AS (SELECT * FROM m2 ORDER BY mmr DESC, vec_id ASC LIMIT 1),
    m3 AS (
      SELECT m2.vec_id,
             round({_MMR_LAMBDA} * m2.rel - {round(1 - _MMR_LAMBDA, 10)} *
               greatest(
                 round({_sql_cos("m2.embedding", "s1.embedding")}, 6) + 0.0,
                 round({_sql_cos("m2.embedding", "s2.embedding")}, 6) + 0.0),
               6) AS mmr
      FROM m2, s1, s2 WHERE m2.vec_id <> s2.vec_id
    ),
    s3 AS (SELECT * FROM m3 ORDER BY mmr DESC, vec_id ASC LIMIT 1)
    SELECT 1 AS sel_rank, vec_id, round(rel, 6) AS score FROM s1
    UNION ALL
    SELECT 2, vec_id, mmr FROM s2
    UNION ALL
    SELECT 3, vec_id, mmr FROM s3
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("qe")
    )
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 10)

    def cos(a, b):
        return (F.round(S.dot(a, b) / (S.norm(a) * S.norm(b)), 6) + F.lit(0.0))

    r = pins.cache(
        emb.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            cos(F.col("embedding"), F.col("qe")).alias("rel"),
        )
    )
    s1 = r.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1)
    s1b = F.broadcast(
        s1.select(
            F.col("vec_id").alias("s1_id"),
            F.col("embedding").alias("s1e"),
            F.col("rel").alias("s1_rel"),
        )
    )
    m2 = (
        r.crossJoin(s1b)
        .filter(F.col("vec_id") != F.col("s1_id"))
        .select(
            "vec_id",
            "embedding",
            "rel",
            "s1e",
            F.round(
                F.lit(lam) * F.col("rel")
                - F.lit(mu) * cos(F.col("embedding"), F.col("s1e")),
                6,
            ).alias("mmr"),
        )
    )
    s2 = m2.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1)
    s2b = F.broadcast(
        s2.select(
            F.col("vec_id").alias("s2_id"), F.col("embedding").alias("s2e")
        )
    )
    m3 = (
        m2.crossJoin(s2b)
        .filter(F.col("vec_id") != F.col("s2_id"))
        .select(
            "vec_id",
            F.round(
                F.lit(lam) * F.col("rel")
                - F.lit(mu)
                * F.greatest(
                    cos(F.col("embedding"), F.col("s1e")),
                    cos(F.col("embedding"), F.col("s2e")),
                ),
                6,
            ).alias("mmr"),
        )
    )
    s3 = m3.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1)
    out1 = s1.select(
        F.lit(1).alias("sel_rank"),
        "vec_id",
        F.round("rel", 6).alias("score"),
    )
    out2 = s2.select(
        F.lit(2).alias("sel_rank"), "vec_id", F.col("mmr").alias("score")
    )
    out3 = s3.select(
        F.lit(3).alias("sel_rank"), "vec_id", F.col("mmr").alias("score")
    )
    return out1.unionByName(out2).unionByName(out3)
