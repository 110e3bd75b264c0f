"""Fourth LLM-pipeline wave: materializing the mixture into an
executable epoch plan, and provenance-aware dedup diagnostics.

- mixture_epoch_plan: turns the temperature-scaled source weights +
  a fixed token budget into the integer plan a data loader executes —
  full epochs per source plus an oversample fraction for the
  remainder (the DoReMi/LLaMA-style "how many times does each source
  repeat" table). |sources|-row aggregate; map-only algebra on top.
- source_dedup_crosstab: exact-duplicate pairs split within-source vs
  cross-source per source — the provenance diagnostic that tells a
  curation run WHERE its duplication lives (mirrors duplicated within
  a crawl vs content replicated across crawls). Shuffles bounded by
  |distinct contents|; pair counts are integer algebra on group
  sizes, never materialized pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import pins
from ..operators.dedup import normalized_text
from ..operators import text as T
from ..tables import load
from . import query
from .textops import (
    _MAX_TOKENS,
    _MIN_ALPHA,
    _MIN_TOKENS,
    _NORM,
    _TOKS,
    _minhash_oracle,
)
from .textops2 import _MIX_TAU, _N_TOK, _SHINGLES3
from .textops3 import _SPAN_W

_BUDGET_TOKENS = 1_000_000


# Shares/probs reuse temperature_mixture's exact expression trees (pow
# parity already gate-proven there); targets are round()ed to BIGINT
# once, then everything downstream is integer division/modulo — exact.
@query(
    "mixture_epoch_plan",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(sum({_N_TOK}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT source, n_tokens,
             n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s) AS share
      FROM s
    ),
    t AS (
      SELECT source, n_tokens,
             CAST(round(pow(share, {_MIX_TAU})
                        / (SELECT sum(pow(share, {_MIX_TAU})) FROM p)
                        * {_BUDGET_TOKENS}) AS BIGINT) AS target_tokens
      FROM p
    )
    SELECT source, n_tokens, target_tokens,
           target_tokens // n_tokens AS full_epochs,
           target_tokens % n_tokens AS remainder_tokens,
           round(CAST(target_tokens % n_tokens AS DOUBLE) / n_tokens, 6)
             AS oversample_frac
    FROM t
    WHERE n_tokens > 0
    """,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).alias("n_tokens")
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double")
    p = s.select("source", "n_tokens", share.alias("share"))
    z = F.sum(F.pow(F.col("share"), _MIX_TAU)).over(w)
    target = (
        F.round(F.pow(F.col("share"), _MIX_TAU) / z * _BUDGET_TOKENS)
        .cast("long")
    )
    # an all-empty source would make the epoch division undefined —
    # and DuckDB's integer // raises where Spark's double / yields
    # null, so the guard keeps the engines aligned, not just safe
    t = p.filter(F.col("n_tokens") > 0).select(
        "source", "n_tokens", target.alias("target_tokens")
    )
    rem = F.col("target_tokens") % F.col("n_tokens")
    return t.select(
        "source",
        "n_tokens",
        "target_tokens",
        (F.col("target_tokens") / F.col("n_tokens")).cast("long").alias(
            "full_epochs"
        ),
        rem.alias("remainder_tokens"),
        F.round(rem.cast("double") / F.col("n_tokens"), 6).alias(
            "oversample_frac"
        ),
    )


# Pair counts from group sizes: a content seen k times total, k_s of
# them in source s, contributes C(k_s,2) within-source pairs and
# k_s·(k−k_s) cross-source links to s — no pair is ever materialized,
# so the cost is independent of how pathological the duplication is.
@query(
    "source_dedup_crosstab",
    oracle=f"""
    WITH per AS (
      SELECT md5({_NORM}) AS h, source, count(*) AS ks
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT h, CAST(sum(ks) AS BIGINT) AS k FROM per GROUP BY h)
    SELECT source,
           CAST(sum(CASE WHEN k >= 2 THEN ks ELSE 0 END) AS BIGINT)
             AS dup_docs,
           CAST(sum(ks * (ks - 1) // 2) AS BIGINT) AS within_pairs,
           CAST(sum(ks * (k - ks)) AS BIGINT) AS cross_links
    FROM per JOIN tot USING (h)
    GROUP BY source
    """,
)
def source_dedup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # two consumers (join probe + content totals): pinned so the
    # corpus is hashed/aggregated once, not once per consumer
    per = pins.cache(
        docs.select(
            F.md5(normalized_text(F.col("text"))).alias("h"), "source"
        )
        .groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("ks"))
    )
    tot = per.groupBy("h").agg(F.sum("ks").alias("k"))
    j = per.join(tot, "h")
    return j.groupBy("source").agg(
        F.sum(F.when(F.col("k") >= 2, F.col("ks")).otherwise(0)).alias(
            "dup_docs"
        ),
        F.sum(
            (F.col("ks") * (F.col("ks") - 1) / 2).cast("long")
        ).alias("within_pairs"),
        F.sum(F.col("ks") * (F.col("k") - F.col("ks"))).alias("cross_links"),
    )


# --- leakage-safe train/val/test split --------------------------------------

_LSP_HASH_D = (
    "CAST(('0x' || substr(md5('lsp|' || CAST(cluster_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100"
)
_LSP_HASH_S = (
    "pmod(conv(substring(md5(concat('lsp|', cast(cluster_id as string))), "
    "1, 8), 16, 10), 100)"
)


# Near-dup-aware split: hash the near-dup CLUSTER id, not the doc id —
# two near-duplicate documents can never straddle train/val, the
# leakage mode a per-doc hash split (stratified_split_counts) cannot
# rule out. Plan: the LSH candidate pairs + pointer-jumping connected
# components already benchmarked by dedup_clusters, then a map-side
# hash on the cluster label. At 100 TB the split adds ZERO shuffles on
# top of clustering; singleton docs (no near-dup) hash on their own id
# because their cluster_id IS their doc_id.
@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({{minhash_pairs}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM walk GROUP BY id)
    SELECT doc_id, cluster_id,
           CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
                WHEN {_LSP_HASH_D} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM clusters
    """.replace("{minhash_pairs}", _minhash_oracle().strip()),
    bench=True,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.connected_components(pairs, docs.select("doc_id"))
    h = F.expr(_LSP_HASH_S)
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    return clusters.select("doc_id", "cluster_id", split.alias("split"))


# Census over the leakage-safe split: the per-(lang, split) doc and
# token counts that verify the CLUSTER-hash split didn't skew any
# stratum — the same audit stratified_split_counts provides for the
# per-doc hash split, over the dedup-aware assignment instead. Adds
# one broadcast-sized join (cluster assignment ⋈ documents) and one
# grouped agg on top of the clustering it reuses.
@query(
    "leakage_split_census",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({{minhash_pairs}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM walk GROUP BY id),
    assigned AS (
      SELECT doc_id,
             CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
                  WHEN {_LSP_HASH_D} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters
    )
    SELECT d.lang, a.split, count(*) AS n_docs,
           CAST(sum({_N_TOK}) AS BIGINT) AS n_tokens
    FROM documents d JOIN assigned a USING (doc_id)
    GROUP BY 1, 2
    """.replace("{minhash_pairs}", _minhash_oracle().strip()),
)
def leakage_split_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.connected_components(pairs, docs.select("doc_id"))
    h = F.expr(_LSP_HASH_S)
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    assigned = clusters.select("doc_id", split.alias("split"))
    return (
        docs.join(assigned, "doc_id")
        .groupBy(F.col("lang"), F.col("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(F.col("text"))).alias("n_tokens"),
        )
    )


# Residual-contamination audit for the leakage-safe split: the cluster
# hash guarantees no LSH CANDIDATE pair straddles splits, but LSH is
# probabilistic — weaker overlaps (a shared phrase below the collision
# threshold) can still cross. This measures that residue directly:
# distinct 3-gram shingles present in BOTH splits of each pair. NO
# pair join — one groupBy(shingle) with boolean split flags, then a
# single-row conditional sum (vocab-bounded shuffle, the same
# asymptotics as the decontamination pass).
@query(
    "split_contamination_audit",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({{minhash_pairs}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM walk GROUP BY id),
    assigned AS (
      SELECT doc_id,
             CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
                  WHEN {_LSP_HASH_D} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters
    ),
    sh AS ({{shingles3}}),
    flags AS (
      SELECT sh.shingle,
             max(CASE WHEN a.split = 'train' THEN 1 ELSE 0 END) AS in_train,
             max(CASE WHEN a.split = 'val' THEN 1 ELSE 0 END) AS in_val,
             max(CASE WHEN a.split = 'test' THEN 1 ELSE 0 END) AS in_test
      FROM sh JOIN assigned a USING (doc_id)
      GROUP BY sh.shingle
    )
    SELECT count(*) AS n_shingles,
           CAST(sum(in_train * in_test) AS BIGINT) AS train_test,
           CAST(sum(in_train * in_val) AS BIGINT) AS train_val,
           CAST(sum(in_val * in_test) AS BIGINT) AS val_test
    FROM flags
    """.replace("{minhash_pairs}", _minhash_oracle().strip())
    .replace("{shingles3}", _SHINGLES3.strip()),
)
def split_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.connected_components(pairs, docs.select("doc_id"))
    h = F.expr(_LSP_HASH_S)
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    assigned = clusters.select("doc_id", split.alias("split"))
    sh = D.doc_shingles(docs, n=3)
    flags = (
        sh.join(assigned, "doc_id")
        .groupBy("shingle")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "in_train"
            ),
            F.max(F.when(F.col("split") == "val", 1).otherwise(0)).alias(
                "in_val"
            ),
            F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
                "in_test"
            ),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("in_train") * F.col("in_test")).alias("train_test"),
        F.sum(F.col("in_train") * F.col("in_val")).alias("train_val"),
        F.sum(F.col("in_val") * F.col("in_test")).alias("val_test"),
    )


# --- the full curation pipeline, composed end-to-end ------------------------

# curation_v2 chains EVERY curation family through one plan (VERDICT r9
# ask #5): quality gate → exact dedup → MinHash-LSH near-dup drop →
# cross-doc substring-span scrub → cluster-hash leakage-safe split →
# per-split temperature mixture plan. curated_documents proves the
# first three compose; this proves the whole funnel composes — each
# stage's OUTPUT is the next stage's INPUT, so a semantics drift in any
# one operator corrupts the final integer plan the oracle checks.
#
# 100 TB shape (the composition adds nothing beyond its stages'
# individual shapes, which is the point):
# - quality/exact/LSH: one corpus scan cached, md5-groupBy, banded
#   candidate join — all individually gate-proven and benched.
# - span scrub runs on the SURVIVOR corpus (post-dedup, the smaller
#   side); its shuffle is bounded by survivor token count.
# - connected components runs on the candidate-pair residue only.
# - split + mixture are a map-side hash and a |splits × sources|-row
#   window aggregate — free at any scale.
# Caches pin the two multiply-consumed frames (kept_docs feeds the LSH
# join and the survivor anti-join; pairs feeds the drop AND the CC);
# at 100 TB both swap for parquet checkpoints.
@query(
    "curation_v2",
    oracle=f"""
    WITH RECURSIVE quality AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
               round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                     / len(lower(text)), 4) AS alpha_ratio
        FROM documents
      ) WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
          AND alpha_ratio >= {_MIN_ALPHA}
    ),
    exact_kept AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM quality)
      GROUP BY md5({_NORM})
    ),
    all_pairs AS ({{minhash_pairs}}),
    near_pairs AS (
      SELECT id_a, id_b FROM all_pairs
      WHERE id_a IN (SELECT doc_id FROM exact_kept)
        AND id_b IN (SELECT doc_id FROM exact_kept)
    ),
    survivors AS (
      SELECT doc_id FROM exact_kept
      WHERE doc_id NOT IN (SELECT id_b FROM near_pairs)
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near_pairs
      UNION ALL
      SELECT id_b, id_a FROM near_pairs
    ),
    walk AS (
      SELECT doc_id AS id, doc_id AS label FROM exact_kept
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM walk GROUP BY id),
    st AS (
      SELECT d.doc_id, d.source, {_TOKS} AS toks
      FROM documents d JOIN survivors USING (doc_id)
    ),
    sw AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i + {_SPAN_W - 1}], ' ')) AS fp
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_SPAN_W - 1})) AS i
        FROM st
      )
    ),
    dupw AS (
      SELECT doc_id, pos FROM sw
      WHERE fp IN (SELECT fp FROM sw GROUP BY fp HAVING count(*) >= 2)
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_W}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dupw
      )
    ),
    cut AS (
      SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS cut_tokens FROM (
        SELECT doc_id, max(pos) + {_SPAN_W} - min(pos) AS span_tokens
        FROM isl GROUP BY doc_id, island
      ) GROUP BY doc_id
    ),
    per_doc AS (
      SELECT st.doc_id, st.source,
             len(st.toks) - COALESCE(c.cut_tokens, 0) AS n_tok,
             CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
                  WHEN {_LSP_HASH_D} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM st
      JOIN clusters USING (doc_id)
      LEFT JOIN cut c USING (doc_id)
    ),
    strata AS (
      SELECT split, source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY 1, 2
    ),
    p AS (
      SELECT split, source, n_docs, n_tokens,
             n_tokens / CAST(sum(n_tokens) OVER (PARTITION BY split)
                             AS DOUBLE) AS share
      FROM strata
    ),
    t AS (
      SELECT split, source, n_docs, n_tokens,
             CAST(round(pow(share, {_MIX_TAU})
                        / sum(pow(share, {_MIX_TAU}))
                            OVER (PARTITION BY split)
                        * {_BUDGET_TOKENS}) AS BIGINT) AS target_tokens
      FROM p WHERE n_tokens > 0
    )
    SELECT split, source, n_docs, n_tokens, target_tokens,
           target_tokens // n_tokens AS full_epochs,
           round(CAST(target_tokens % n_tokens AS DOUBLE) / n_tokens, 6)
             AS oversample_frac
    FROM t
    """.replace("{minhash_pairs}", _minhash_oracle().strip()),
    bench=True,
)
def curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    staged = docs.select("doc_id", "source", c, T.tokens(c).alias("_toks"))
    quality = pins.cache(
        staged.filter(
            F.size("_toks").between(_MIN_TOKENS, _MAX_TOKENS)
            & (T.alpha_ratio(c) >= _MIN_ALPHA)
        )
        .select("doc_id", "source", "text")
    )
    exact_kept = (
        quality.groupBy(F.md5(normalized_text(F.col("text"))).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept_docs = pins.cache(quality.join(exact_kept, "doc_id", "left_semi"))
    pairs = pins.cache(D.minhash_lsh_candidates(kept_docs))
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = pins.cache(kept_docs.join(dropped, "doc_id", "left_anti"))
    clusters = D.connected_components(pairs, kept_docs.select("doc_id"))
    clean = D.drop_duplicate_spans(
        survivors.select("doc_id", "text"), window=_SPAN_W
    )
    clean_tok = clean.select(
        "doc_id", T.token_count(F.col("text")).alias("n_tok")
    )
    h = F.expr(_LSP_HASH_S)
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    per_doc = (
        survivors.select("doc_id", "source")
        .join(clean_tok, "doc_id")
        .join(clusters, "doc_id")
        .select("source", "n_tok", split.alias("split"))
    )
    strata = per_doc.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    w = Window.partitionBy("split")
    share = F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double")
    p = strata.select(
        "split", "source", "n_docs", "n_tokens", share.alias("share")
    )
    z = F.sum(F.pow(F.col("share"), _MIX_TAU)).over(w)
    target = (
        F.round(F.pow(F.col("share"), _MIX_TAU) / z * _BUDGET_TOKENS)
        .cast("long")
    )
    t = p.filter(F.col("n_tokens") > 0).select(
        "split", "source", "n_docs", "n_tokens",
        target.alias("target_tokens"),
    )
    return t.select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        "target_tokens",
        (F.col("target_tokens") / F.col("n_tokens")).cast("long").alias(
            "full_epochs"
        ),
        F.round(
            (F.col("target_tokens") % F.col("n_tokens")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("oversample_frac"),
    )
