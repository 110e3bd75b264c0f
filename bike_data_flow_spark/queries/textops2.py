"""Second LLM-pipeline wave: the corpus-preparation steps that sit
between "deduplicated documents" and "training batches":

- benchmark decontamination  (n-gram overlap vs a held-out eval set)
- concatenate-and-chunk sequence packing (token-budget chunks)
- domain-mixture reweighting (per-source sampling weights)

All three are single-pass DataFrame plans over `documents` with DuckDB
oracles built from the same constants. Reference repo has no
counterpart (bike telemetry); these extend the engine the way
`SURVEY.md §2`'s charter calls for — training-data pipeline ops as
first-class, oracle-checked components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators import pins
from ..operators import text as T
from ..tables import load
from . import query
from .textops import _TOKS, _sql_hash

# Deterministic stand-in for the eval-benchmark membership list (no
# such list ships with the corpus): every 97th doc_id. In production
# this is a lookup table of benchmark documents.
_BENCH_MOD = 97

# Concatenate-and-chunk constants: docs are hashed into PACK_GROUPS
# independent streams (one per trainer shard), concatenated in doc_id
# order, and cut every SEQ_BUDGET whitespace tokens.
_PACK_GROUPS = 8
_SEQ_BUDGET = 256

_N_TOK = """CASE WHEN len(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END"""

# Production decontamination uses 8-13-gram overlap; this synthetic
# corpus is random short text, so 3-grams are the smallest n with a
# non-trivial contaminated set (171 docs at sf0.01 vs 1 at 5-grams) —
# the strongest correctness gate for the same plan shape.
_DECON_N = 3

_SHINGLES3 = """
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents)
    )
"""


# Train/eval decontamination: a training doc is contaminated when it
# shares any _DECON_N-gram shingle with a benchmark doc. Plan: distinct
# benchmark shingle set (tiny — eval suites are KBs-to-MBs while the
# corpus is TBs) broadcast against the training side's shingles, then
# one count per doc. The fact-side explode never shuffles: the
# broadcast hash join + partial count happen map-side, and only
# (doc_id, partial_count) rows — bounded by |contaminated docs| —
# reach the final exchange.
@query(
    "decontaminated_documents",
    oracle=f"""
    WITH sh AS ({_SHINGLES3})
    SELECT t.doc_id, count(*) AS n_shared_shingles
    FROM sh t
    JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0) b
      ON t.shingle = b.shingle
    WHERE t.doc_id % {_BENCH_MOD} <> 0
    GROUP BY t.doc_id
    """,
)
def decontaminated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = D.doc_shingles(docs, n=_DECON_N)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    train = sh.filter(~is_bench)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# Concatenate-and-chunk packing: within each of PACK_GROUPS
# deterministic streams (doc_id mod — in production, hash mod), docs
# are concatenated in doc_id order and cut every SEQ_BUDGET tokens; a
# doc belongs to the chunk where it STARTS (floor(start_offset /
# budget)). One window cumsum per group + one partial agg — the window
# and the groupBy share the pack_group hash partitioning, so the plan
# is a single exchange regardless of corpus size, and each stream's
# sort is independent (PACK_GROUPS-way parallel, no global sort).
@query(
    "packed_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % {_PACK_GROUPS} AS pack_group,
             {_N_TOK} AS n_tok
      FROM documents
    ),
    c AS (
      SELECT pack_group, n_tok,
             sum(n_tok) OVER (PARTITION BY pack_group ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT pack_group, CAST((cum - n_tok) // {_SEQ_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens_started
    FROM c
    GROUP BY 1, 2
    """,
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_GROUPS).alias("pack_group"),
        T.token_count(F.col("text")).alias("n_tok"),
    )
    w = Window.partitionBy("pack_group").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t.withColumn("cum", F.sum("n_tok").over(w))
        .groupBy(
            "pack_group",
            F.floor((F.col("cum") - F.col("n_tok")) / _SEQ_BUDGET).alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens_started"),
        )
    )


# Domain-mixture reweighting: per-source token mass and the sampling
# weight that would flatten the mixture to uniform-over-sources.
# Integer token sums are exact (no float-order flake); the two windows
# run over the |sources|-row aggregate, not the corpus.
@query(
    "source_mixture_weights",
    oracle=f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs, CAST(sum({_N_TOK}) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share,
           round(sum(n_tokens) OVER () / (count(*) OVER () * n_tokens), 4)
             AS uniform_weight
    FROM s
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    n_src = F.count(F.lit(1)).over(w)
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / total, 6).alias("token_share"),
        F.round(total / (n_src * F.col("n_tokens")), 4).alias("uniform_weight"),
    )


# Overlapping token-window chunking — the step before embedding: long
# documents become fixed-budget windows with overlap so no span loses
# context at a boundary. Pure Column algebra (sequence + posexplode +
# slice): the explode multiplies rows ~n_tok/step ×, but each output
# row is narrow and the operation stays map-side — zero shuffles
# before whatever consumes the chunks.
_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


@query(
    "document_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, toks,
             [s FOR s IN generate_series(
                1, greatest(1, len(toks) - {_CHUNK_OVERLAP}),
                {_CHUNK_TOKENS - _CHUNK_OVERLAP})] AS starts
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents)
    ),
    u AS (
      SELECT doc_id, toks,
             generate_subscripts(starts, 1) - 1 AS chunk_idx,
             unnest(starts) AS s
      FROM t
    )
    SELECT doc_id, chunk_idx,
           array_to_string(list_slice(toks, s, s + {_CHUNK_TOKENS} - 1), ' ')
             AS chunk_text,
           CASE WHEN len(trim(array_to_string(
                  list_slice(toks, s, s + {_CHUNK_TOKENS} - 1), ' '))) = 0 THEN 0
                ELSE len(list_slice(toks, s, s + {_CHUNK_TOKENS} - 1))
           END AS n_chunk_tokens
    FROM u
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", T.tokens(F.col("text")).alias("_toks"))
    with_starts = toked.select(
        "doc_id",
        "_toks",
        T.chunk_starts(F.col("_toks"), _CHUNK_TOKENS, _CHUNK_OVERLAP).alias("_starts"),
    )
    exploded = with_starts.select(
        "doc_id",
        "_toks",
        F.posexplode("_starts").alias("chunk_idx", "_start"),
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        T.chunk_tokens(F.col("_toks"), F.col("_start"), _CHUNK_TOKENS).alias(
            "chunk_text"
        ),
        T.token_count(
            T.chunk_tokens(F.col("_toks"), F.col("_start"), _CHUNK_TOKENS)
        ).alias("n_chunk_tokens"),
    )


# Token-entropy quality signal (Gopher-adjacent): low-entropy docs are
# repetitive boilerplate, high-entropy ones keyboard mash; both are
# cut candidates. H = log2(n) - (Σ c·log2 c)/n over the in-doc token
# histogram — two partial-agg shuffles (doc×token, then doc), all
# JVM-side math.
@query(
    "doc_token_entropy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS c FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
      ) GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct_tokens,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS token_entropy
    FROM tf
    GROUP BY doc_id
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return tf.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.round(F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 4).alias(
            "token_entropy"
        ),
    )


# Bloom-filter decontamination — the fixed-size-broadcast alternative
# to `decontaminated_documents`'s shingle semi-join. The benchmark
# shingle set folds into a 256 KB bitmap (operators/bloom.py) that
# probes the training side entirely map-side: at 100 TB the probe adds
# ZERO shuffles and the broadcast is constant-size no matter how large
# the eval suite grows. Bloom answers are one-sided (no false
# negatives, tunable ~1e-5 false positives), so the production pattern
# is bloom-prefilter → exact verify of the tiny survivor set. The gate
# proves both halves: the oracle hash-verifies the exact contaminated
# count, and two embedded booleans assert the bloom missed nothing
# (soundness) and over-flagged at most 5%+50 docs (tightness).
_BLOOM_BITS = 1 << 21
_BLOOM_K = 4


@query(
    "bloom_decontamination",
    oracle=f"""
    WITH sh AS ({_SHINGLES3}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    exact AS (
      SELECT DISTINCT t.doc_id
      FROM sh t JOIN bench b ON t.shingle = b.shingle
      WHERE t.doc_id % {_BENCH_MOD} <> 0
    )
    SELECT count(*) AS n_contaminated,
           TRUE AS bloom_sound,
           TRUE AS bloom_tight
    FROM exact
    """,
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bloom as B

    docs = load(spark, sf_dir, "documents")
    sh = pins.cache(D.doc_shingles(docs, n=_DECON_N))
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    train = sh.filter(~is_bench)

    bf = B.bloom_build(bench, F.col("shingle"), _BLOOM_BITS, _BLOOM_K)
    # flagged and exact each feed two consumers (their own count + the
    # soundness anti-join) — cache the doc-id residues (tiny) so the
    # probe and the broadcast join run once, not twice
    flagged = pins.cache(
        B.with_bloom_flag(train, bf, F.col("shingle"), _BLOOM_BITS, _BLOOM_K)
        .filter(F.col("in_bloom"))
        .select("doc_id")
        .distinct()
    )
    exact = pins.cache(
        train.join(F.broadcast(bench), "shingle").select("doc_id").distinct()
    )

    n_exact = exact.agg(F.count(F.lit(1)).alias("n_contaminated"))
    n_flag = flagged.agg(F.count(F.lit(1)).alias("_n_bloom"))
    n_miss = exact.join(flagged, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("_n_missed")
    )
    return (
        n_exact.crossJoin(n_flag)
        .crossJoin(n_miss)
        .select(
            "n_contaminated",
            (F.col("_n_missed") == 0).alias("bloom_sound"),
            (
                F.col("_n_bloom")
                <= F.col("n_contaminated") * F.lit(1.05) + F.lit(50)
            ).alias("bloom_tight"),
        )
    )


# Unigram language-model scoring — the perplexity-proxy quality filter
# (the CCNet-style recipe scores docs with a KenLM model; with no LM
# library in the container, the engine trains the simplest model that
# exists — corpus unigram frequencies — inside the same query). Plan:
# one token-keyed aggregate builds the "model" (vocab-sized, NOT
# corpus-sized), the corpus joins back to it token-by-token, and a
# per-doc aggregate averages the negative log-probability. High
# avg_neg_logprob = surprising/garbage text; low = repetitive
# boilerplate. At 100 TB: the token aggregate is Zipf-skewed (AQE
# skew-split handles the head tokens), and the freq side of the join
# broadcasts while vocabularies fit (~10⁷ rows) — beyond that it's a
# sort-merge join on the token key.
@query(
    "doc_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(-avg(ln(c / t)), 4) AS avg_neg_logprob
    FROM tok JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    return (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg(F.log(F.col("c") / F.col("t"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
    )


# Unicode-aware text profiling (diacritic parity): the ASCII [a-z]
# operators undercount letters for the reference's Polish domain
# (Wrocław — ł ś ż ą ę). \p{L}\p{M} evaluates identically in Spark's
# Java regex and DuckDB's RE2, so both engines agree bit-for-bit even
# on non-ASCII corpora.
@query(
    "unicode_text_profile",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+'))
             AS n_letter_runs,
           round(length(regexp_replace(lower(text), '[^\\p{L}\\p{M}]', '', 'g'))
                 / length(lower(text)), 4) AS u_alpha_ratio,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / length(lower(text)), 4) AS ascii_alpha_ratio
    FROM documents
    """,
)
def unicode_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(T.unicode_tokens(F.col("text"))).alias("n_letter_runs"),
        T.unicode_alpha_ratio(F.col("text")).alias("u_alpha_ratio"),
        T.alpha_ratio(F.col("text")).alias("ascii_alpha_ratio"),
    )


# Gopher-style document quality gate (Rae et al. 2021, public):
# token-count bounds, mean-word-length bounds, stop-word presence, and
# the two repetition signals — most-common-bigram share and duplicate-
# trigram fraction. Thresholds are adapted to the synthetic corpus
# (shorter docs than web scrape); the SHAPE is the published filter.
# Scale: two explode→count shuffles keyed by (doc_id, n-gram) — uniform
# keys, partial aggregation, linear in corpus size.
_G_MIN_TOKENS, _G_MAX_TOKENS = 10, 5000
_G_MIN_WLEN, _G_MAX_WLEN = 2.0, 10.0
_G_MAX_BIGRAM_SHARE = 0.2
_G_MAX_DUP_TRIGRAM = 0.3

_G_STOPS = ", ".join(f"'{w}'" for w in T.STOPWORDS)
_G_TOKS = _TOKS  # one tokenizer spelling shared with textops.py


@query(
    "gopher_quality_flags",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_G_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id, len(toks) AS n_tokens,
             round(list_sum(list_transform(toks, t -> len(t)))
                   / len(toks), 4) AS mean_word_len,
             len(list_filter(toks, t -> t IN ({_G_STOPS}))) AS n_stopwords
      FROM toks),
    bg AS (
      SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_share FROM (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id,
                 unnest([toks[i] || ' ' || toks[i+1]
                         FOR i IN generate_series(1, len(toks) - 1)]) AS g
          FROM toks WHERE len(toks) >= 2)
        GROUP BY doc_id, g)
      GROUP BY doc_id),
    tg AS (
      SELECT doc_id, round(1 - count(*) / sum(c), 4) AS dup_trigram_frac FROM (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id,
                 unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         FOR i IN generate_series(1, len(toks) - 2)]) AS g
          FROM toks WHERE len(toks) >= 3)
        GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.mean_word_len, b.n_stopwords,
           bg.top_bigram_share, tg.dup_trigram_frac,
           b.n_tokens BETWEEN {_G_MIN_TOKENS} AND {_G_MAX_TOKENS}
           AND b.mean_word_len BETWEEN {_G_MIN_WLEN} AND {_G_MAX_WLEN}
           AND coalesce(bg.top_bigram_share, 0) <= {_G_MAX_BIGRAM_SHARE}
           AND coalesce(tg.dup_trigram_frac, 0) <= {_G_MAX_DUP_TRIGRAM}
           AND b.n_stopwords >= 1 AS passes
    FROM base b LEFT JOIN bg USING (doc_id) LEFT JOIN tg USING (doc_id)
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # cached: three consumers (base stats, bigram agg, trigram agg)
    # would otherwise each re-scan parquet and re-tokenize the corpus
    staged = pins.cache(docs.select(
        "doc_id", T.tokens(F.col("text")).alias("_toks")
    ))
    base = staged.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        F.round(
            F.aggregate(F.col("_toks"), F.lit(0), lambda a, t: a + F.length(t))
            / F.size("_toks"),
            4,
        ).alias("mean_word_len"),
        F.size(
            F.filter(F.col("_toks"), lambda t: t.isin(*T.STOPWORDS))
        ).alias("n_stopwords"),
    )

    def ngram_stats(n: int, out_expr, out_name: str) -> DataFrame:
        per = (
            staged.select(
                "doc_id",
                F.explode(D.shingles_from_tokens(F.col("_toks"), n)).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per.groupBy("doc_id").agg(out_expr.alias(out_name))

    bg = ngram_stats(
        2, F.round(F.max("c") / F.sum("c"), 4), "top_bigram_share"
    )
    tg = ngram_stats(
        3, F.round(F.lit(1) - F.count(F.lit(1)) / F.sum("c"), 4), "dup_trigram_frac"
    )
    out = base.join(bg, "doc_id", "left").join(tg, "doc_id", "left")
    passes = (
        F.col("n_tokens").between(_G_MIN_TOKENS, _G_MAX_TOKENS)
        & F.col("mean_word_len").between(_G_MIN_WLEN, _G_MAX_WLEN)
        & (F.coalesce(F.col("top_bigram_share"), F.lit(0.0)) <= _G_MAX_BIGRAM_SHARE)
        & (F.coalesce(F.col("dup_trigram_frac"), F.lit(0.0)) <= _G_MAX_DUP_TRIGRAM)
        & (F.col("n_stopwords") >= 1)
    )
    return out.withColumn("passes", passes)


# DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169,
# public): score every document by the log likelihood ratio of a
# TARGET distribution vs the RAW corpus distribution over a FIXED
# hashed feature space — the data-selection step that upsamples
# target-like documents before training. Features are md5-hashed token
# buckets (B=4096): the feature space is constant-size regardless of
# vocabulary, which is the paper's trick for corpus-scale selection.
# Target = the `en` slice (a stand-in for "high-quality domain"; in
# production this is the curated seed corpus).
#
# Scale: one explode + two partial-agg shuffles over (bucket) — 4096
# keys, perfectly uniform by construction; the per-bucket log-ratio
# table is B rows → broadcast to the per-token join. Linear in corpus
# size, no vocabulary-sized state anywhere.
_DSIR_B = 4096
_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, {_sql_hash("tok")} % {_DSIR_B} AS b FROM tok
    ),
    q AS (SELECT b, count(*) AS c_all FROM feat GROUP BY b),
    p AS (SELECT b, count(*) AS c_tgt FROM feat
          WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
    tots AS (SELECT (SELECT count(*) FROM feat) AS t_all,
                    (SELECT count(*) FROM feat
                     WHERE lang = '{_DSIR_TARGET_LANG}') AS t_tgt),
    stats AS (
      SELECT b,
             ln((coalesce(c_tgt, 0) + 1) / (t_tgt + {_DSIR_B}.0))
               - ln((c_all + 1) / (t_all + {_DSIR_B}.0)) AS lr
      FROM q LEFT JOIN p USING (b) CROSS JOIN tots
    )
    SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 4) AS log_weight
    FROM feat JOIN stats USING (b)
    GROUP BY doc_id
    """,
    bench=True,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("tok")
    )
    feat = tok.withColumn(
        "b", F.pmod(D.md5_hash64(F.col("tok")), F.lit(_DSIR_B))
    )
    # ONE aggregate pass over the exploded tokens produces both the raw
    # and the target bucket counts (conditional count); totals then come
    # from the 4096-row result, not another corpus pass — 2 explode
    # evaluations total (counts + probe) instead of 4.
    # cached: two consumers (stats, tots) — 4096 rows pinned vs re-
    # running the corpus explode+agg for each
    q = pins.cache(feat.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("c_tgt"),
    ))
    tots = q.agg(
        F.sum("c_all").alias("t_all"), F.sum("c_tgt").alias("t_tgt")
    )
    b_lit = F.lit(float(_DSIR_B))
    stats = q.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + b_lit))
            - F.log((F.col("c_all") + 1) / (F.col("t_all") + b_lit))
        ).alias("lr"),
    )
    return (
        feat.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 4).alias("log_weight"),
        )
    )


_SEL_BUDGET = 10_000  # training-token budget for the selection prefix


@query(
    "token_budget_selection",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             round((alpha_ratio
                    + least(stopword_ratio * 5, 1.0)
                    + CASE WHEN avg_token_len >= 2.0 AND avg_token_len <= 12.0
                           THEN 1.0 ELSE 0.0 END) / 3, 4) AS score,
             n_tokens
      FROM (
        SELECT doc_id,
               round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                     / len(lower(text)), 4) AS alpha_ratio,
               round(len(list_filter({{toks}}, t -> t IN ({{stops}})))
                     / len({{toks}}), 4) AS stopword_ratio,
               round(list_sum(list_transform({{toks}}, t -> len(t)))
                     / len({{toks}}), 4) AS avg_token_len,
               {_N_TOK} AS n_tokens
        FROM documents
      )
    )
    SELECT doc_id, score, n_tokens
    FROM scored
    WHERE score IS NOT NULL
    QUALIFY sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) <= {_SEL_BUDGET}
    """.replace("{toks}", _TOKS).replace(
        "{stops}", ", ".join(f"'{s}'" for s in T.STOPWORDS)
    ),
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ranked corpus selection under a global token
    budget. The oracle spells the global QUALIFY-cumsum; the engine
    computes the identical set with the two-phase histogram-cutoff
    plan that never concentrates the corpus in one task — see
    operators/selection.select_within_token_budget."""
    from ..operators.selection import select_within_token_budget

    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    staged = docs.select("doc_id", c, T.tokens(c).alias("_toks"))
    t = F.col("_toks")
    scored = staged.select(
        "doc_id",
        T.quality_score_parts(
            T.alpha_ratio(c),
            T.stopword_ratio_t(t),
            T.avg_token_len_fast(c, t),
        ).alias("score"),
        T.token_count(c).alias("n_tokens"),
    )
    return select_within_token_budget(scored, budget=_SEL_BUDGET)


_MIX_TAU = 0.5  # temperature: 1 = proportional, 0 = uniform


@query(
    "temperature_mixture",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(sum({_N_TOK}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT source, n_tokens,
             n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s) AS share
      FROM s
    )
    SELECT source, n_tokens,
           round(share, 6) AS share,
           round(pow(share, {_MIX_TAU})
                 / (SELECT sum(pow(share, {_MIX_TAU})) FROM p), 6)
             AS sample_prob,
           round(pow(share, {_MIX_TAU})
                 / (SELECT sum(pow(share, {_MIX_TAU})) FROM p) / share, 4)
             AS upweight
    FROM p
    """,
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (the multilingual-LM mixture
    rule, p_i ∝ share_i^τ): τ<1 upweights small sources without the
    full flattening of uniform — `upweight` is the per-source repeat
    factor the data loader applies. One |sources|-row aggregate; the
    normalizers are window sums over it."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).alias("n_tokens")
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double")
    p = s.select("source", "n_tokens", share.alias("share"))
    z = F.sum(F.pow(F.col("share"), _MIX_TAU)).over(w)
    prob = F.pow(F.col("share"), _MIX_TAU) / z
    return p.select(
        "source",
        "n_tokens",
        F.round("share", 6).alias("share"),
        F.round(prob, 6).alias("sample_prob"),
        F.round(prob / F.col("share"), 4).alias("upweight"),
    )


# Deterministic 80/10/10 split buckets (train < 80, val < 90, test).
_SPLIT_HASH_D = "CAST(('0x' || substr(md5('spl|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
_SPLIT_HASH_S = "pmod(conv(substring(md5(concat('spl|', cast(doc_id as string))), 1, 8), 16, 10), 100)"


@query(
    "stratified_split_counts",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_SPLIT_HASH_D} < 80 THEN 'train'
                WHEN {_SPLIT_HASH_D} < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum({_N_TOK}) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)
def stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (hash-bucketed 80/10/10
    — stable across retries, partitions, engines) with the per-language
    census that verifies the split didn't skew any stratum. The split
    column is a pure map expression; one grouping aggregate."""
    docs = load(spark, sf_dir, "documents")
    h = F.expr(_SPLIT_HASH_S)
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return docs.groupBy(F.col("lang"), split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("n_tokens"),
    )
