"""Text-analysis + dedup queries over the `documents` table, each with
a DuckDB oracle generated from the SAME constants as the Spark
operators (operators/text.py, operators/dedup.py) so both engines
compute identical values.

SQL building blocks (DuckDB 1.0): string_split_regex, list
comprehensions with generate_series, list_filter lambdas,
md5-prefix→BIGINT casts, >>/&/<< bit ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import pins
from ..operators import text as T
from ..session import overlap
from ..tables import load
from . import query

# --- shared SQL fragments --------------------------------------------------

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _sql_in_list(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{i}'" for i in items)


def _sql_hash(expr: str, salt: int | None = None, hex_chars: int = 8) -> str:
    basis = f"'{salt}|' || {expr}" if salt is not None else expr
    return f"CAST(('0x' || substr(md5({basis}), 1, {hex_chars})) AS BIGINT)"


_SHINGLES = f"""
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
"""

# --- queries ---------------------------------------------------------------


@query(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
           len(regexp_extract_all(lower(text), '{T.BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           len(text) AS n_chars_actual
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(c).alias("n_tokens"),
        T.bpe_ish_count(c).alias("n_bpe_tokens"),
        F.length(c).alias("n_chars_actual"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id, alpha_ratio, stopword_ratio, avg_token_len,
           round((alpha_ratio
                  + least(stopword_ratio * 5, 1.0)
                  + CASE WHEN avg_token_len >= 2.0 AND avg_token_len <= 12.0
                         THEN 1.0 ELSE 0.0 END) / 3, 4) AS quality_score
    FROM (
      SELECT doc_id,
             round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                   / len(lower(text)), 4) AS alpha_ratio,
             round(len(list_filter({_TOKS}, t -> t IN ({_sql_in_list(T.STOPWORDS)})))
                   / len({_TOKS}), 4) AS stopword_ratio,
             round(list_sum(list_transform({_TOKS}, t -> len(t)))
                   / len({_TOKS}), 4) AS avg_token_len
      FROM documents
    )
    """,
    bench=True,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    staged = docs.select("doc_id", c, T.tokens(c).alias("_toks"))
    t = F.col("_toks")
    # two-stage select: ratios materialize once as attributes, quality
    # derives from them (no duplicated regexp/lambda evaluation)
    ratios = staged.select(
        "doc_id",
        T.alpha_ratio(c).alias("alpha_ratio"),
        T.stopword_ratio_t(t).alias("stopword_ratio"),
        T.avg_token_len_fast(c, t).alias("avg_token_len"),
    )
    return ratios.select(
        "*",
        T.quality_score_parts(
            F.col("alpha_ratio"), F.col("stopword_ratio"), F.col("avg_token_len")
        ).alias("quality_score"),
    )


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id, en_hits, es_hits, zh_hits,
           CASE WHEN en_hits >= es_hits AND en_hits >= zh_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits >= zh_hits AND es_hits > 0 THEN 'es'
                WHEN zh_hits > 0 THEN 'zh'
                ELSE 'und' END AS predicted_lang
    FROM (
      SELECT doc_id,
             len(list_filter({_TOKS}, t -> t IN ({_sql_in_list(T.LANG_MARKERS["en"])}))) AS en_hits,
             len(list_filter({_TOKS}, t -> t IN ({_sql_in_list(T.LANG_MARKERS["es"])}))) AS es_hits,
             len(list_filter({_TOKS}, t -> t IN ({_sql_in_list(T.LANG_MARKERS["zh"])}))) AS zh_hits
      FROM documents
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    staged = docs.select("doc_id", T.tokens(F.col("text")).alias("_toks"))
    scores = T.lang_scores_t(F.col("_toks"))
    return staged.select(
        "doc_id",
        scores["en"].alias("en_hits"),
        scores["es"].alias("es_hits"),
        scores["zh"].alias("zh_hits"),
        T.predicted_lang_scores(scores).alias("predicted_lang"),
    )


@query(
    "doc_fingerprints",
    oracle=f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "dedup_exact_groups",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    bench=True,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(load(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter_size / (sa.set_size + sb.set_size - inter_size), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(inter_size / (sa.set_size + sb.set_size - inter_size), 4) >= 0.05
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.05
    )


def _minhash_ctes() -> str:
    """The sh → sig → bands CTE chain (exact mirror of
    dedup.minhash_signatures/minhash_band_keys: one md5 base hash mod
    p, k affine mins, base-31 Horner band keys), exposed separately so
    composed oracles (curation_inc) can reuse the banding without the
    pair select _minhash_oracle wraps around it."""
    k, bands, p = D.MINHASH_K, D.MINHASH_BANDS, D.MINHASH_PRIME
    rows = k // bands
    mins = ",\n             ".join(
        "min(({a} * hb + {b}) % {p}) AS m{i}".format(
            a=D.minhash_coeff(i)[0], b=D.minhash_coeff(i)[1], p=p, i=i
        )
        for i in range(k)
    )
    band_selects = []
    for b in range(bands):
        key = f"m{b * rows}"
        for r in range(1, rows):
            key = f"({key} * 31 + m{b * rows + r})"
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    return f"""sh AS ({_SHINGLES}),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM (SELECT doc_id, {_sql_hash("shingle")} % {p} AS hb FROM sh)
      GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    )"""


def _minhash_oracle(
    delta_pred: str | None = None, cross_only: bool = False
) -> str:
    """``delta_pred`` (a SQL predicate over a doc_id column name)
    restricts the pair set to pairs TOUCHING the Δ partition — the
    incremental-dedup contract (see operators/sigstore.py).
    ``cross_only=True`` tightens it to pairs with EXACTLY one side in
    Δ (Δ×store only, no Δ×Δ) — the streamed-probe contract, where
    within-batch pairs belong to the admission loop, not the probe."""
    return f"""
    WITH {_minhash_ctes()}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    {("WHERE (" + delta_pred.format(id="a.doc_id") + ") <> ("
      + delta_pred.format(id="b.doc_id") + ")") if delta_pred and cross_only
     else ("WHERE (" + delta_pred.format(id="a.doc_id") + ") OR ("
      + delta_pred.format(id="b.doc_id") + ")") if delta_pred else ""}
    """


# Binary-column path (multimodal plumbing, gate-checked): documents'
# text treated as an opaque UTF-8 blob — byte length, content digest,
# hex prefix. Same expressions operators/multimodal.with_byte_stats
# applies to real media blobs.
@query(
    "media_byte_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha256,
           lower(substr(hex(encode(text)), 1, 16)) AS hex_prefix,
           octet_length(encode(text)) = 0 AS is_empty
    FROM documents
    """,
    bench=True,
)
def media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha256"),
        F.lower(F.substring(F.hex(blob), 1, 16)).alias("hex_prefix"),
        (F.length(blob) == 0).alias("is_empty"),
    )


@query("minhash_lsh_pairs", oracle=_minhash_oracle(), bench=True)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_candidates(load(spark, sf_dir, "documents"))


# Incremental dedup against a persisted signature store: the corpus
# part (doc_id % 4 != 0) bootstraps the store as a snapshot table; the
# Δ part (doc_id % 4 = 0) probes it through the bloom-prefiltered band
# join WITHOUT rescanning the corpus. Contract (proved by the oracle):
# probe(Δ, store) ≡ full-corpus LSH pairs restricted to pairs touching
# Δ. operators/sigstore.py; maintenance across appends is pinned by
# tests/test_sigstore.py.
@query(
    "incremental_dedup_pairs",
    oracle=_minhash_oracle(delta_pred="{id} % 4 = 0"),
    bench=True,
)
def incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import incremental_lsh_pairs, signature_store_init

    docs = load(spark, sf_dir, "documents")
    # pid-scoped path: a concurrent gate replica must not rmtree a
    # store this process's lazily-materializing probe still references
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "doc_signatures",
    )
    shutil.rmtree(table, ignore_errors=True)
    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    # the store bootstrap and Δ's minhash pin are independent until the
    # probe: the Δ pin's serial materialization hides entirely inside
    # the bootstrap's longer wall, and the probe/admit (which read store
    # metadata at call time) start only after both have finished
    from ..operators.sigstore import band_keys_for

    with overlap() as submit:
        submit(signature_store_init, docs.filter(~delta_flag), table)
        delta = submit(
            lambda: pins.checkpoint(band_keys_for(docs.filter(delta_flag)))
        )
    return incremental_lsh_pairs(
        spark, docs.filter(delta_flag), table, commit=True,
        delta_rows=delta.result(),
    )


# Compaction-composition gate for the SIGNATURE store (the sibling of
# vectors.compacted_vector_store_probe): build, append, OPTIMIZE
# (snapshot_compact must round-trip the store's meta and _shard
# layout), then probe — results must equal the full-corpus LSH pairs
# touching Δ, i.e. the same oracle as incremental_dedup_pairs, because
# compaction is data- and property-preserving by contract. The probe
# also exercises the persisted bloom ACROSS the compaction commit (the
# bloom sibling is untouched by OPTIMIZE — superset bits only).
@query(
    "compacted_signature_store_probe",
    oracle=_minhash_oracle(delta_pred="{id} % 4 = 0"),
)
def compacted_signature_store_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import incremental_lsh_pairs, signature_store_init
    from ..operators.snapshots import snapshot_compact

    docs = load(spark, sf_dir, "documents")
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "doc_signatures_compacted",
    )
    shutil.rmtree(table, ignore_errors=True)
    part = F.pmod(F.col("doc_id"), F.lit(4))
    signature_store_init(docs.filter(part.isin(1, 2)), table)
    # the admission write happens inside the call; the pairs are lazy
    # and deliberately unused — this step exists for its side effect
    incremental_lsh_pairs(spark, docs.filter(part == 3), table, commit=True)
    snapshot_compact(spark, table)
    return incremental_lsh_pairs(
        spark, docs.filter(part == 0), table, commit=False
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    LSH candidate graph, cluster_id = min doc_id of the component.
    Spark runs iterative min-label propagation (O(diameter) rounds);
    the oracle verifies with a recursive-CTE reachability closure —
    exact at gate scale, impossible at 100 TB, which is the point of
    the iterative formulation."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    return D.connected_components(pairs, docs.select("doc_id"))


# ---------------------------------------------------------------------------
# Flagship composition: the canonical training-data curation pipeline —
# quality gate → exact dedup (keep min id) → near-dup removal (LSH
# candidates, keep the smaller id of each pair) — verified END-TO-END
# against one SQL oracle. At 100 TB each stage is the operator already
# benchmarked above; composition adds no new shuffle shapes.
# ---------------------------------------------------------------------------

_MIN_TOKENS, _MAX_TOKENS = 10, 2000
_MIN_ALPHA = 0.5


def _curation_oracle() -> str:
    minhash_pairs = _minhash_oracle().strip()
    return f"""
    WITH quality AS (
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
    near_pairs AS ({minhash_pairs}),
    dropped AS (
      SELECT DISTINCT id_b AS doc_id FROM near_pairs
      WHERE id_a IN (SELECT doc_id FROM exact_kept)
        AND id_b IN (SELECT doc_id FROM exact_kept)
    )
    SELECT doc_id FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@query(
    "bigram_counts",
    oracle=f"""
    SELECT bigram, count(*) AS cnt
    FROM (
      SELECT unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN generate_series(1, len(toks) - 1)]) AS bigram
      FROM (SELECT {_TOKS} AS toks FROM documents WHERE len(trim(text)) > 0)
    )
    GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC
    LIMIT 20
    """,
)
def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams (co-occurrence statistics, the n=2
    shingle reused): explode is map-local, the count shuffle carries
    |distinct bigrams| rows, top-k is TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(T.tokens(F.col("text")).alias("_toks"))
    return (
        toks.select(
            F.explode(D.shingles_from_tokens(F.col("_toks"), n=2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


# Deny-list redaction — the PII-masking shape of a curation pipeline
# (the synthetic corpus has no emails/phones, so the deny-list is token
# based; the operator shape — word-boundary regexp_replace + match
# count — is identical). Hash the redacted text so the oracle compares
# a digest, not megabytes of strings.
_REDACT_TERMS = ("customer", "spark", "vault")
_REDACT_PATTERN = r"\b(" + "|".join(_REDACT_TERMS) + r")\b"


@query(
    "redacted_documents",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(text, '{_REDACT_PATTERN}', '[REDACTED]', 'g'))
             AS redacted_md5,
           len(regexp_extract_all(text, '{_REDACT_PATTERN}')) AS n_redactions
    FROM documents
    """,
)
def redacted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(c, _REDACT_PATTERN, "[REDACTED]")).alias(
            "redacted_md5"
        ),
        F.size(F.regexp_extract_all(c, F.lit(_REDACT_PATTERN), 0)).alias(
            "n_redactions"
        ),
    )


# ---------------------------------------------------------------------------
# Corpus sampling + TF-IDF — the remaining table-stakes ops of a
# training-data pipeline: reproducible subsetting and term weighting.
# ---------------------------------------------------------------------------

# Per-stratum keep-rates (percent) for the stratified sample: the kind
# of class-rebalancing mix a curation pipeline applies per source/lang.
_STRATA_PCT = {"en": 50, "es": 25, "zh": 10}
_HASH_SAMPLE_PCT = 10


def _doc_hash_pct(engine: str) -> str:
    # deterministic 0-99 bucket from the doc id — portable md5 arithmetic,
    # NOT rand(): re-runs and both engines agree row-for-row
    if engine == "spark":
        return "pmod(conv(substring(md5(concat('smp|', cast(doc_id as string))), 1, 8), 16, 10), 100)"
    return "CAST(('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


@query(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_doc_hash_pct("duckdb")} < {_HASH_SAMPLE_PCT}
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% corpus subset via content-hash bucketing — the
    scale-safe replacement for rand()-sampling (stable across retries,
    partitions, and engines; pushes down as an ordinary filter)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        F.expr(_doc_hash_pct("spark")) < _HASH_SAMPLE_PCT
    ).select("doc_id", "lang", "n_chars")


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_doc_hash_pct("duckdb")} <
          CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_PCT.items())}
               ELSE 0 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum keep-rates (language rebalancing) with the same
    deterministic hash bucket — sampleBy semantics without rand()."""
    docs = load(spark, sf_dir, "documents")
    rate = F.lit(0)
    for k, v in _STRATA_PCT.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return docs.filter(F.expr(_doc_hash_pct("spark")) < rate).select("doc_id", "lang")


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            WHERE len(trim(text)) > 0)
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents WHERE len(trim(text)) > 0),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs / idf.df), 6) AS tfidf
      FROM tf JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Term freq and doc freq are two
    partial-agg shuffles over (doc, term); the corpus size joins in as
    a broadcast scalar; top-k per doc plans as WindowGroupLimit (no
    global sort)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query("curated_documents", oracle=_curation_oracle(), bench=True)
def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    staged = docs.select("doc_id", c, T.tokens(c).alias("_toks"))
    # Cache the quality-gated PROJECTION (doc_id + text), not just keeper
    # ids: every downstream stage (exact dedup, LSH shingling) reads it,
    # so the base parquet is scanned exactly once. The cache is
    # MEMORY_AND_DISK; at 100 TB swap for a checkpoint to parquet.
    quality = pins.cache(
        staged.filter(
            F.size("_toks").between(_MIN_TOKENS, _MAX_TOKENS)
            & (T.alpha_ratio(c) >= _MIN_ALPHA)
        )
        .select("doc_id", "text")
    )

    # exact_kept feeds two joins; without its own cache the md5-groupBy
    # shuffle runs twice (the id set itself is tiny)
    exact_kept = pins.cache(
        quality.groupBy(F.md5(T.normalized_text(F.col("text"))).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept_docs = quality.join(exact_kept, "doc_id", "left_semi")

    pairs = D.minhash_lsh_candidates(kept_docs)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return exact_kept.join(dropped, "doc_id", "left_anti").select("doc_id")


_SIMHASH_SIG_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    bits AS (
      SELECT doc_id, {_sql_hash("tok", hex_chars=12)} AS h,
             unnest(generate_series(0, {D.SIMHASH_BITS - 1})) AS bit
      FROM tok
    ),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM bits GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "simhash_signatures",
    oracle=_SIMHASH_SIG_SQL + "SELECT doc_id, simhash FROM sig",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(load(spark, sf_dir, "documents"))


@query(
    "simhash_near_pairs",
    oracle=_SIMHASH_SIG_SQL
    + f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {D.SIMHASH_MAX_HAMMING}
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Spark plans the
    pigeonhole-blocked join (any pair within hamming d shares one of
    d+1 signature blocks); the oracle verifies with the O(N²) join —
    exact at gate scale, while the Spark plan is the one that scales."""
    sigs = D.simhash(load(spark, sf_dir, "documents"))
    return D.simhash_near_pairs(sigs, max_hamming=D.SIMHASH_MAX_HAMMING)


# Gopher-style within-document repetition signals: the share of tokens
# taken by the single most frequent token, and the distinct-token
# ratio. High top-token share / low distinct ratio flags boilerplate
# and degenerate pages before they pollute a training mix. One explode
# + one (doc, token) partial-agg shuffle + one doc-level agg — token
# keys are uniform, so the shuffle scales linearly with corpus size.
@query(
    "doc_repetition",
    oracle=f"""
    SELECT doc_id,
           round(max(cnt) * 1.0 / sum(cnt), 4) AS top_token_share,
           round(count(*) * 1.0 / sum(cnt), 4) AS distinct_ratio
    FROM (
      SELECT doc_id, tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    )
    GROUP BY doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_tok.groupBy("doc_id").agg(
        F.round(F.max("cnt") / F.sum("cnt"), 4).alias("top_token_share"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 4).alias("distinct_ratio"),
    )


@query(
    "dedup_quality_keepers",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
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
    scored AS (
      SELECT doc_id,
             round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                   / len(lower(text)), 4) AS q
      FROM documents
    )
    SELECT cluster_id, doc_id AS keeper_id, q AS keeper_quality,
           n_members
    FROM (
      SELECT c.cluster_id, c.doc_id, s.q,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY s.q DESC NULLS LAST, c.doc_id ASC) AS rn
      FROM clusters c JOIN scored s USING (doc_id)
    ) WHERE rn = 1
    """,
)
def dedup_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority canonicalization: within each near-dup cluster
    keep the HIGHEST-quality member (alpha-ratio score, ties → smallest
    id) instead of the arbitrary min-id — the curation rule a real
    pipeline wants ("drop the mojibake copy, keep the clean one").
    One rank window over the cluster assignment joined with per-doc
    scores; cluster sizes ride the same window partitioning."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    clusters = D.connected_components(pairs, docs.select("doc_id"))
    scored = docs.select("doc_id", T.alpha_ratio(F.col("text")).alias("q"))
    joined = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.desc_nulls_last("q"), F.asc("doc_id"))
    return (
        joined.withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            F.col("q").alias("keeper_quality"),
            "n_members",
        )
    )


# Stage-count funnel of the flagship curation pipeline: how many
# documents survive each gate (raw -> quality -> exact-dedup ->
# near-dedup). The yield report every curation run ships with — it
# tells the operator WHERE the corpus is being spent. Each stage is
# the operator already verified by curated_documents; counts are one
# extra 1-row aggregate per stage over the same cached projections
# (the base parquet still scans once).
@query(
    "curation_funnel_counts",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
               round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                     / len(lower(text)), 4) AS alpha_ratio
        FROM documents
      ) WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
          AND alpha_ratio >= {_MIN_ALPHA}
    ),
    exact_kept AS (
      SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5({_NORM})
    ),
    near_pairs AS ({{minhash_pairs}}),
    dropped AS (
      SELECT DISTINCT id_b AS doc_id FROM near_pairs
      WHERE id_a IN (SELECT doc_id FROM exact_kept)
        AND id_b IN (SELECT doc_id FROM exact_kept)
    )
    SELECT 'raw' AS stage, count(*) AS n_docs FROM documents
    UNION ALL SELECT 'quality', count(*) FROM quality
    UNION ALL SELECT 'exact_dedup', count(*) FROM exact_kept
    UNION ALL
    SELECT 'near_dedup', count(*) FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """.replace("{minhash_pairs}", _minhash_oracle().strip()),
)
def curation_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    staged = docs.select("doc_id", c, T.tokens(c).alias("_toks"))
    quality = pins.cache(
        staged.filter(
            F.size("_toks").between(_MIN_TOKENS, _MAX_TOKENS)
            & (T.alpha_ratio(c) >= _MIN_ALPHA)
        )
        .select("doc_id", "text")
    )
    exact_kept = pins.cache(
        quality.groupBy(F.md5(T.normalized_text(F.col("text"))).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept_docs = quality.join(exact_kept, "doc_id", "left_semi")
    pairs = D.minhash_lsh_candidates(kept_docs)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    final = exact_kept.join(dropped, "doc_id", "left_anti")

    def stage(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage("raw", docs)
        .unionByName(stage("quality", quality))
        .unionByName(stage("exact_dedup", exact_kept))
        .unionByName(stage("near_dedup", final))
    )
