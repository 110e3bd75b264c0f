"""Third LLM-pipeline wave: distributed sampling and collocation
statistics.

- weighted_sample: Efraimidis–Spirakis A-ES weighted sampling — the
  standard one-pass distributed algorithm for "sample k documents with
  probability proportional to weight" (quality-weighted corpus
  subsampling). Each row gets key = ln(u)/w with a DETERMINISTIC
  per-row uniform u (md5 hash → (h+0.5)/2^32, exact in double); the
  top-k keys are the sample. One TakeOrderedAndProject, no shuffle of
  the corpus; the classic reservoir becomes a plain distributed top-k.
- pmi_collocations: pointwise mutual information over adjacent token
  pairs — collocation/phrase mining, the statistics behind tokenizer
  phrase-merge decisions. Two explode aggregates (unigrams, bigrams)
  over one cached tokenized projection + broadcast count joins.

Both oracles are built from the same constants/hash helpers as the
Spark plans (textops.py), so values agree to the rounding digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import pins
from ..operators import text as T
from ..tables import load
from . import query
from .textops import _SHINGLES, _TOKS, _sql_hash

_WS_K = 50
_WS_SALT = 7
_U32 = float(1 << 32)


@query(
    "weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars + 1 AS w,
             ({_sql_hash("CAST(doc_id AS VARCHAR)", salt=_WS_SALT)} + 0.5)
               / {_U32} AS u
      FROM documents
    )
    SELECT doc_id, round(ln(u) / w, 6) + 0.0 AS es_key
    FROM d
    ORDER BY es_key DESC, doc_id ASC
    LIMIT {_WS_K}
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by the A-ES key ln(u)/w ≡ sampling k docs w.p. ∝ w
    (w = n_chars+1, a stand-in quality weight). Deterministic u from
    the shared md5 hash: (h+0.5)/2^32 is exact in double on both
    engines, so the sample is reproducible run-to-run and engine-to-
    engine. Scale: map-only key computation + TakeOrderedAndProject
    (per-partition heap of k, driver merges k·P rows).

    The `+ 0.0` on both sides: a tiny negative key rounds to zero, and
    Spark's round gives +0.0 where DuckDB's gives -0.0 — bitwise
    different under repr()-based value hashing. IEEE x+0.0 is the
    identity except on -0.0, which it normalizes to +0.0."""
    docs = load(spark, sf_dir, "documents")
    h = D.md5_hash64(F.col("doc_id").cast("string"), salt=_WS_SALT)
    u = (h + F.lit(0.5)) / F.lit(_U32)
    w = F.col("n_chars") + F.lit(1)
    return (
        docs.select(
            "doc_id", (F.round(F.log(u) / w, 6) + F.lit(0.0)).alias("es_key")
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(_WS_K)
    )


_PMI_MIN_COUNT = 10
_PMI_TOP = 20


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS} AS toks FROM documents
                  WHERE len(trim(text)) > 0),
    ucnt AS (SELECT tok, count(*) AS c FROM
             (SELECT unnest(toks) AS tok FROM toks) GROUP BY tok),
    utot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM ucnt),
    bcnt AS (SELECT bigram, count(*) AS c_ab FROM (
               SELECT unnest([toks[i] || ' ' || toks[i+1]
                              FOR i IN generate_series(1, len(toks) - 1)])
                      AS bigram
               FROM toks) GROUP BY bigram),
    btot AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS m FROM bcnt)
    SELECT bigram, c_ab,
           round(ln((c_ab / m) / ((ca.c / n) * (cb.c / n))), 6) + 0.0 AS pmi
    FROM bcnt
    JOIN ucnt ca ON ca.tok = string_split(bigram, ' ')[1]
    JOIN ucnt cb ON cb.tok = string_split(bigram, ' ')[2]
    CROSS JOIN utot CROSS JOIN btot
    WHERE c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, bigram ASC
    LIMIT {_PMI_TOP}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI = ln(p(ab) / (p(a)·p(b))) with a minimum
    bigram count. The final ordering uses the ROUNDED pmi (both
    engines), so rank at the cut never depends on sub-rounding float
    noise; ties break on the bigram string. Scale: unigram and bigram
    count aggregates over one cached tokenized projection (vocab-sized
    outputs), then the unigram table joins in twice — broadcast while
    the vocabulary fits, sort-merge on the token key beyond that."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = pins.cache(docs.select(T.tokens(F.col("text")).alias("_toks")))
    ucnt = (
        toks.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bcnt = (
        toks.select(
            F.explode(D.shingles_from_tokens(F.col("_toks"), n=2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    utot = ucnt.agg(F.sum("c").cast("double").alias("n"))
    btot = bcnt.agg(F.sum("c_ab").cast("double").alias("m"))
    ca = ucnt.select(F.col("tok").alias("_ta"), F.col("c").alias("_ca"))
    cb = ucnt.select(F.col("tok").alias("_tb"), F.col("c").alias("_cb"))
    parts = F.split(F.col("bigram"), " ")
    return (
        bcnt.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .withColumn("_ta", parts.getItem(0))
        .withColumn("_tb", parts.getItem(1))
        .join(F.broadcast(ca), "_ta")
        .join(F.broadcast(cb), "_tb")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "bigram",
            "c_ab",
            (
                F.round(
                    F.log(
                        (F.col("c_ab") / F.col("m"))
                        / ((F.col("_ca") / F.col("n")) * (F.col("_cb") / F.col("n")))
                    ),
                    6,
                )
                + F.lit(0.0)  # -0.0 → +0.0, see weighted_sample note
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(_PMI_TOP)
    )


_BPE_TOP = 30


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT unnest({_TOKS}) AS tok FROM documents
      WHERE len(trim(text)) > 0
    ),
    p AS (
      SELECT unnest([substr(tok, i, 2)
                     FOR i IN generate_series(1, len(tok) - 1)]) AS pair
      FROM w WHERE len(tok) >= 2
    )
    SELECT pair, count(*) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT {_BPE_TOP}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent symbol-pair frequencies within words — the counting
    kernel of one BPE tokenizer-training round (the highest-count pair
    is the next merge). Pure expression pipeline: explode words,
    explode each word's length-2 windows via transform over an index
    sequence, count. One vocabulary-sized aggregate shuffle; the
    explode stays map-side. Single-char words contribute no pairs (the
    length guard also keeps Spark's descending sequence(1, 0) from
    fabricating windows)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    words = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


_TR_DAMP = 0.85
_TR_ITERS = 3
_TR_TOP = 20
_TR_BIGRAMS = """
      SELECT unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN generate_series(1, len(toks) - 1)]) AS bigram
      FROM (SELECT {toks} AS toks FROM documents
            WHERE len(trim(text)) > 0)
"""


def _textrank_oracle() -> str:
    toks_sql = _TR_BIGRAMS.format(toks=_TOKS)
    sql = f"""
    WITH bc AS (SELECT bigram, count(*) AS c FROM ({toks_sql}) GROUP BY bigram),
    e0 AS (SELECT string_split(bigram, ' ')[1] AS u,
                  string_split(bigram, ' ')[2] AS v, c
           FROM bc),
    edges AS (
      SELECT u, v, CAST(sum(c) AS DOUBLE) AS w FROM (
        SELECT u, v, c FROM e0
        UNION ALL
        SELECT v AS u, u AS v, c FROM e0
      ) GROUP BY u, v
    ),
    frac AS (
      SELECT u, v, w / sum(w) OVER (PARTITION BY u) AS f FROM edges
    ),
    r0 AS (SELECT DISTINCT u AS v, 1.0 AS r FROM edges)"""
    prev = "r0"
    for i in range(1, _TR_ITERS + 1):
        sql += f""",
    r{i} AS (
      SELECT frac.v, {1 - _TR_DAMP} + {_TR_DAMP} * sum({prev}.r * frac.f) AS r
      FROM frac JOIN {prev} ON {prev}.v = frac.u
      GROUP BY frac.v
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT v AS token, round(r, 6) AS rank
    FROM {prev}
    ORDER BY rank DESC, token ASC
    LIMIT {_TR_TOP}
    """
    return sql


@query("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank (damping 0.85, 3 unrolled
    rounds, uniform init) over the undirected adjacent-token
    co-occurrence graph — the classic graph spelling of corpus keyword
    salience; the oracle unrolls the same rounds as CTEs.

    Scale: ONE corpus-sized aggregate builds the bigram counts; every
    structure after that (edges, transition fractions, rank vector) is
    vocabulary-bounded, so the 3 join+agg rounds shuffle vocab-sized
    tables no matter the corpus. localCheckpoint pins the edge list
    so iterations don't re-tokenize the corpus, and truncates the
    3-round lineage the way any sane iterative Spark algorithm must."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    # materialize the token array BEFORE the shingle lambda — the
    # shingles_from_tokens perf contract (dedup.py): an inline tokens()
    # expression is duplicated into every element_at inside the lambda
    toks = docs.select(T.tokens(F.col("text")).alias("_toks"))
    bc = (
        toks.select(
            F.explode(D.shingles_from_tokens(F.col("_toks"), n=2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    parts = F.split(F.col("bigram"), " ")
    e0 = bc.select(
        parts.getItem(0).alias("u"), parts.getItem(1).alias("v"), "c"
    )
    edges = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v"), "c"))
        .groupBy("u", "v")
        .agg(F.sum("c").cast("double").alias("w"))
    )
    from pyspark.sql.window import Window

    # vocab²-bounded table: one partition is right up to ~1e6 edges
    # (scale the coalesce with vocabulary, not corpus, beyond that)
    frac = pins.checkpoint(
        edges.select(
            "u",
            "v",
            (F.col("w") / F.sum("w").over(Window.partitionBy("u"))).alias("f"),
        )
        .coalesce(1)
    )
    ranks = frac.select(F.col("u").alias("v")).distinct().withColumn(
        "r", F.lit(1.0)
    )
    for _ in range(_TR_ITERS):
        ranks = (
            frac.join(ranks.withColumnRenamed("v", "u"), "u")
            .groupBy(F.col("v"))
            .agg(
                (
                    F.lit(1 - _TR_DAMP) + F.lit(_TR_DAMP) * F.sum(F.col("r") * F.col("f"))
                ).alias("r")
            )
        )
    return (
        ranks.select(F.col("v").alias("token"), F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("token"))
        .limit(_TR_TOP)
    )


_PPL_ROUND = 4  # coarse on purpose: the log-sum is order-dependent
# float arithmetic on both engines, and a wider rounding step makes a
# boundary-straddling hash flake ~100x less likely than round-6


@query(
    "doc_bigram_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE len(trim(text)) > 0
    ),
    uni AS (SELECT tok, count(*) AS c FROM
            (SELECT unnest(toks) AS tok FROM toks) GROUP BY tok),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
    bi AS (SELECT bigram, count(*) AS c_ab FROM (
             SELECT unnest([toks[i] || ' ' || toks[i+1]
                            FOR i IN generate_series(1, len(toks) - 1)])
                    AS bigram
             FROM toks) GROUP BY bigram),
    db AS (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN generate_series(1, len(toks) - 1)]) AS bigram
      FROM toks WHERE len(toks) >= 2
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(exp(-sum(ln((bi.c_ab + 1) / (uni.c + v.v))) / count(*)),
                 {_PPL_ROUND}) AS ppl
    FROM db
    JOIN bi USING (bigram)
    JOIN uni ON uni.tok = string_split(db.bigram, ' ')[1]
    CROSS JOIN v
    GROUP BY doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed corpus bigram
    model — the classic perplexity-filter quality gate (CCNet shape):
    gibberish scores high, fluent-but-repetitive text low. p(b|a) =
    (c(ab)+1)/(c(a)+V) with both count tables built from the same
    corpus the documents come from.

    Scale: one corpus pass per count table (vocab-sized outputs) and
    one per-doc bigram explode; the probability lookup is a broadcast
    join while the bigram vocabulary fits, sort-merge on the bigram
    key beyond. The per-doc aggregate is an ordinary partial agg."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = pins.cache(docs.select("doc_id", T.tokens(F.col("text")).alias("_toks")))
    uni = (
        toks.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    bi = (
        toks.select(
            F.explode(D.shingles_from_tokens(F.col("_toks"), n=2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    db = toks.filter(F.size("_toks") >= 2).select(
        "doc_id",
        F.explode(D.shingles_from_tokens(F.col("_toks"), n=2)).alias("bigram"),
    )
    uni_a = uni.select(F.col("tok").alias("_a"), F.col("c").alias("c_a"))
    lp = F.log((F.col("c_ab") + 1) / (F.col("c_a") + F.col("v")))
    return (
        # no broadcast hint on bi: the distinct-bigram table grows with
        # the corpus (unlike vocab-sized uni), so AQE must be free to
        # pick a shuffle join once the LM outgrows broadcast
        db.join(bi, "bigram")
        .withColumn("_a", F.split(F.col("bigram"), " ").getItem(0))
        .join(F.broadcast(uni_a), "_a")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.exp(-F.sum(lp) / F.count(F.lit(1))), _PPL_ROUND
            ).alias("ppl"),
        )
    )


_PF_T = 0.6  # gate threshold — baked into the oracle SQL below

# Runtime ppjoin dial (None → _PF_T), resolved at CALL time like
# similarity.N_HYPERPLANES: the Jaccard threshold IS the prefix-length
# dial — prefix length is n − ⌈τ·n⌉ + 1, so raising τ shrinks every
# prefix and with it the candidate-pair workload (ppjoin's cost is
# prefix-pair compute, linear in candidates). Unlike the planes dial it
# is NOT output-preserving: a higher τ reports only closer duplicates —
# the trade a growing corpus-curation deployment actually makes when
# exact all-pairs verification is the budget ceiling. The oracle gate
# always runs at _PF_T; the dial exists for deployments and for
# tools/scale_smoke.py's 10× leg.
PPJOIN_THRESHOLD: float | None = None


@query(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    gf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT sh.doc_id, sh.shingle,
             row_number() OVER (PARTITION BY sh.doc_id
                                ORDER BY gf.df ASC, sh.shingle ASC) AS pos
      FROM sh JOIN gf USING (shingle)
    ),
    pref AS (
      SELECT r.doc_id, r.shingle
      FROM ranked r JOIN sizes s USING (doc_id)
      WHERE r.pos <= s.n - CAST(ceil({_PF_T} * s.n) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS c
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           round(c / (sa.n + sb.n - c), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(c / (sa.n + sb.n - c), 4) >= {_PF_T}
    """,
    bench=True,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via AllPairs prefix filtering — the
    deterministic complement to minhash_lsh_pairs (same problem, no
    recall loss): see operators/dedup.prefix_filter_jaccard_pairs.
    Threshold resolves from the PPJOIN_THRESHOLD runtime dial (None →
    the gate's _PF_T) at call time."""
    t = PPJOIN_THRESHOLD if PPJOIN_THRESHOLD is not None else _PF_T
    return D.prefix_filter_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=t
    )


_BPE_MERGES = 3


def _bpe_merges_oracle(n_merges: int = _BPE_MERGES) -> str:
    """Unrolled BPE training rounds (same fixed-iteration trick as the
    kmeans oracle): pair counts → argmax → string-replace merge over
    the double-space symbol encoding, step for step with
    operators/bpe.bpe_learned_merges."""
    pair_cte = """
    p{r} AS (
      SELECT pr.l AS l, pr.r AS r, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        SELECT unnest([{{'l': syms[i], 'r': syms[i+1]}}
                       FOR i IN generate_series(1, len(syms) - 1)]) AS pr, wc
        FROM (SELECT string_split(trim(s), '  ') AS syms, wc FROM s{prev})
      ) GROUP BY pr.l, pr.r
    )"""
    best_cte = """
    b{r} AS (SELECT l, r, cnt FROM p{r}
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
    merge_cte = """
    s{r} AS (SELECT replace(s, ' ' || b.l || '  ' || b.r || ' ',
                               ' ' || b.l || chr(1) || b.r || ' ') AS s, wc
             FROM s{prev}, b{r} b)"""
    ctes = [
        f"""w AS (
      SELECT word, count(*) AS wc FROM (
        SELECT unnest({_TOKS}) AS word FROM documents
        WHERE len(trim(text)) > 0
      ) GROUP BY word
    )""",
        """s0 AS (
      SELECT '  ' || array_to_string(
               [substr(word, i, 1) FOR i IN generate_series(1, len(word))],
               '  ') || '  ' AS s, wc
      FROM w
    )""",
    ]
    selects = []
    for r in range(1, n_merges + 1):
        ctes.append(pair_cte.format(r=r, prev=r - 1))
        ctes.append(best_cte.format(r=r))
        if r < n_merges:
            ctes.append(merge_cte.format(r=r, prev=r - 1))
        selects.append(
            f"SELECT {r} AS step, replace(l, chr(1), '') AS left_sym, "
            f"replace(r, chr(1), '') AS right_sym, cnt AS pair_count FROM b{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe_learned_merges", oracle=_bpe_merges_oracle())
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First N BPE merges learned over the corpus — the full tokenizer
    -training iteration (bpe_pair_counts is one counting round of it).
    See operators/bpe.bpe_learned_merges."""
    from ..operators.bpe import bpe_learned_merges as _learn

    return _learn(load(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


def _bpe_vocab_ctes(n_merges: int = _BPE_MERGES) -> str:
    """Word-carrying variant of the merge chains: replay ALL learned
    merges (including the last) and keep the word key, so the final
    CTE is the (word, n_syms) encode vocabulary."""
    pair_cte = """
    ep{r} AS (
      SELECT pr.l AS l, pr.r AS r, CAST(sum(wc) AS BIGINT) AS cnt FROM (
        SELECT unnest([{{'l': syms[i], 'r': syms[i+1]}}
                       FOR i IN generate_series(1, len(syms) - 1)]) AS pr, wc
        FROM (SELECT string_split(trim(s), '  ') AS syms, wc FROM es{prev})
      ) GROUP BY pr.l, pr.r
    )"""
    best_cte = """
    eb{r} AS (SELECT l, r FROM ep{r}
              ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
    merge_cte = """
    es{r} AS (SELECT word, replace(s, ' ' || b.l || '  ' || b.r || ' ',
                                      ' ' || b.l || chr(1) || b.r || ' ') AS s, wc
              FROM es{prev}, eb{r} b)"""
    ctes = [
        f"""ew AS (
      SELECT word, count(*) AS wc FROM (
        SELECT unnest({_TOKS}) AS word FROM documents
        WHERE len(trim(text)) > 0
      ) GROUP BY word
    )""",
        """es0 AS (
      SELECT word, '  ' || array_to_string(
               [substr(word, i, 1) FOR i IN generate_series(1, len(word))],
               '  ') || '  ' AS s, wc
      FROM ew
    )""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(pair_cte.format(r=r, prev=r - 1))
        ctes.append(best_cte.format(r=r))
        ctes.append(merge_cte.format(r=r, prev=r - 1))
    ctes.append(
        f"evocab AS (SELECT word, len(string_split(trim(s), '  ')) AS n_syms "
        f"FROM es{n_merges})"
    )
    return ",\n".join(ctes)


@query(
    "bpe_doc_compression",
    oracle=f"""
    WITH {_bpe_vocab_ctes()}
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(len(word)) AS BIGINT) AS n_chars,
           CAST(sum(n_syms) AS BIGINT) AS n_syms,
           round(CAST(sum(n_syms) AS DOUBLE) / sum(len(word)), 4) AS compression
    FROM (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents
      WHERE len(trim(text)) > 0
    )
    JOIN evocab USING (word)
    GROUP BY doc_id
    """,
)
def bpe_doc_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of BPE training: replay the learned merges over the
    word vocabulary, then measure per-document compression (post-merge
    symbols / characters) via a words→vocab join — the metric that
    tells a tokenizer team whether the merge table is earning its
    keep on THIS corpus. Vocabulary-sized state throughout."""
    from ..operators.bpe import bpe_vocab_lengths

    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    vocab = bpe_vocab_lengths(docs, n_merges=_BPE_MERGES)
    words = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("word")
    )
    return (
        words.join(vocab.withColumnRenamed("w", "word"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_syms"),
            F.round(
                F.sum("n_syms").cast("double") / F.sum(F.length("word")), 4
            ).alias("compression"),
        )
    )


_ZIPF_TOP = 100
_ZIPF_SCALE = 1_000_000


@query(
    "zipf_fit",
    oracle=f"""
    WITH ranked AS (
      SELECT row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk, c
      FROM (
        SELECT tok, count(*) AS c FROM (
          SELECT unnest({_TOKS}) AS tok FROM documents
          WHERE len(trim(text)) > 0
        ) GROUP BY tok
      )
      ORDER BY c DESC, tok ASC LIMIT {_ZIPF_TOP}
    ),
    pts AS (
      SELECT CAST(round(ln(rnk) * {_ZIPF_SCALE}) AS BIGINT) AS x,
             CAST(round(ln(c) * {_ZIPF_SCALE}) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_tokens,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / (n * sxx - sx * sx) * sx)
                 / n / {_ZIPF_SCALE}, 6) AS intercept_ln
    FROM s
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top token ranks: OLS slope of
    ln(freq) ~ ln(rank) (natural corpora sit near −1; a flat or
    broken slope flags templated/duplicated text). Parity pattern:
    the log points scale to INTEGERS before the regression sums, so
    every aggregate is exact and order-independent — no float-fold
    drift between engines — and doubles appear only in the final
    closed-form division. Vocab-sized aggregate + a 100-row fit."""
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    from pyspark.sql.window import Window

    cnt = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_ZIPF_TOP)
    )
    ranked = cnt.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk")) * _ZIPF_SCALE).cast("bigint").alias("x"),
        F.round(F.log(F.col("c")) * _ZIPF_SCALE).cast("bigint").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return s.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / _ZIPF_SCALE,
            6,
        ).alias("intercept_ln"),
    )


_BP_COMMON_DF = 20  # a shingle in more than this many docs is boilerplate


@query(
    "boilerplate_scores",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    gf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN gf.df > {_BP_COMMON_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_common,
           round(CAST(sum(CASE WHEN gf.df > {_BP_COMMON_DF} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS boilerplate_ratio
    FROM sh JOIN gf USING (shingle)
    GROUP BY doc_id
    """,
)
def boilerplate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document boilerplate detection: the fraction of a doc's
    shingles shared with MANY other docs (templates, headers, nav
    chrome) — high ratio flags machine-generated filler that per-doc
    quality metrics miss. One shingle-keyed frequency join over the
    distinct-shingle projection; document frequencies are vocab-sized."""
    docs = load(spark, sf_dir, "documents")
    sh = pins.cache(D.doc_shingles(docs, id_col="doc_id", text_col="text", n=3))
    gf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    common = F.when(F.col("df") > _BP_COMMON_DF, 1).otherwise(0)
    return (
        sh.join(gf, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(common).cast("bigint").alias("n_common"),
            F.round(
                F.sum(common).cast("double") / F.count(F.lit(1)), 4
            ).alias("boilerplate_ratio"),
        )
    )


_SPAN_W = 10  # duplicate-span window length in tokens


@query(
    "duplicate_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i + {_SPAN_W - 1}], ' ')) AS fp
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_SPAN_W - 1})) AS i
        FROM t
      )
    ),
    dupw AS (
      SELECT doc_id, pos FROM w
      WHERE fp IN (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2)
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
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {_SPAN_W - 1} AS span_end,
           max(pos) + {_SPAN_W} - min(pos) AS span_tokens
    FROM isl
    GROUP BY doc_id, island
    """,
    bench=True,
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2021 family): every
    maximal token span appearing verbatim >=2 times anywhere in the
    corpus, via sliding-window fingerprints + per-doc island merge.
    See operators/dedup.duplicate_spans."""
    return D.duplicate_spans(
        load(spark, sf_dir, "documents"), window=_SPAN_W
    )


_CONT_T = 0.8


@query(
    "containment_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter_size / sa.set_size, 4) AS containment_a_in_b,
           round(inter_size / sb.set_size, 4) AS containment_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(round(inter_size / sa.set_size, 4),
                   round(inter_size / sb.set_size, 4)) >= {_CONT_T}
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join (Broder's coefficient, both directions):
    the asymmetric complement to Jaccard that catches quotes and
    excerpt reposts. See operators/dedup.containment_pairs."""
    return D.containment_pairs(
        load(spark, sf_dir, "documents"), threshold=_CONT_T
    )


@query(
    "shingle_novelty_scores",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    first AS (SELECT shingle, min(doc_id) AS f FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS novelty
    FROM sh JOIN first USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order novelty per doc (share of first-seen shingles) —
    the streaming pre-dedup curation signal.
    See operators/dedup.shingle_novelty_scores."""
    return D.shingle_novelty_scores(load(spark, sf_dir, "documents"))


@query(
    "dedup_rewritten_docs",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i + {_SPAN_W - 1}], ' ')) AS fp
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_SPAN_W - 1})) AS i
        FROM t
      )
    ),
    dupw AS (
      SELECT doc_id, pos FROM w
      WHERE fp IN (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2)
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
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {_SPAN_W - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    pos AS (
      SELECT doc_id, p, toks[p] AS tok
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS p
        FROM t
      )
    ),
    kept AS (
      SELECT pos.doc_id, pos.p, pos.tok
      FROM pos LEFT JOIN spans
        ON spans.doc_id = pos.doc_id AND pos.p BETWEEN spans.s AND spans.e
      WHERE spans.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS nt
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           md5(CASE WHEN t.doc_id IN (SELECT doc_id FROM spans)
                    THEN coalesce(r.nt, '')
                    ELSE t.text END) AS rewritten_md5
    FROM t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    """,
)
def dedup_rewritten_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of substring dedup: every duplicated span cut
    from each doc's token stream, clean docs passing through verbatim
    (byte-exact — the md5 pins whitespace behavior too).
    See operators/dedup.drop_duplicate_spans."""
    out = D.drop_duplicate_spans(
        load(spark, sf_dir, "documents"), window=_SPAN_W
    )
    return out.select("doc_id", F.md5(F.col("text")).alias("rewritten_md5"))
