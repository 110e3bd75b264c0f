"""The INCREMENTAL curation funnel, end-to-end (VERDICT r10 ask #1).

curation_v2 / embedding_curation prove the BATCH composition; this
module proves the daily-operation story — the actual 100 TB shape:
yesterday's persisted stores + today's Δ. One oracle-checked query
drives a fresh Δ through

    quality gate → within-batch exact dedup
      → signature-store probe (operators/sigstore.py)
      → vector-store probe (operators/vecstore.py)
      → per-document decision
      → cluster-consistent split for the admitted set
      → FENCED admission into BOTH stores
        (streaming/store_probe.curation_batch, txn-fenced per store)

and then ASSERTS the admitted set and both stores' post-state: the
output carries, for every corpus document, the funnel decision, the
split, and the document's actual row counts read back from the two
persisted stores after admission — which the DuckDB oracle recomputes
from first principles (banding, bucketing, cosine, quality, exact-dup,
connected components, split hash — every sub-model already
parity-proven by its own gate query).

Per-day cost is O(|Δ| + matches), independent of store size: the sig
probe prunes via shard PartitionFilters + the persisted bloom, the vec
probe via shard PartitionFilters + the Δ-bucket bloom (SCALE_SMOKE.md
pins the store-10×/Δ-fixed control for the composed funnel).

Reference parity: the reference has no incremental curation — this is
the composition of the north-star stores (sigstore/vecstore) with the
curation semantics its batch funnel (curation_v2) anchors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..session import overlap
from ..streaming import await_or_raise
from ..tables import load
from . import query
from .textops import (
    _MAX_TOKENS,
    _MIN_ALPHA,
    _MIN_TOKENS,
    _NORM,
    _TOKS,
    _minhash_ctes,
)
from .textops4 import _LSP_HASH_D
from .vectors import _DIM, _NEAR_DUP_TAU, _sql_bucket, _sql_cos

# The corpus is documents WITH embeddings (both stores must be
# probeable for every corpus document); Δ = doc_id % 4 = 0, the same
# partition every incremental gate query uses.
_IN_EMB = "IN (SELECT vec_id FROM embeddings)"

_ORACLE = f"""
WITH RECURSIVE {_minhash_ctes()},
corpus AS (
  SELECT d.doc_id FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
quality AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
           round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / len(lower(text)), 4) AS alpha_ratio
    FROM documents
    WHERE doc_id % 4 = 0 AND doc_id {_IN_EMB}
  ) WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
      AND alpha_ratio >= {_MIN_ALPHA}
),
probe AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM quality)
  GROUP BY md5({_NORM})
),
eb AS MATERIALIZED (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
t_cross AS (
  SELECT DISTINCT p.doc_id
  FROM bands p JOIN bands s ON p.band = s.band AND p.band_key = s.band_key
  WHERE p.doc_id IN (SELECT doc_id FROM probe)
    AND s.doc_id % 4 != 0 AND s.doc_id {_IN_EMB}
),
t_within AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM probe)
    AND b.doc_id IN (SELECT doc_id FROM probe)
),
v_cross AS (
  SELECT DISTINCT d.vec_id AS doc_id
  FROM eb d JOIN eb s ON d.bucket = s.bucket
  WHERE d.vec_id IN (SELECT doc_id FROM probe)
    AND s.vec_id % 4 != 0 AND s.vec_id IN (SELECT doc_id FROM corpus)
    AND round({_sql_cos("d.embedding", "s.embedding")}, 6) >= {_NEAR_DUP_TAU}
),
v_within AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT doc_id FROM probe)
    AND b.vec_id IN (SELECT doc_id FROM probe)
    AND round({_sql_cos("a.embedding", "b.embedding")}, 6) >= {_NEAR_DUP_TAU}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM t_within
  UNION SELECT id_b, id_a FROM t_within
  UNION SELECT id_a, id_b FROM v_within
  UNION SELECT id_b, id_a FROM v_within
),
walk AS (
  SELECT doc_id AS id, doc_id AS label FROM probe
  UNION
  SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
             FROM walk GROUP BY id),
dec AS (
  SELECT c.doc_id,
         CASE WHEN c.doc_id % 4 != 0 THEN 'store'
              WHEN c.doc_id NOT IN (SELECT doc_id FROM quality)
                THEN 'rejected_quality'
              WHEN c.doc_id NOT IN (SELECT doc_id FROM probe)
                THEN 'rejected_exact'
              WHEN c.doc_id IN (SELECT doc_id FROM t_cross)
                THEN 'rejected_near_text'
              WHEN c.doc_id IN (SELECT doc_id FROM v_cross)
                THEN 'rejected_near_vec'
              WHEN c.doc_id IN (SELECT id_b FROM t_within)
                THEN 'rejected_within_text'
              WHEN c.doc_id IN (SELECT id_b FROM v_within)
                THEN 'rejected_within_vec'
              ELSE 'admitted' END AS decision
  FROM corpus c
),
member AS (
  SELECT doc_id FROM corpus WHERE doc_id % 4 != 0
  UNION ALL
  SELECT doc_id FROM dec WHERE decision = 'admitted'
),
sigc AS (
  SELECT doc_id, count(*) AS c FROM bands
  WHERE doc_id IN (SELECT doc_id FROM member) GROUP BY doc_id
)
SELECT dec.doc_id, dec.decision,
       CASE WHEN dec.decision = 'admitted' THEN
         CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
              WHEN {_LSP_HASH_D} < 90 THEN 'val'
              ELSE 'test' END
       END AS split,
       COALESCE(sigc.c, 0) AS sig_rows,
       CASE WHEN dec.doc_id IN (SELECT doc_id FROM member)
            THEN 1 ELSE 0 END AS vec_rows
FROM dec
LEFT JOIN clusters ON clusters.doc_id = dec.doc_id
LEFT JOIN sigc ON sigc.doc_id = dec.doc_id
"""


def _init_both_stores(sig_init, vec_init) -> None:
    """Bootstrap the two stores in overlap: the inits are independent
    (different source frames, different table dirs) and each is a
    serial chain of small jobs (shuffle-write, manifest commit, bloom
    build), so overlapping them hides one behind the other — same
    stores, same contents, only the job order changes."""
    with overlap() as submit:
        submit(sig_init)
        submit(vec_init)


def _quality_gate(df: DataFrame) -> DataFrame:
    """curation_v2's quality gate, verbatim (token-count band + alpha
    ratio) — the funnel's first stage shares the batch pipeline's
    parity-proven spelling."""
    c = F.col("text")
    return (
        df.select("doc_id", "text", T.tokens(c).alias("_toks"))
        .filter(
            F.size("_toks").between(_MIN_TOKENS, _MAX_TOKENS)
            & (T.alpha_ratio(c) >= _MIN_ALPHA)
        )
        .select("doc_id", "text")
    )


# Output contract (one row per CORPUS document — documents with an
# embedding):
#   decision  — 'store' for yesterday's corpus; for Δ the funnel
#               outcome (rejected_quality / rejected_exact /
#               rejected_near_text / rejected_near_vec /
#               rejected_within_text / rejected_within_vec / admitted)
#   split     — train/val/test for admitted docs (hash of the
#               within-batch collision component's min id → two
#               near-dup admissions can never straddle splits), NULL
#               otherwise
#   sig_rows  — the document's band-key rows ACTUALLY IN the persisted
#               signature store after fenced admission
#   vec_rows  — likewise for the vector index
# The oracle recomputes sig_rows/vec_rows from first principles, so a
# wrong admission (missed doc, double admit, rejected doc leaking in)
# fails the hash even if the decision column looks right.
@query("incremental_curation", oracle=_ORACLE, bench=True)
def incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import signature_store_init
    from ..operators.snapshots import snapshot_read
    from ..operators.vecstore import vector_store_init
    from ..streaming.store_probe import stream_curation

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    # pid-scoped path: a concurrent gate replica must not rmtree stores
    # this process's running stream still references
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "curation_inc",
    )
    shutil.rmtree(base, ignore_errors=True)
    sig_dir = os.path.join(base, "sig_store")
    vec_dir = os.path.join(base, "vec_store")
    out_dir = os.path.join(base, "decisions")
    ckpt = os.path.join(base, "ckpt")

    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    _init_both_stores(
        lambda: signature_store_init(corpus.filter(~delta_flag), sig_dir),
        lambda: vector_store_init(
            emb.join(
                corpus.filter(~delta_flag).select(
                    F.col("doc_id").alias("vec_id")
                ),
                "vec_id",
                "left_semi",
            ),
            vec_dir,
            dim=_DIM,
        ),
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(src).schema
    if os.path.isdir(src):
        # Spark-written table (the scale-smoke corpora): the table IS a
        # directory of part files, so it can be the stream source dir
        # directly — a leaf-name glob of "documents.parquet" would
        # match zero part files and the stream would terminate with no
        # batches (and no funnel run) instead of failing loudly
        reader = spark.readStream.schema(schema).parquet(src)
    else:
        # single-file layout (the driver-generated testdata): stream
        # the parent dir, glob-filtered to just this table's file
        reader = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    stream = reader.filter(delta_flag)
    q = stream_curation(
        stream,
        emb,
        sig_dir,
        vec_dir,
        out_dir,
        ckpt,
        dim=_DIM,
        tau=_NEAR_DUP_TAU,
        gate=_quality_gate,
    )
    await_or_raise(q, 300)

    decisions = spark.read.parquet(out_dir).select(
        "doc_id", "decision", "split"
    )
    sig_post = (
        snapshot_read(spark, sig_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_sig"))
    )
    vec_post = (
        snapshot_read(spark, vec_dir)
        .groupBy(F.col("vec_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("_vec"))
    )
    return (
        corpus.select("doc_id")
        .join(decisions, "doc_id", "left")
        .join(sig_post, "doc_id", "left")
        .join(vec_post, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("decision", F.lit("store")).alias("decision"),
            "split",
            F.coalesce("_sig", F.lit(0)).alias("sig_rows"),
            F.coalesce("_vec", F.lit(0)).alias("vec_rows"),
        )
    )


def _day_ctes(t: str, delta_pred: str, store_rel: str) -> str:
    """One day of the funnel as oracle CTEs (suffix ``t``): quality →
    exact-kept probe set → cross pairs against ``store_rel`` (the
    store AS OF that day — day 2's includes day 1's admissions) →
    within-day pairs → components → decisions → admitted set. Reuses
    the module-level bands/eb CTEs; the spellings are the single-day
    oracle's, parameterized."""
    return f"""quality{t} AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
           round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / len(lower(text)), 4) AS alpha_ratio
    FROM documents
    WHERE {delta_pred} AND doc_id {_IN_EMB}
  ) WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
      AND alpha_ratio >= {_MIN_ALPHA}
),
probe{t} AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM quality{t})
  GROUP BY md5({_NORM})
),
t_cross{t} AS (
  SELECT DISTINCT p.doc_id
  FROM bands p JOIN bands s ON p.band = s.band AND p.band_key = s.band_key
  WHERE p.doc_id IN (SELECT doc_id FROM probe{t})
    AND s.doc_id IN (SELECT doc_id FROM {store_rel})
),
t_within{t} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM probe{t})
    AND b.doc_id IN (SELECT doc_id FROM probe{t})
),
v_cross{t} AS (
  SELECT DISTINCT d.vec_id AS doc_id
  FROM eb d JOIN eb s ON d.bucket = s.bucket
  WHERE d.vec_id IN (SELECT doc_id FROM probe{t})
    AND s.vec_id IN (SELECT doc_id FROM {store_rel})
    AND round({_sql_cos("d.embedding", "s.embedding")}, 6) >= {_NEAR_DUP_TAU}
),
v_within{t} AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT doc_id FROM probe{t})
    AND b.vec_id IN (SELECT doc_id FROM probe{t})
    AND round({_sql_cos("a.embedding", "b.embedding")}, 6) >= {_NEAR_DUP_TAU}
),
edges{t} AS (
  SELECT id_a AS src, id_b AS dst FROM t_within{t}
  UNION SELECT id_b, id_a FROM t_within{t}
  UNION SELECT id_a, id_b FROM v_within{t}
  UNION SELECT id_b, id_a FROM v_within{t}
),
walk{t} AS (
  SELECT doc_id AS id, doc_id AS label FROM probe{t}
  UNION
  SELECT e.dst AS id, w.label FROM walk{t} w JOIN edges{t} e ON e.src = w.id
),
clusters{t} AS (SELECT id AS doc_id, min(label) AS cluster_id
                FROM walk{t} GROUP BY id),
dec{t} AS (
  SELECT c.doc_id,
         CASE WHEN c.doc_id NOT IN (SELECT doc_id FROM quality{t})
                THEN 'rejected_quality'
              WHEN c.doc_id NOT IN (SELECT doc_id FROM probe{t})
                THEN 'rejected_exact'
              WHEN c.doc_id IN (SELECT doc_id FROM t_cross{t})
                THEN 'rejected_near_text'
              WHEN c.doc_id IN (SELECT doc_id FROM v_cross{t})
                THEN 'rejected_near_vec'
              WHEN c.doc_id IN (SELECT id_b FROM t_within{t})
                THEN 'rejected_within_text'
              WHEN c.doc_id IN (SELECT id_b FROM v_within{t})
                THEN 'rejected_within_vec'
              ELSE 'admitted' END AS decision
  FROM (SELECT doc_id FROM corpus WHERE {delta_pred}) c
),
admitted{t} AS (SELECT doc_id FROM dec{t} WHERE decision = 'admitted')"""


# Two operating days against the SAME stores, with an OPTIMIZE
# (snapshot compaction of both stores) between them: day 1's Δ is
# doc_id % 8 = 0, day 2's is doc_id % 8 = 4, and day 2 probes the
# store GROWN by day 1's fenced admissions — a day-2 document that
# near-duplicates a day-1 ADMITTED document must be rejected by the
# STORE arm (the cross-day dedup story), while day-1 rejects leave no
# trace. Compaction sits between the days because that is where a
# maintenance job runs in production; it must be invisible to day 2
# (data- and property-preserving, including the persisted bloom).
_DAILY_ORACLE = f"""
WITH RECURSIVE {_minhash_ctes()},
corpus AS (
  SELECT d.doc_id FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
eb AS MATERIALIZED (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
store0 AS (SELECT doc_id FROM corpus WHERE doc_id % 4 != 0),
{_day_ctes("1", "doc_id % 8 = 0", "store0")},
member1 AS (
  SELECT doc_id FROM store0
  UNION ALL
  SELECT doc_id FROM admitted1
),
{_day_ctes("2", "doc_id % 8 = 4", "member1")},
member AS (
  SELECT doc_id FROM member1
  UNION ALL
  SELECT doc_id FROM admitted2
),
clusters_all AS (
  SELECT doc_id, cluster_id FROM clusters1
  UNION ALL
  SELECT doc_id, cluster_id FROM clusters2
),
dec_all AS (
  SELECT doc_id, 'store' AS decision FROM store0
  UNION ALL SELECT doc_id, decision FROM dec1
  UNION ALL SELECT doc_id, decision FROM dec2
),
sigc AS (
  SELECT doc_id, count(*) AS c FROM bands
  WHERE doc_id IN (SELECT doc_id FROM member) GROUP BY doc_id
)
SELECT dec_all.doc_id, dec_all.decision,
       CASE WHEN dec_all.decision = 'admitted' THEN
         CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
              WHEN {_LSP_HASH_D} < 90 THEN 'val'
              ELSE 'test' END
       END AS split,
       COALESCE(sigc.c, 0) AS sig_rows,
       CASE WHEN dec_all.doc_id IN (SELECT doc_id FROM member)
            THEN 1 ELSE 0 END AS vec_rows
FROM dec_all
LEFT JOIN clusters_all ON clusters_all.doc_id = dec_all.doc_id
LEFT JOIN sigc ON sigc.doc_id = dec_all.doc_id
"""


# Day-2-ONLY oracle: the same two-day CTE chain as _DAILY_ORACLE, but
# the output is JUST day 2's funnel decisions — day 1 exists only to
# grow the store the day-2 Δ probes (the amortized-cost spelling).
_DAY2_ORACLE = f"""
WITH RECURSIVE {_minhash_ctes()},
corpus AS (
  SELECT d.doc_id FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
eb AS MATERIALIZED (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
store0 AS (SELECT doc_id FROM corpus WHERE doc_id % 4 != 0),
{_day_ctes("1", "doc_id % 8 = 0", "store0")},
member1 AS (
  SELECT doc_id FROM store0
  UNION ALL
  SELECT doc_id FROM admitted1
),
{_day_ctes("2", "doc_id % 8 = 4", "member1")}
SELECT dec2.doc_id, dec2.decision,
       CASE WHEN dec2.decision = 'admitted' THEN
         CASE WHEN {_LSP_HASH_D} < 80 THEN 'train'
              WHEN {_LSP_HASH_D} < 90 THEN 'val'
              ELSE 'test' END
       END AS split
FROM dec2
LEFT JOIN clusters2 ON clusters2.doc_id = dec2.doc_id
"""

# Per-process fixture memo: sf_dir → (sig_dir, vec_dir). The stores
# are a FIXTURE of the day-2 query (yesterday's state), not part of
# the day's work — building them inside every timed call would make
# the bench row ~90% bootstrap and hide a real per-day regression
# (VERDICT r11 ask #3). bench.py's warm run pays the build once; the
# timed reps then measure ONLY the Δ-batch funnel, the number that
# must stay flat as the store grows.
_DAY2_STORES: dict[str, tuple[str, str]] = {}


def _day2_fixture_stores(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import signature_store_init
    from ..operators.vecstore import vector_store_init
    from ..streaming.store_probe import curation_batch

    if sf_dir in _DAY2_STORES:
        return _DAY2_STORES[sf_dir]
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_")
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        f"curation_day2_{tag}",
    )
    shutil.rmtree(base, ignore_errors=True)
    sig_dir = os.path.join(base, "sig_store")
    vec_dir = os.path.join(base, "vec_store")

    store_part = corpus.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    _init_both_stores(
        lambda: signature_store_init(store_part, sig_dir),
        lambda: vector_store_init(
            emb.join(
                store_part.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            ),
            vec_dir,
            dim=_DIM,
        ),
    )
    # day 1 operates for real (fenced admission grows both stores), so
    # day 2 probes YESTERDAY'S GROWN state — the amortized daily shape
    curation_batch(
        corpus.filter(F.pmod(F.col("doc_id"), F.lit(8)) == 0),
        0,
        emb,
        sig_dir,
        vec_dir,
        os.path.join(base, "day1_decisions"),
        dim=_DIM,
        tau=_NEAR_DUP_TAU,
        gate=_quality_gate,
        app_id="day2fix",
    )
    _DAY2_STORES[sf_dir] = (sig_dir, vec_dir)
    return sig_dir, vec_dir


# The AMORTIZED daily cost, benched (VERDICT r11 ask #3): the
# round-over-round `incremental_curation` row is ~90% store bootstrap
# + stream boot, so a real per-day regression would hide inside it.
# THIS row times only what a production day pays: one Δ batch through
# the probe-only funnel (quality → exact → both store probes →
# components → split → decisions out) against the prebuilt,
# day-1-grown stores — the fixture builds once per process (bench.py's
# warm run) and every timed rep probes identical store state
# (admit=False). The oracle recomputes both days from first
# principles, so a stale fixture, a wrong day-1 admission, or a probe
# that misses the day-1-grown rows all fail the hash.
@query("incremental_curation_day2", oracle=_DAY2_ORACLE, bench=True)
def incremental_curation_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.store_probe import curation_batch

    sig_dir, vec_dir = _day2_fixture_stores(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    out_dir = os.path.join(os.path.dirname(sig_dir), "day2_decisions")
    curation_batch(
        corpus.filter(F.pmod(F.col("doc_id"), F.lit(8)) == 4),
        1,
        emb,
        sig_dir,
        vec_dir,
        out_dir,
        dim=_DIM,
        tau=_NEAR_DUP_TAU,
        gate=_quality_gate,
        admit=False,  # probe-only: every timed rep sees identical stores
    )
    return spark.read.parquet(out_dir).select("doc_id", "decision", "split")


# The multi-day maintenance contract, oracle-checked end-to-end (the
# single-day query proves one batch; unit tests prove the loop; THIS
# proves the loop's semantics against an independent engine): two
# curation days drive the same persisted stores — day 2's probes see
# day 1's admissions as store (the recomputing oracle has no notion of
# "the store", only of what SHOULD be in it, so a stale/pinned store
# read, a fence failure, or a compaction that dropped rows or
# properties all fail the hash. Batch spelling of the day loop
# (curation_batch driven directly, the tests' shape); the streaming
# spelling is the single-day gate query.
@query("incremental_curation_daily", oracle=_DAILY_ORACLE)
def incremental_curation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import signature_store_init
    from ..operators.snapshots import snapshot_compact, snapshot_read
    from ..operators.vecstore import vector_store_init
    from ..streaming.store_probe import curation_batch

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "curation_daily",
    )
    shutil.rmtree(base, ignore_errors=True)
    sig_dir = os.path.join(base, "sig_store")
    vec_dir = os.path.join(base, "vec_store")
    out_dir = os.path.join(base, "decisions")

    store_part = corpus.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    _init_both_stores(
        lambda: signature_store_init(store_part, sig_dir),
        lambda: vector_store_init(
            emb.join(
                store_part.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            ),
            vec_dir,
            dim=_DIM,
        ),
    )
    for batch_id, day_pred in enumerate((0, 4)):
        curation_batch(
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(8)) == day_pred),
            batch_id,
            emb,
            sig_dir,
            vec_dir,
            out_dir,
            dim=_DIM,
            tau=_NEAR_DUP_TAU,
            gate=_quality_gate,
            app_id="daily",
        )
        if batch_id == 0:
            # the maintenance window between operating days: OPTIMIZE
            # both stores; day 2 must see identical probe semantics
            snapshot_compact(spark, sig_dir)
            snapshot_compact(spark, vec_dir)

    decisions = spark.read.parquet(out_dir).select(
        "doc_id", "decision", "split"
    )
    sig_post = (
        snapshot_read(spark, sig_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_sig"))
    )
    vec_post = (
        snapshot_read(spark, vec_dir)
        .groupBy(F.col("vec_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("_vec"))
    )
    return (
        corpus.select("doc_id")
        .join(decisions, "doc_id", "left")
        .join(sig_post, "doc_id", "left")
        .join(vec_post, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("decision", F.lit("store")).alias("decision"),
            "split",
            F.coalesce("_sig", F.lit(0)).alias("sig_rows"),
            F.coalesce("_vec", F.lit(0)).alias("vec_rows"),
        )
    )
