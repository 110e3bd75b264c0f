"""Vector similarity queries over `embeddings`, with DuckDB oracles.

Both engines compute dot products as left-to-right folds in DOUBLE
(Spark: zip_with + aggregate; DuckDB: list comprehension + list_sum),
so values agree bit-for-bit before the final rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import pins
from ..operators import similarity as S
from ..streaming import await_or_raise
from ..tables import load
from . import query

_QUERY_VEC_ID = 0
_K = 10
_NPROBE = 2

# Σ CAST(a[i])·CAST(b[i]) over 1..len as a DuckDB list fold.
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, len({a}))])"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)} / "
        f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"
    )


@query(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           round({_sql_cos("e.embedding", "q.qe")}, 6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {_K}
    """,
    bench=True,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(load(spark, sf_dir, "embeddings"), vec_id=_QUERY_VEC_ID, k=_K)


_DIM = 64


def _sql_bucket(vec: str, n_planes: int = S.N_HYPERPLANES) -> str:
    """Hyperplane LSH bucket as SQL, with plane components embedded as
    literals (same Python-side md5 precompute as the Spark plan)."""
    terms = []
    for p in range(n_planes):
        comps = ", ".join(
            str(S.hyperplane_component(p, i)) for i in range(1, _DIM + 1)
        )
        dot = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ([{comps}])[i] "
            f"FOR i IN generate_series(1, {_DIM})])"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@query(
    "ann_lsh_buckets",
    oracle=f"""
    SELECT {_sql_bucket("embedding")} AS bucket, count(*) AS n_vectors
    FROM embeddings GROUP BY 1
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_bucket_counts(load(spark, sf_dir, "embeddings"), dim=_DIM)


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding,
             {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    qb AS (SELECT bucket FROM bucketed WHERE vec_id = {_QUERY_VEC_ID}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           round({_sql_cos("e.embedding", "q.qe")}, 6) AS cos_sim
    FROM bucketed e, q
    WHERE e.bucket IN (SELECT bucket FROM qb)
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_topk(
        load(spark, sf_dir, "embeddings"), vec_id=_QUERY_VEC_ID, dim=_DIM, k=_K
    )


_NEAR_DUP_TAU = 0.4


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                            FOR i IN generate_series(1, len(embedding))])) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                           FOR i IN generate_series(1, len(a.embedding))])
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                          FOR i IN generate_series(1, len(a.embedding))])
                / (a.nrm * b.nrm), 6) >= {_NEAR_DUP_TAU}
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: BLAS-blocked candidate
    generation + exact fold verification (operators/similarity.
    cosine_pairs_blocked). Final values are the same left-fold cosine
    the oracle computes — the GEMM stage only prunes."""
    from ..operators.similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(
        load(spark, sf_dir, "embeddings"), tau=_NEAR_DUP_TAU
    )


# Incremental embedding near-dup against a persisted vector index: the
# corpus part (vec_id % 4 != 0) bootstraps the bucket-keyed index as a
# snapshot table; the Δ part (vec_id % 4 = 0) probes it through the
# Δ-bucket-bloom-pruned bucket join + exact cosine verify WITHOUT
# rescanning the corpus. Contract (proved by the oracle): probe(Δ,
# store) ≡ full-corpus bucketed near-dup pairs restricted to pairs
# touching Δ. operators/vecstore.py; maintenance across appends is
# pinned by tests/test_vecstore.py.
@query(
    "incremental_embedding_dedup",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE (a.vec_id % 4 = 0 OR b.vec_id % 4 = 0)
      AND round({_sql_cos("a.embedding", "b.embedding")}, 6) >= {_NEAR_DUP_TAU}
    """,
)
def incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.vecstore import incremental_cosine_pairs, vector_store_init

    emb = load(spark, sf_dir, "embeddings")
    # pid-scoped path: a concurrent gate replica must not rmtree a
    # store this process's lazily-materializing probe still references
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "vec_index",
    )
    shutil.rmtree(table, ignore_errors=True)
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    vector_store_init(emb.filter(~delta_flag), table, dim=_DIM)
    return incremental_cosine_pairs(
        spark, emb.filter(delta_flag), table, dim=_DIM, tau=_NEAR_DUP_TAU
    )


# The embedding twin of foreachbatch_incremental_dedup: each
# micro-batch probes the persisted vector index INSIDE foreachBatch
# (streaming/store_probe.py stream_vector_probe), so the shard
# PartitionFilters + Δ-bucket bloom prune apply per batch and the
# store re-resolves per batch. Output is the Δ×store arm only (one
# side in Δ, one in the store — within-batch pairs belong to the
# admission loop), hence the XOR in the oracle's delta predicate.
@query(
    "foreachbatch_embedding_dedup",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ((a.vec_id % 4 = 0) <> (b.vec_id % 4 = 0))
      AND round({_sql_cos("a.embedding", "b.embedding")}, 6) >= {_NEAR_DUP_TAU}
    """,
)
def foreachbatch_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.vecstore import vector_store_init
    from ..streaming.store_probe import stream_vector_probe

    emb = load(spark, sf_dir, "embeddings")
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "vec_index_fb",
    )
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "store")
    delta_flag = F.pmod(F.col("vec_id"), F.lit(4)) == 0
    vector_store_init(emb.filter(~delta_flag), table, dim=_DIM)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(delta_flag)
    )
    q = stream_vector_probe(
        stream,
        table,
        os.path.join(base, "pairs"),
        os.path.join(base, "ckpt"),
        dim=_DIM,
        tau=_NEAR_DUP_TAU,
    )
    await_or_raise(q, 300)
    return (
        spark.read.parquet(os.path.join(base, "pairs"))
        .select("id_a", "id_b", "cos_sim")
        .distinct()
    )


# The maintenance-path composition the r8 verdict found broken, now
# oracle-gated end-to-end: the vector index is built, APPENDED to, then
# COMPACTED (snapshot_compact — which must round-trip the manifest's
# dim/planes meta and the _shard Hive layout), and only then probed.
# The probe's result must still equal the full-corpus bucketed pairs
# touching Δ — identical oracle to incremental_embedding_dedup, because
# OPTIMIZE is data- and property-preserving by contract.
@query(
    "compacted_vector_store_probe",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE (a.vec_id % 4 = 0 OR b.vec_id % 4 = 0)
      AND round({_sql_cos("a.embedding", "b.embedding")}, 6) >= {_NEAR_DUP_TAU}
    """,
)
def compacted_vector_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.snapshots import snapshot_compact
    from ..operators.vecstore import incremental_cosine_pairs, vector_store_init

    emb = load(spark, sf_dir, "embeddings")
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "vec_index_compacted",
    )
    shutil.rmtree(table, ignore_errors=True)
    part = F.pmod(F.col("vec_id"), F.lit(4))
    vector_store_init(emb.filter(part.isin(1, 2)), table, dim=_DIM)
    # an append creates the multi-dir union compaction collapses (the
    # admission write happens inside the call; the pairs are lazy and
    # deliberately unused — this step exists for its store side effect)
    incremental_cosine_pairs(
        spark, emb.filter(part == 3), table, dim=_DIM, tau=_NEAR_DUP_TAU,
        commit=True,
    )
    # …then OPTIMIZE rewrites the live rows into one dir per manifest
    snapshot_compact(spark, table)
    return incremental_cosine_pairs(
        spark, emb.filter(part == 0), table, dim=_DIM, tau=_NEAR_DUP_TAU,
        commit=False,
    )


@query(
    "quantized_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           round(list_sum([(v[i] - (mn + q[i] / 255 * scale))
                           * (v[i] - (mn + q[i] / 255 * scale))
                           FOR i IN generate_series(1, len(v))]) / len(v), 6)
             AS mse
    FROM (
      SELECT vec_id, v, mn, scale,
             CASE WHEN scale = 0
                  THEN [CAST(0 AS DOUBLE) FOR x IN v]
                  ELSE [CAST(floor((x - mn) / scale * 255) AS DOUBLE) FOR x IN v]
             END AS q
      FROM (
        SELECT vec_id,
               [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
               list_min([CAST(x AS DOUBLE) FOR x IN embedding]) AS mn,
               list_max([CAST(x AS DOUBLE) FOR x IN embedding])
                 - list_min([CAST(x AS DOUBLE) FOR x IN embedding]) AS scale
        FROM embeddings
      )
    )
    """,
)
def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization digest per vector (code sum + MSE) —
    the 4× storage compression an ANN index applies at corpus scale."""
    return S.quantize_stats(load(spark, sf_dir, "embeddings"))


@query(
    "embedding_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                            FOR i IN generate_series(1, len(embedding))])) AS nrm
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                            FOR i IN generate_series(1, len(a.embedding))])
                  / (a.nrm * b.nrm), 6) >= {_NEAR_DUP_TAU}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT vec_id AS id, vec_id AS label FROM embeddings
      UNION
      SELECT g.dst AS id, w.label FROM walk w JOIN edges g ON g.src = w.id
    )
    SELECT id AS vec_id, min(label) AS cluster_id FROM walk GROUP BY id
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup clusters: connected components over the
    embedding-cosine near-dup graph (blocked-GEMM candidates → exact
    verify → iterative min-label propagation). The oracle closes the
    same graph with a recursive CTE."""
    from ..operators.dedup import connected_components

    emb = load(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs_blocked(emb, tau=_NEAR_DUP_TAU).select("id_a", "id_b")
    return connected_components(pairs, emb.select("vec_id"), id_col="vec_id")


def _kmeans_ctes(
    k: int,
    n_iter: int,
    train_pct: int | None = None,
    vec_expr: str = "[CAST(x AS DOUBLE) FOR x IN embedding]",
    prefix: str = "",
    src_rel: str = "embeddings",
) -> list[str]:
    """Lloyd's k-means unrolled into CTEs — SQL-expressible because the
    iteration count is FIXED (deterministic init from the k smallest
    ids, exactly n_iter update rounds, no data-dependent stopping),
    mirroring operators/similarity.kmeans_lloyd step for step:
    assignment = argmin squared-L2 with smallest-cluster tie-break,
    update = per-(cluster, position) avg, empty clusters keep their
    previous centroid. ``train_pct`` mirrors the operator's
    deterministic md5-bucket training sample: init + update rounds
    read the sample CTE, the final assignment reads the full one.
    ``vec_expr``/``prefix`` let several independent chains (e.g. the
    PQ subspaces) coexist in one statement. The final assignment CTE
    is ``{prefix}a{n_iter+1}`` with columns (vec_id, v, cluster, d)."""
    p = prefix
    dist = (
        "list_sum([(v[i] - c[i]) * (v[i] - c[i]) "
        "FOR i IN generate_series(1, len(v))])"
    )
    ctes = [
        # embeddings cast to double once, like the Spark plan's staging
        # (``src_rel`` lets a composed oracle cluster an upstream CTE,
        # e.g. embedding_curation's post-dedup survivor set)
        f"{p}v AS MATERIALIZED (SELECT vec_id, "
        f"{vec_expr} AS v FROM {src_rel})",
    ]
    if train_pct is not None:
        ctes.append(
            f"{p}vs AS MATERIALIZED (SELECT vec_id, v FROM {p}v WHERE "
            "CAST(('0x' || substr(md5('smp|' || CAST(vec_id AS VARCHAR)), 1, 8)) "
            f"AS BIGINT) % 100 < {train_pct})"
        )
    src = f"{p}vs" if train_pct is not None else f"{p}v"
    ctes.append(
        # init: centroid j = training vector with the j-th smallest id
        f"{p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster, "
        f"v AS c FROM (SELECT vec_id, v FROM {src} ORDER BY vec_id ASC LIMIT {k}))"
    )
    for it in range(1, n_iter + 2):
        prev = it - 1
        rel = src if it <= n_iter else f"{p}v"
        ctes.append(
            f"{p}a{it} AS (SELECT vec_id, v, cluster, d FROM ("
            f"SELECT vec_id, v, {p}c{prev}.cluster AS cluster, {dist} AS d "
            f"FROM {rel} CROSS JOIN {p}c{prev}) "
            "QUALIFY row_number() OVER (PARTITION BY vec_id "
            "ORDER BY d ASC, cluster ASC) = 1)"
        )
        if it <= n_iter:
            ctes.append(
                f"{p}n{it} AS (SELECT cluster, list(m ORDER BY pos) AS c FROM ("
                "SELECT cluster, pos, avg(val) AS m FROM ("
                "SELECT cluster, unnest(generate_series(1, len(v))) AS pos, "
                f"unnest(v) AS val FROM {p}a{it}) GROUP BY cluster, pos) "
                "GROUP BY cluster)"
            )
            ctes.append(
                f"{p}c{it} AS (SELECT {p}c{prev}.cluster, "
                f"coalesce({p}n{it}.c, {p}c{prev}.c) AS c FROM {p}c{prev} "
                f"LEFT JOIN {p}n{it} ON {p}c{prev}.cluster = {p}n{it}.cluster)"
            )
    return ctes


def _kmeans_oracle(k: int, n_iter: int, train_pct: int | None = None) -> str:
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k, n_iter, train_pct))
        + f"\nSELECT vec_id, cluster, round(d, 6) AS sq_dist FROM a{n_iter + 1}"
    )


_KMEANS_TRAIN_PCT = 20


@query(
    "kmeans_clusters",
    oracle=_kmeans_oracle(k=5, n_iter=5, train_pct=_KMEANS_TRAIN_PCT),
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=5, 5 rounds, deterministic init) with the
    codebook trained on a deterministic ~20% hash-sample — the update
    rounds cost sample-sized passes and the full corpus is scanned
    once, by the final assignment. See operators/similarity.kmeans_lloyd."""
    return S.kmeans_lloyd(
        load(spark, sf_dir, "embeddings"),
        k=5,
        n_iter=5,
        train_pct=_KMEANS_TRAIN_PCT,
    )


@query(
    "label_centroids",
    oracle="""
    SELECT label, idx, round(avg(CAST(val AS DOUBLE)), 6) AS centroid_val
    FROM (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS idx,
             unnest(embedding) AS val
      FROM embeddings
    )
    GROUP BY label, idx
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.label_centroids(load(spark, sf_dir, "embeddings"))


@query(
    "ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT label, idx, round(avg(CAST(val AS DOUBLE)), 6) AS centroid_val
      FROM (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings
      )
      GROUP BY label, idx
    ),
    qv AS (
      SELECT idx, CAST(val AS DOUBLE) AS qval
      FROM (
        SELECT unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
      )
    ),
    probe AS (
      SELECT label
      FROM cents JOIN qv USING (idx)
      GROUP BY label
      ORDER BY sum((centroid_val - qval) * (centroid_val - qval)) ASC, label ASC
      LIMIT {_NPROBE}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           round({_sql_cos("e.embedding", "q.qe")}, 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.label IN (SELECT label FROM probe)
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {_K}
    """,
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_topk(
        load(spark, sf_dir, "embeddings"),
        vec_id=_QUERY_VEC_ID,
        k=_K,
        nprobe=_NPROBE,
    )


_SEM_K = 5
_SEM_ITER = 2
_SEM_TAU = 0.4


def _semdedup_oracle() -> str:
    """kmeans CTEs (shared with the kmeans oracle) → within-cluster
    near-dup pairs → survivors with no lower-id neighbor ≥ tau."""
    ctes = _kmeans_ctes(_SEM_K, _SEM_ITER)
    final = f"a{_SEM_ITER + 1}"
    ctes.append(f"asg AS (SELECT vec_id, cluster FROM {final})")
    ctes.append(
        "ee AS (SELECT asg.vec_id, asg.cluster, emb.embedding "
        "FROM asg JOIN embeddings emb USING (vec_id))"
    )
    ctes.append(
        "drops AS (SELECT DISTINCT b.vec_id "
        "FROM ee a JOIN ee b ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        f"WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 6) >= {_SEM_TAU})"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT vec_id, cluster FROM asg "
        "WHERE vec_id NOT IN (SELECT vec_id FROM drops)"
    )


@query("semdedup_survivors", oracle=_semdedup_oracle(), bench=True)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): cluster embeddings with k-means,
    prune cosine-near-duplicates within each cluster, keep the
    lowest-id representative. See operators/similarity.semdedup for
    the 100 TB shape (cluster-equi-join candidates, no n² pairs)."""
    return S.semdedup(
        load(spark, sf_dir, "embeddings"),
        k=_SEM_K,
        n_iter=_SEM_ITER,
        tau=_SEM_TAU,
    )


@query(
    "embedding_hof_profile",
    oracle="""
    SELECT vec_id,
           len([x FOR x IN embedding IF CAST(x AS DOUBLE) > 0]) AS n_pos,
           round(list_sum([abs(CAST(x AS DOUBLE)) FOR x IN embedding]), 6)
             AS l1_norm,
           round(list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]), 6)
             AS max_abs,
           len([x FOR x IN embedding IF abs(CAST(x AS DOUBLE)) > 2.0]) > 0
             AS any_big
    FROM embeddings
    """,
)
def embedding_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions staying entirely JVM-side — no UDF:
    filter+size, aggregate (left fold, matching the oracle's list_sum
    order), transform+array_max, exists. The per-row work is whole-
    stage-codegen'd; at 100 TB this shape is a map-only pass."""
    v = F.col("embedding")
    as_double = lambda x: x.cast("double")  # noqa: E731
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(F.filter(v, lambda x: as_double(x) > 0)).alias("n_pos"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + F.abs(as_double(x))),
            6,
        ).alias("l1_norm"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(as_double(x)))), 6).alias(
            "max_abs"
        ),
        F.exists(v, lambda x: F.abs(as_double(x)) > F.lit(2.0)).alias("any_big"),
    )


_PER_LABEL_K = 3


@query(
    "ann_per_label_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings
               WHERE vec_id = {_QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label,
             round({_sql_cos("e.embedding", "q.qe")}, 6) + 0.0 AS cos_sim
      FROM embeddings e, q
    )
    SELECT vec_id, label, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY label ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {_PER_LABEL_K}
    """,
)
def ann_per_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class nearest neighbors (diverse / quota-balanced retrieval):
    rank<=k over a label-partitioned window of broadcast-query cosine
    scores. Catalyst turns the rank filter into WindowGroupLimit —
    each map task pre-prunes to its local top-k per label before the
    single shuffle (see operators/similarity.per_label_topk)."""
    return S.per_label_topk(
        load(spark, sf_dir, "embeddings"), vec_id=_QUERY_VEC_ID, k=_PER_LABEL_K
    )


_PCA_ITERS = 5


def _pca_oracle(n_iter: int = _PCA_ITERS) -> str:
    """Unrolled power iteration over the covariance of the embedding
    columns — same algebra as similarity.top_principal_component:
    cov from second/first moments, n_iter matvec+normalize rounds,
    sign fixed on component 1."""
    sql = f"""
    WITH e AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS vi
      FROM embeddings CROSS JOIN generate_series(1, {_DIM}) s(i)
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    smat AS (
      SELECT a.i AS i, b.i AS j, sum(a.vi * b.vi) AS s
      FROM e a JOIN e b USING (vec_id)
      GROUP BY a.i, b.i
    ),
    means AS (SELECT i, sum(vi) / n AS m FROM e, n GROUP BY i, n),
    cov AS (
      SELECT smat.i, smat.j,
             (s - mi.m * mj.m * n.n) / n.n AS c
      FROM smat
      JOIN means mi ON mi.i = smat.i
      JOIN means mj ON mj.i = smat.j
      CROSS JOIN n
    ),
    x0 AS (SELECT DISTINCT i AS j, 1.0 AS x FROM cov)"""
    prev = "x0"
    for k in range(1, n_iter + 1):
        sql += f""",
    y{k} AS (SELECT cov.i, sum(cov.c * {prev}.x) AS y
             FROM cov JOIN {prev} ON {prev}.j = cov.j GROUP BY cov.i),
    x{k} AS (SELECT i AS j, y / (SELECT sqrt(sum(y * y)) FROM y{k}) AS x
             FROM y{k})"""
        prev = f"x{k}"
    sql += f"""
    SELECT {prev}.j AS idx,
           round({prev}.x * sg.sg, 6) + 0.0 AS component
    FROM {prev}
    CROSS JOIN (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sg
                FROM {prev} WHERE j = 1) sg
    """
    return sql


@query("embedding_top_component", oracle=_pca_oracle(), bench=True)
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PCA axis of the embedding corpus (power iteration, 5 rounds,
    deterministic init and sign) — see
    operators/similarity.top_principal_component."""
    return S.top_principal_component(
        load(spark, sf_dir, "embeddings"), n_iter=_PCA_ITERS
    )


_KNN_K = 3


@query(
    "knn_graph_edges",
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
    )
    SELECT src_id, dst_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {_KNN_K}
    """,
    bench=True,
)
def knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole corpus — the neighbor-list
    build stage of graph ANN indexes (HNSW/NN-descent seeds) and of
    graph-based dedup: every vector gets its k best cosine neighbors
    among vectors sharing its hyperplane-LSH bucket. Candidates come
    from ONE BLAS multiply per bucket (bucketed_knn_candidates:
    guaranteed superset of the exact rounded top-k incl. ties, ~k
    candidates per source instead of the whole bucket); the exact
    sequential-fold cosine then re-scores candidates only, so emitted
    values are bit-identical to the oracle's per-pair fold. Expected
    work is still |corpus|²/2^planes GEMM flops — the standard LSH
    recall/cost dial, never the full cross product — and the
    per-source rank<=k filter rewrites to map-side WindowGroupLimit
    before the one shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    # norms once per VECTOR, not per pair: cosine(a,b) recomputes both
    # norms inside every candidate pair (~2/3 of the fold work for the
    # same values); dot/(na*nb) is the identical arithmetic
    wb = pins.cache(emb.select(
        "vec_id",
        "embedding",
        S.hyperplane_bucket(F.col("embedding"), _DIM).alias("_bucket"),
        S.norm(F.col("embedding")).alias("_nrm"),
    ))
    cand = S.bucketed_knn_candidates(wb, k=_KNN_K)
    a = wb.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = wb.select(
        F.col("vec_id").alias("dst_id"),
        F.col("embedding").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    cos = S.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    scored = cand.join(a, "src_id").join(b, "dst_id").select(
        "src_id",
        "dst_id",
        (F.round(cos, 6) + F.lit(0.0)).alias("cos_sim"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("dst_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
    )


@query(
    "knn_graph_refined",
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
    base AS (
      SELECT src_id, dst_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= {_KNN_K}
    ),
    cand AS (
      SELECT src_id, dst_id FROM base
      UNION
      SELECT a.src_id, b.dst_id
      FROM base a JOIN base b ON a.dst_id = b.src_id
      WHERE b.dst_id <> a.src_id
    ),
    rescored AS (
      SELECT c.src_id, c.dst_id,
             round({_sql_cos("s.embedding", "d.embedding")}, 6) + 0.0
               AS cos_sim
      FROM cand c
      JOIN embeddings s ON s.vec_id = c.src_id
      JOIN embeddings d ON d.vec_id = c.dst_id
    )
    SELECT src_id, dst_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rnk
      FROM rescored
    ) WHERE rnk <= {_KNN_K}
    """,
    bench=True,
)
def knn_graph_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent refinement round over the LSH k-NN graph: a
    vector's neighbors' neighbors are likely neighbors, so the
    candidate set expands from bucket edges to the two-hop closure
    (≤ k² extra candidates per node, independent of corpus size),
    everything is re-scored exactly, and the top-k re-ranked. This is
    how graph ANN escapes LSH bucket boundaries — recall improves
    every round without ever touching the full cross product."""
    # multi-consumer intermediate (self-join + union): cache it so the
    # bucket-join + window plan runs once, not once per consumer. A
    # LAZY cache (not localCheckpoint) on purpose: the one noop action
    # materializes it in-plan, instead of paying a separate serial
    # driver-blocking job before the main one (guide §1.2 — the wall
    # at this scale is serial action count × job latency).
    # Ownership: the returned plan reads this cache, so the caller's
    # pins.scope() releases it (operators/dedup.py's Cache policy).
    base = pins.cache(
        knn_graph_edges(spark, sf_dir)
        .select("src_id", "dst_id")
    )
    hop2 = (
        base.alias("a")
        .join(
            base.alias("b"),
            F.col("a.dst_id") == F.col("b.src_id"),
        )
        .filter(F.col("b.dst_id") != F.col("a.src_id"))
        .select(F.col("a.src_id").alias("src_id"), F.col("b.dst_id").alias("dst_id"))
    )
    cand = base.unionByName(hop2).distinct()
    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(F.col("vec_id").alias("_sid"), F.col("embedding").alias("_vs"))
    d = emb.select(F.col("vec_id").alias("_did"), F.col("embedding").alias("_vd"))
    rescored = (
        cand.join(s, cand["src_id"] == s["_sid"])
        .join(d, cand["dst_id"] == d["_did"])
        .select(
            "src_id",
            "dst_id",
            (
                F.round(S.cosine(F.col("_vs"), F.col("_vd")), 6) + F.lit(0.0)
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("dst_id"))
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
    )


_PQ_M, _PQ_K, _PQ_ITER = 4, 4, 2


def _pq_oracle() -> str:
    """m independent unrolled-kmeans chains over contiguous embedding
    slices, joined on vec_id; per-subspace d rounds to 6 before the
    summed error (mirroring the Spark side, where kmeans_lloyd emits
    rounded sq_dist per subspace)."""
    sub = _DIM // _PQ_M
    ctes: list[str] = []
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes += _kmeans_ctes(
            _PQ_K,
            _PQ_ITER,
            train_pct=_KMEANS_TRAIN_PCT,
            vec_expr=(
                f"[CAST(embedding[i] AS DOUBLE) FOR i IN generate_series({lo}, {hi})]"
            ),
            prefix=f"s{j}_",
        )
    final = _PQ_ITER + 1
    joins = "\n    ".join(
        f"JOIN s{j}_a{final} s{j} ON s{j}.vec_id = s0.vec_id"
        for j in range(1, _PQ_M)
    )
    codes = ", ".join(f"s{j}.cluster AS c{j}" for j in range(_PQ_M))
    err = " + ".join(f"round(s{j}.d, 6)" for j in range(_PQ_M))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT s0.vec_id, {codes}, round({err}, 6) AS sq_err"
        + f"\nFROM s0_a{final} s0\n    {joins}"
    )


@query("pq_codes", oracle=_pq_oracle())
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: per-subspace sampled Lloyd codebooks
    + nearest-centroid code tuple per vector — the compression half of
    the IVF+PQ ANN stack. See operators/similarity.pq_codes."""
    return S.pq_codes(
        load(spark, sf_dir, "embeddings"),
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_PQ_ITER,
        train_pct=_KMEANS_TRAIN_PCT,
    )


_IVFPQ_ITER = 2


def _ivfpq_oracle() -> str:
    """IVF coarse probe (the ivf_topk spelling) + PQ asymmetric
    distance: per subspace, the probed vector's code is its argmin
    over the trained codebook (chain CTEs, sampled training) and the
    reported distance measures the QUERY slice against that code's
    centroid — never the raw vector. Mirrors
    operators/similarity.ivfpq_topk; distances are ascending-i left
    folds on both sides."""
    sub = _DIM // _PQ_M
    ctes: list[str] = []
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes += _kmeans_ctes(
            _PQ_K,
            _IVFPQ_ITER,
            train_pct=_KMEANS_TRAIN_PCT,
            vec_expr=(
                f"[CAST(embedding[i] AS DOUBLE) FOR i IN generate_series({lo}, {hi})]"
            ),
            prefix=f"s{j}_",
        )
    ctes.append(
        """cents AS (
      SELECT label, idx, round(avg(CAST(val AS DOUBLE)), 6) AS centroid_val
      FROM (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings
      )
      GROUP BY label, idx
    )"""
    )
    ctes.append(
        f"""qv AS (
      SELECT idx, CAST(val AS DOUBLE) AS qval
      FROM (
        SELECT unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
      )
    )"""
    )
    ctes.append(
        f"""probe AS (
      SELECT label
      FROM cents JOIN qv USING (idx)
      GROUP BY label
      ORDER BY sum((centroid_val - qval) * (centroid_val - qval)) ASC, label ASC
      LIMIT {_NPROBE}
    )"""
    )
    ctes.append(
        f"q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})"
    )
    ctes.append(
        "probed AS (SELECT vec_id, label, embedding FROM embeddings "
        "WHERE label IN (SELECT label FROM probe))"
    )
    nc = _IVFPQ_ITER  # trained codebook CTE index
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        dx = (
            f"list_sum([(CAST(p.embedding[i] AS DOUBLE) - c.c[i - {lo} + 1]) "
            f"* (CAST(p.embedding[i] AS DOUBLE) - c.c[i - {lo} + 1]) "
            f"FOR i IN generate_series({lo}, {hi})])"
        )
        ctes.append(
            f"""code{j} AS (
      SELECT vec_id, cluster FROM (
        SELECT p.vec_id, c.cluster, {dx} AS d
        FROM probed p CROSS JOIN s{j}_c{nc} c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d ASC, cluster ASC) = 1
    )"""
        )
        dq = (
            f"list_sum([(CAST(q.qe[i] AS DOUBLE) - c.c[i - {lo} + 1]) "
            f"* (CAST(q.qe[i] AS DOUBLE) - c.c[i - {lo} + 1]) "
            f"FOR i IN generate_series({lo}, {hi})])"
        )
        ctes.append(
            f"lut{j} AS (SELECT c.cluster, {dq} AS ld FROM s{j}_c{nc} c, q)"
        )
    code_joins = "\n    ".join(
        f"JOIN code{j} ON code{j}.vec_id = p.vec_id\n"
        f"    JOIN lut{j} ON lut{j}.cluster = code{j}.cluster"
        for j in range(_PQ_M)
    )
    err = " + ".join(f"lut{j}.ld" for j in range(_PQ_M))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT p.vec_id, p.label, round({err}, 6) AS adc_dist"
        + f"\nFROM probed p\n    {code_joins}"
        + f"\nORDER BY adc_dist ASC, p.vec_id ASC\nLIMIT {_K}"
    )


@query("ivfpq_topk", oracle=_ivfpq_oracle(), bench=True)
def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse probe + PQ asymmetric-distance fine scoring — the
    complete production ANN stack. See operators/similarity.ivfpq_topk."""
    return S.ivfpq_topk(
        load(spark, sf_dir, "embeddings"),
        vec_id=_QUERY_VEC_ID,
        k=_K,
        nprobe=_NPROBE,
        m=_PQ_M,
        pq_k=_PQ_K,
        n_iter=_IVFPQ_ITER,
        train_pct=_KMEANS_TRAIN_PCT,
    )


_LS_SEED_PCT = 40
_LS_ROUNDS = 2
_KNN_EDGES_SQL = f"""
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
    edges AS (
      SELECT src_id, dst_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY src_id ORDER BY cos_sim DESC, dst_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= {_KNN_K}
    )
"""


def _label_spread_oracle() -> str:
    """Unrolled label-propagation rounds: seeds clamp, every other
    node takes the majority label among its k-NN neighbors' CURRENT
    labels (ties → smallest label), unlabeled neighbors abstain."""
    seed = (
        "CAST(('0x' || substr(md5('smp|' || CAST(vec_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % 100 < {_LS_SEED_PCT}"
    )
    ctes = [
        f"l0 AS (SELECT vec_id, CASE WHEN {seed} THEN label END AS lab "
        "FROM embeddings)"
    ]
    for r in range(1, _LS_ROUNDS + 1):
        prev = r - 1
        ctes.append(
            f"""m{r} AS (
      SELECT vec_id, lab FROM (
        SELECT e.src_id AS vec_id, l.lab, count(*) AS c,
               row_number() OVER (PARTITION BY e.src_id
                                  ORDER BY count(*) DESC, l.lab ASC) AS rn
        FROM edges e JOIN l{prev} l ON l.vec_id = e.dst_id
        WHERE l.lab IS NOT NULL
        GROUP BY e.src_id, l.lab
      ) WHERE rn = 1
    )"""
        )
        ctes.append(
            f"l{r} AS (SELECT l.vec_id, coalesce(l.lab, m.lab) AS lab "
            f"FROM l{prev} l LEFT JOIN m{r} m ON m.vec_id = l.vec_id)"
        )
    return (
        _KNN_EDGES_SQL.rstrip()
        + ",\n"
        + ",\n".join(ctes)
        + f"""
    SELECT l.vec_id, l.lab AS final_label,
           CASE WHEN s.lab IS NOT NULL THEN 'seed'
                WHEN l.lab IS NOT NULL THEN 'spread'
                ELSE 'none' END AS origin
    FROM l{_LS_ROUNDS} l JOIN l0 s ON s.vec_id = l.vec_id
    """
    )


@query("knn_label_spread", oracle=_label_spread_oracle(), bench=True)
def knn_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the LSH k-NN graph — the
    weak-supervision primitive (Zhu & Ghahramani 2002 label spreading,
    majority-vote discrete variant): a deterministic ~40% hash-seeded
    subset keeps its labels, everyone else takes the per-round
    majority of its neighbors, unrolled a fixed 2 rounds.

    Scale shape: the edge list builds once (bucket equi-join + map-side
    WindowGroupLimit) and is pinned; each round is ONE edge-keyed join
    + a (node, label) partial-agg majority — iterative state is the
    corpus-row (vec_id, lab) pair list, never collected."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    seed = (
        "pmod(conv(substring(md5(concat('smp|', cast(vec_id as string))), "
        f"1, 8), 16, 10), 100) < {_LS_SEED_PCT}"
    )
    # lazy caches, not localCheckpoints: both frames are multi-consumer
    # (labels per round + final origin join; edges per round), but a
    # pin is a serial driver-blocking job each — the single noop action
    # materializes both in-plan and every later consumer reads the
    # cached partitions (guide §1.2: serial action count is the wall).
    labels = pins.cache(emb.select(
        "vec_id",
        F.when(F.expr(seed), F.col("label")).alias("lab"),
    ))
    edges = (
        pins.cache(knn_graph_edges(spark, sf_dir).select("src_id", "dst_id"))
    )
    cur = labels
    w = Window.partitionBy("src_id").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(_LS_ROUNDS):
        votes = (
            edges.join(
                cur.filter(F.col("lab").isNotNull()).select(
                    F.col("vec_id").alias("dst_id"), "lab"
                ),
                "dst_id",
            )
            .groupBy("src_id", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        maj = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src_id").alias("vec_id"), F.col("lab").alias("_maj"))
        )
        cur = (
            cur.join(maj, "vec_id", "left")
            .select("vec_id", F.coalesce("lab", "_maj").alias("lab"))
        )
    return (
        cur.join(labels.select("vec_id", F.col("lab").alias("_seed")), "vec_id")
        .select(
            "vec_id",
            F.col("lab").alias("final_label"),
            F.when(F.col("_seed").isNotNull(), F.lit("seed"))
            .when(F.col("lab").isNotNull(), F.lit("spread"))
            .otherwise(F.lit("none"))
            .alias("origin"),
        )
    )


@query(
    "knn_graph_triangles",
    oracle=_KNN_EDGES_SQL.rstrip()
    + """,
    und AS (
      SELECT DISTINCT least(src_id, dst_id) AS u, greatest(src_id, dst_id) AS v
      FROM edges
    ),
    deg AS (
      SELECT id, count(*) AS d FROM (
        SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und
      ) GROUP BY id
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS lo,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS hi
      FROM und JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v
    ),
    tris AS (
      SELECT count(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e2.lo = e1.hi
      JOIN oriented e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    wedges AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
    SELECT n_triangles, n_wedges,
           round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
    FROM tris, wedges
    """,
    bench=True,
)
def knn_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the k-NN
    graph — the manifold-quality probe (high clustering = neighbors
    agree; near-random graphs signal broken embeddings). Degree-ordered
    edge orientation (Schank–Wagner compact-forward): every edge points
    low-rank → high-rank by (degree, id), so each triangle is
    enumerated exactly once and the wedge join fans out by the LOW
    endpoint's out-degree — bounded by max degree ≤ corpus-wide k
    in a k-NN graph, never by hub in-degree."""
    # EAGER pins here, unlike knn_graph_refined's lazy caches: edges
    # feeds und, whose FOUR concurrent consumers (two unionAll arms of
    # deg + the two orientation joins) sit in parallel subtrees of the
    # one action — a lazy cache is populated per-partition as tasks
    # run, so cold, every concurrent subtree recomputes the whole GEMM
    # edge pipeline before any cache block exists (measured r13:
    # stages 50→89, task_ms 1.2k→3.0k, wall 1.6→2.4 s cold in both
    # interleave orders). The pin costs one serial job but bounds the
    # pipeline to exactly one evaluation however many consumers race.
    edges = (
        pins.checkpoint(knn_graph_edges(spark, sf_dir).select("src_id", "dst_id"))
    )
    und = edges.select(
        F.least("src_id", "dst_id").alias("u"),
        F.greatest("src_id", "dst_id").alias("v"),
    ).distinct()
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pins.checkpoint(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        # eager pin: e1/e2/e3 are three concurrent consumers — see the
        # edges pin note above
    )
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    return tris.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "clustering_coeff"
        ),
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding, {_sql_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS negative_id, b.label AS negative_label,
             round({_sql_cos("a.embedding", "b.embedding")}, 6) + 0.0
               AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.label <> b.label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id ASC) AS rnk
      FROM scored
    ) WHERE rnk = 1
    """,
    bench=True,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: each
    anchor's MOST similar different-label vector (the negatives that
    actually teach the model, vs easy random ones). Candidates come
    from the label-masked per-bucket GEMM (bucketed_knn_candidates
    with exclude_label_col — guaranteed superset of each anchor's
    exact rounded top-1 different-label neighbor incl. ties); the
    exact fold re-scores candidates only, and the per-anchor top-1
    rewrites to map-side WindowGroupLimit."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    wb = pins.cache(emb.select(
        "vec_id",
        "label",
        "embedding",
        S.hyperplane_bucket(F.col("embedding"), _DIM).alias("_bucket"),
        S.norm(F.col("embedding")).alias("_nrm"),
    ))
    cand = S.bucketed_knn_candidates(
        wb, k=1, exclude_label_col="label"
    ).select(
        F.col("src_id").alias("anchor_id"),
        F.col("dst_id").alias("negative_id"),
    )
    a = wb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = wb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("embedding").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    cos = S.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    scored = cand.join(a, "anchor_id").join(b, "negative_id").select(
        "anchor_id",
        "anchor_label",
        "negative_id",
        "negative_label",
        (F.round(cos, 6) + F.lit(0.0)).alias("cos_sim"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


@query(
    "embedding_dim_stats",
    oracle="""
    WITH pts AS (
      SELECT idx, CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS xi
      FROM (
        SELECT unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings
      )
    ),
    s AS (
      SELECT idx, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             CAST(sum(xi * xi) AS BIGINT) AS sxx
      FROM pts GROUP BY idx
    )
    SELECT idx,
           round(CAST(sx AS DOUBLE) / n / 1000000, 6) AS mean,
           round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1))
                 / 1000000, 6) AS std
    FROM s
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std of the embedding space — the whitening
    statistics (and the collapsed-dimension detector: std ≈ 0 flags a
    dead axis). Integer-scaled exact sums make the variance
    order-independent across engines; one posexplode partial agg,
    dim rows out."""
    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.posexplode("embedding").alias("_i0", "_v")
    ).select(
        (F.col("_i0") + 1).alias("idx"),
        F.round(F.col("_v").cast("double") * 1_000_000).cast("bigint").alias("xi"),
    )
    s = pts.groupBy("idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
    )
    return s.select(
        "idx",
        F.round(F.col("sx").cast("double") / F.col("n") / 1_000_000, 6).alias(
            "mean"
        ),
        F.round(
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / F.col("n")
                / (F.col("n") - 1)
            )
            / 1_000_000,
            6,
        ).alias("std"),
    )


_JL_OUT = 16
_JL_SCALE_R = repr(1.0 / (_JL_OUT**0.5))  # 0.25, exact


def _jl_arm(j: int) -> str:
    comps = ", ".join(
        repr(S.jl_sign(j, i)) for i in range(_DIM)
    )
    dotj = (
        f"list_sum([CAST(embedding[i] AS DOUBLE) * ([{comps}])[i] "
        f"FOR i IN generate_series(1, {_DIM})])"
    )
    return (
        f"SELECT vec_id, {j} AS dim, round({dotj} * {_JL_SCALE_R}, 6) AS val "
        "FROM embeddings"
    )


@query(
    "jl_projected_embeddings",
    oracle=" UNION ALL ".join(_jl_arm(j) for j in range(_JL_OUT)),
)
def jl_projected_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→16-dim Johnson–Lindenstrauss projection of the embedding
    table (operators/similarity.jl_project): map-only, matrix-as-
    literals, long-form output. The oracle regenerates the identical
    Rademacher matrix from the same md5 parity and folds in the same
    order."""
    return S.jl_project(
        load(spark, sf_dir, "embeddings"), in_dim=_DIM, out_dim=_JL_OUT
    )


@query(
    "embedding_quantile_normalized",
    oracle="""
    SELECT vec_id, dim,
           round(percent_rank() OVER (
             PARTITION BY dim ORDER BY val, vec_id), 6) AS q
    FROM (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, 64) AS t(i)
    )
    """,
)
def embedding_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile normalization (rank → uniform [0,1]):
    the distribution-free calibration that makes embedding dimensions
    comparable before whitening/indexing — heavy-tailed axes stop
    dominating distance. One posexplode + ONE window partitioned by
    DIMENSION (64 independent sorts of n rows each — parallelism =
    dims, no global sort; at corpus scale swap exact percent_rank for
    the broadcast-percentile binning of quantity_quartile_buckets).
    vec_id tie-break pins rank determinism on equal values."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_v")
    ).select("vec_id", "dim", F.col("_v").cast("double").alias("val"))
    w = Window.partitionBy("dim").orderBy(F.asc("val"), F.asc("vec_id"))
    return long.select(
        "vec_id", "dim", F.round(F.percent_rank().over(w), 6).alias("q")
    )


# Embedding drift monitor: per-label centroid shift between two
# deterministic halves of the corpus (vec_id parity stands in for the
# before/after snapshots a production monitor compares). Per-(label,
# dim, half) sums are integer-scaled and exact; the per-dim mean diff
# is an identical double on both engines, and its square re-scales to
# an integer before the per-label SUM — so the only cross-engine
# doubles are single expressions, never folds. ssum is the exact
# BIGINT anchor; shift is its presentation-rounded root. One
# posexplode partial agg, |labels|×dims intermediate rows.
_CD_SCALE = 1_000_000


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH pts AS (
      SELECT label, vec_id % 2 AS half, idx,
             CAST(round(CAST(val AS DOUBLE) * {_CD_SCALE}) AS BIGINT) AS xi
      FROM (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS idx,
               unnest(embedding) AS val
        FROM embeddings
      )
    ),
    cells AS (
      SELECT label, idx,
             CAST(sum(CASE WHEN half = 0 THEN xi ELSE 0 END) AS BIGINT) AS sx0,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN half = 1 THEN xi ELSE 0 END) AS BIGINT) AS sx1,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM pts GROUP BY label, idx
    ),
    terms AS (
      SELECT label, n0, n1,
             CAST(round((CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1)
                        * (CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1))
                  AS BIGINT) AS t
      FROM cells
    )
    SELECT label, CAST(min(n0) AS BIGINT) AS n0, CAST(min(n1) AS BIGINT) AS n1,
           CAST(sum(t) AS BIGINT) AS ssum,
           round(sqrt(CAST(sum(t) AS DOUBLE)) / {_CD_SCALE}, 6) AS shift
    FROM terms GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("_i0", "_v"),
    ).select(
        "label",
        "half",
        (F.col("_i0") + 1).alias("idx"),
        F.round(F.col("_v").cast("double") * _CD_SCALE).cast("bigint").alias("xi"),
    )
    cells = pts.groupBy("label", "idx").agg(
        F.sum(F.when(F.col("half") == 0, F.col("xi")).otherwise(0)).alias("sx0"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("half") == 1, F.col("xi")).otherwise(0)).alias("sx1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
    )
    md = (
        F.col("sx0").cast("double") / F.col("n0")
        - F.col("sx1").cast("double") / F.col("n1")
    )
    terms = cells.select(
        "label", "n0", "n1", F.round(md * md).cast("bigint").alias("t")
    )
    return terms.groupBy("label").agg(
        F.min("n0").alias("n0"),
        F.min("n1").alias("n1"),
        F.sum("t").alias("ssum"),
        F.round(
            F.sqrt(F.sum("t").cast("double")) / F.lit(_CD_SCALE), 6
        ).alias("shift"),
    )


# --- cluster-balanced (density-equalized) sampling -------------------------

# Per-cluster keep-rate (basis points) = floor(10000·C / sqrt(|c|)),
# capped at 100%: expected kept rows per cluster ≈ C·sqrt(|c|) — the
# sqrt-propensity flattening that keeps a web-scale corpus's giant
# duplicate-heavy clusters from dominating the training mix while
# small (rare-topic) clusters survive near-intact.
_CBS_C = 5.0
_CBS_NUM = 10000.0 * _CBS_C  # plan-time constant, same literal both engines

_CBS_HASH_D = (
    "CAST(('0x' || substr(md5('cbs|' || CAST(vec_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10000"
)
_CBS_HASH_S = (
    "pmod(conv(substring(md5(concat('cbs|', cast(vec_id as string))), 1, 8), "
    "16, 10), 10000)"
)


@query(
    "cluster_balanced_sample",
    oracle=(
        "WITH "
        + ",\n".join(_kmeans_ctes(k=5, n_iter=5, train_pct=_KMEANS_TRAIN_PCT))
        + f""",
    sizes AS (SELECT cluster, count(*) AS cluster_n FROM a6 GROUP BY cluster)
    SELECT a.vec_id, a.cluster, s.cluster_n
    FROM a6 a JOIN sizes s USING (cluster)
    WHERE {_CBS_HASH_D} <
          least(10000, floor({_CBS_NUM} / sqrt(s.cluster_n)))
    """
    ),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-equalized corpus sampling: k-means clusters (the same
    deterministic Lloyd dials as kmeans_clusters), then a per-cluster
    deterministic hash sample at rate ∝ 1/sqrt(|cluster|). Plan shape:
    the assignment pass (kmeans_lloyd — centroid literals, no join),
    ONE k-row partial-agg for cluster sizes broadcast back onto the
    assignment, and a map-side hash filter — no window, no global
    sort, no skewed shuffle (the k-key size agg is partial-agg
    bounded), so the operator is a constant number of corpus passes
    at any scale."""
    emb = load(spark, sf_dir, "embeddings")
    asg = S.kmeans_lloyd(emb, k=5, n_iter=5, train_pct=_KMEANS_TRAIN_PCT)
    sizes = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_n")
    )
    keep_bp = F.least(
        F.lit(10000).cast("double"),
        F.floor(F.lit(_CBS_NUM) / F.sqrt(F.col("cluster_n"))).cast("double"),
    )
    return (
        asg.join(F.broadcast(sizes), "cluster")
        .filter(F.expr(_CBS_HASH_S) < keep_bp)
        .select("vec_id", "cluster", "cluster_n")
    )


# --- greedy k-center (farthest-point) coreset selection ---------------------

# The oracle unrolls the k−1 greedy rounds into CTEs (the kmeans
# pattern): each s_r is the 1-row argmax of the running min-distance
# (ties -> smallest id), each d_r folds the new center in via least().
# Distances are the SAME left folds both engines, so every double —
# and therefore every argmax — agrees bit-for-bit.
@query(
    "kcenter_selection",
    oracle="""
    WITH kv AS MATERIALIZED (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
    s1 AS (SELECT vec_id, v FROM kv ORDER BY vec_id ASC LIMIT 1),
    d1 AS (SELECT p.vec_id, p.v, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))]) AS d FROM kv p, s1 s),
    s2 AS (SELECT vec_id, v, d FROM d1 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d2 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d1 p, s2 s),
    s3 AS (SELECT vec_id, v, d FROM d2 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d3 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d2 p, s3 s),
    s4 AS (SELECT vec_id, v, d FROM d3 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d4 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d3 p, s4 s),
    s5 AS (SELECT vec_id, v, d FROM d4 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1)
    SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, CAST(0.0 AS DOUBLE) AS d FROM s1
    UNION ALL SELECT CAST(2 AS BIGINT), vec_id, round(d, 6) FROM s2
    UNION ALL SELECT CAST(3 AS BIGINT), vec_id, round(d, 6) FROM s3
    UNION ALL SELECT CAST(4 AS BIGINT), vec_id, round(d, 6) FROM s4
    UNION ALL SELECT CAST(5 AS BIGINT), vec_id, round(d, 6) FROM s5
    """,
)
def kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximally-diverse k-point coreset by greedy farthest-point
    traversal (k=5). See operators/similarity.kcenter_greedy for the
    per-round map-only + TakeOrdered(1) scale shape."""
    return S.kcenter_greedy(load(spark, sf_dir, "embeddings"), k=5)


# Coverage half of the k-center story: assign EVERY point to its
# nearest selected center (ties -> smallest center id) and report the
# per-center population + coverage radius (max distance) — the
# quantity greedy k-center 2-approximates. Spark: the k selected
# vectors come back as plan literals (k-bounded collect, same contract
# as the selection), so assignment is ONE map pass + a k-row partial
# agg; the oracle extends the selection CTE chain with a QUALIFY
# argmin over the centers.
@query(
    "kcenter_assignment",
    oracle="""
    WITH kv AS MATERIALIZED (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
    s1 AS (SELECT vec_id, v FROM kv ORDER BY vec_id ASC LIMIT 1),
    d1 AS (SELECT p.vec_id, p.v, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))]) AS d FROM kv p, s1 s),
    s2 AS (SELECT vec_id, v, d FROM d1 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d2 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d1 p, s2 s),
    s3 AS (SELECT vec_id, v, d FROM d2 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d3 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d2 p, s3 s),
    s4 AS (SELECT vec_id, v, d FROM d3 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    d4 AS (SELECT p.vec_id, p.v, least(p.d, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))])) AS d FROM d3 p, s4 s),
    s5 AS (SELECT vec_id, v, d FROM d4 QUALIFY row_number() OVER (ORDER BY d DESC, vec_id ASC) = 1),
    centers AS (SELECT vec_id AS cid, v FROM s1 UNION ALL SELECT vec_id AS cid, v FROM s2 UNION ALL SELECT vec_id AS cid, v FROM s3 UNION ALL SELECT vec_id AS cid, v FROM s4 UNION ALL SELECT vec_id AS cid, v FROM s5),
    asg AS (SELECT p.vec_id, s.cid, list_sum([(p.v[i] - s.v[i]) * (p.v[i] - s.v[i]) FOR i IN generate_series(1, len(p.v))]) AS d FROM kv p CROSS JOIN centers s QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d ASC, s.cid ASC) = 1)
    SELECT cid AS center_id, count(*) AS n_assigned, round(max(d), 6) AS radius FROM asg GROUP BY cid
    """,
)
def kcenter_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sel = S.kcenter_greedy(emb, k=5)
    centers = (
        emb.join(F.broadcast(sel.select("vec_id")), "vec_id")
        .select("vec_id", "embedding")
        .collect()  # k rows by construction — coreset-sized
    )
    centers.sort(key=lambda r: r["vec_id"])

    def sqd(vals):
        lit = F.array(*[F.lit(float(x)) for x in vals])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                lit,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = [(r["vec_id"], sqd(r["embedding"])) for r in centers]
    staged = emb.select(
        "vec_id",
        *[d.alias(f"_d{i}") for i, (_, d) in enumerate(dists)],
    )
    dmin = F.least(*[F.col(f"_d{i}") for i in range(len(dists))])
    cid = None
    for i, (cvid, _) in enumerate(dists):  # ascending center id: ties
        cond = F.col(f"_d{i}") == F.col("_dmin")
        cid = (
            F.when(cond, F.lit(cvid))
            if cid is None
            else cid.when(cond, F.lit(cvid))
        )
    asg = staged.withColumn("_dmin", dmin).select(
        "vec_id", cid.alias("center_id"), F.col("_dmin").alias("d")
    )
    return asg.groupBy("center_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.max("d"), 6).alias("radius"),
    )


# --- the embedding-side curation funnel, composed end-to-end ----------------

# The vector twin of textops4.curation_v2: every embedding-curation
# family chained through one oracle-checked plan — coordinate-
# concentration quality gate → exact dedup on the int8 quantization
# code → SemDedup over the survivors → density-equalized (1/sqrt)
# cluster-balanced sample → cluster-hash leakage-safe split — so each
# stage's OUTPUT is the next stage's INPUT and a drift in any one
# corrupts the final integer census the oracle hashes.
#
# 100 TB shape (again: the composition is exactly the union of its
# stages' shapes): the gate and the quantization code are map-side
# array folds over one cached scan; exact dedup is a hash groupBy on
# md5 codes; SemDedup clusters FIRST so near-dup candidates are
# within-cluster only (Σ n_c², k grows with corpus); the balanced
# sample is a k-row size agg broadcast into a map-side hash filter;
# split is a map-side hash on the cluster label. No stage adds a
# corpus-squared term or a corpus-sized driver structure.
_EC_MAX_ABS = 0.37  # drop the ~15% most-peaked (degenerate) unit vectors
_EC_HASH_S = (
    "pmod(conv(substring(md5(concat('spl|', cast(cluster as string))), "
    "1, 8), 16, 10), 100)"
)
_EC_HASH_D = (
    "CAST(('0x' || substr(md5('spl|' || CAST(cluster AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100"
)


def _embedding_curation_oracle() -> str:
    ctes = [
        "ve AS MATERIALIZED (SELECT vec_id, label, embedding, "
        "[CAST(x AS DOUBLE) FOR x IN embedding] AS vd FROM embeddings)",
        "qual AS (SELECT * FROM ve "
        f"WHERE list_max([abs(x) FOR x IN vd]) <= {_EC_MAX_ABS})",
        "qd AS (SELECT vec_id, vd, list_min(vd) AS mn, "
        "list_max(vd) - list_min(vd) AS scale FROM qual)",
        "codes AS (SELECT vec_id, md5(array_to_string("
        "CASE WHEN scale = 0 THEN ['0' FOR x IN vd] "
        "ELSE [CAST(CAST(floor((x - mn) / scale * 255) AS BIGINT) AS VARCHAR) "
        "FOR x IN vd] END, ',')) AS code FROM qd)",
        "exact_kept AS (SELECT min(vec_id) AS vec_id FROM codes GROUP BY code)",
        "surv AS (SELECT q.vec_id, q.embedding, q.label FROM qual q "
        "JOIN exact_kept USING (vec_id))",
    ]
    ctes += _kmeans_ctes(_SEM_K, _SEM_ITER, src_rel="surv")
    final = f"a{_SEM_ITER + 1}"
    ctes += [
        f"asg AS (SELECT vec_id, cluster FROM {final})",
        "ee AS (SELECT asg.vec_id, asg.cluster, s.embedding "
        "FROM asg JOIN surv s USING (vec_id))",
        "drops AS (SELECT DISTINCT b.vec_id "
        "FROM ee a JOIN ee b ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        f"WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 6) >= {_SEM_TAU})",
        "sem AS (SELECT vec_id, cluster FROM asg "
        "WHERE vec_id NOT IN (SELECT vec_id FROM drops))",
        "sizes AS (SELECT cluster, count(*) AS cluster_n FROM sem "
        "GROUP BY cluster)",
        "samp AS (SELECT sem.vec_id, sem.cluster FROM sem "
        "JOIN sizes USING (cluster) "
        f"WHERE {_CBS_HASH_D} < "
        f"least(10000, floor({_CBS_NUM} / sqrt(cluster_n))))",
        "fin AS (SELECT vec_id, cluster, "
        f"CASE WHEN {_EC_HASH_D} < 80 THEN 'train' "
        f"WHEN {_EC_HASH_D} < 90 THEN 'val' "
        "ELSE 'test' END AS split FROM samp)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT f.split, s.label, count(*) AS n_vecs, "
        "count(DISTINCT f.cluster) AS n_clusters "
        "FROM fin f JOIN surv s USING (vec_id) GROUP BY 1, 2"
    )


@query("embedding_curation", oracle=_embedding_curation_oracle(), bench=True)
def embedding_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed embedding-curation funnel — see the module comment
    above for stages and the 100 TB shape. Output is the per-(split,
    label) census of the curated set: all-integer columns, so the
    cross-engine hash rests on exact arithmetic end to end."""
    emb = load(spark, sf_dir, "embeddings")
    vd_expr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = emb.select("vec_id", "label", "embedding", vd_expr.alias("_vd"))
    vd = F.col("_vd")
    max_abs = F.array_max(F.transform(vd, F.abs))
    # quality feeds the code groupBy AND the survivor semi-join AND the
    # SemDedup input — cache the gated projection, scan parquet once
    quality = pins.cache(staged.filter(max_abs <= F.lit(_EC_MAX_ABS)))
    mn = F.array_min(vd)
    scale = F.array_max(vd) - mn
    q_codes = F.when(
        scale == F.lit(0.0),
        F.transform(vd, lambda x: F.lit("0")),
    ).otherwise(
        F.transform(
            vd,
            lambda x: F.floor((x - mn) / scale * 255)
            .cast("bigint")
            .cast("string"),
        )
    )
    code = F.md5(F.concat_ws(",", q_codes))
    exact_kept = (
        quality.select("vec_id", code.alias("_code"))
        .groupBy("_code")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
    )
    kept = pins.cache(
        quality.select("vec_id", "label", "embedding")
        .join(exact_kept, "vec_id", "left_semi")
    )
    sem = S.semdedup(kept, k=_SEM_K, n_iter=_SEM_ITER, tau=_SEM_TAU)
    sizes = sem.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_n"))
    keep_bp = F.least(
        F.lit(10000).cast("double"),
        F.floor(F.lit(_CBS_NUM) / F.sqrt(F.col("cluster_n"))).cast("double"),
    )
    samp = (
        sem.join(F.broadcast(sizes), "cluster")
        .filter(F.expr(_CBS_HASH_S) < keep_bp)
        .select("vec_id", "cluster")
    )
    h = F.expr(_EC_HASH_S)
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    fin = samp.select("vec_id", "cluster", split.alias("split"))
    return (
        fin.join(kept.select("vec_id", "label"), "vec_id")
        .groupBy("split", "label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
    )
