"""Incremental embedding near-dup against a PERSISTED vector index.

The embedding twin of operators/sigstore.py, for the other half of a
daily curation pipeline: semantic (embedding-cosine) near-dup of each
new batch against a corpus whose index was built once. The corpus's
hyperplane-LSH bucket rows — (vec_id, bucket, embedding), i.e. a
bucket-keyed vector index table with the payload riding along — are
committed as a snapshot table (operators/snapshots.py); each new batch
(Δ) buckets ITS OWN vectors only and probes the store with the bucket
equi-join + exact-cosine verify, so per-day work is
O(|Δ| + bucket collisions) instead of a full-corpus O(N²) rerun.

Contract (pinned by tests/test_vecstore.py and the
``incremental_embedding_dedup`` oracle):

    probe(Δ, store)  ≡  full-corpus bucketed near-dup pairs
                        (same bucket ∧ round(cos,6) ≥ τ)
                        restricted to pairs touching Δ

Scale notes:
- Unlike MinHash banding, a vector has exactly ONE bucket, so every
  colliding pair is produced once by the equi-join — no distinct.
- The store is the BIG side, pruned in two layers before the join
  shuffles anything: (1) it persists in the shard layout of shards.py,
  keyed on the bucket id mod VECSTORE_SHARDS, and Δ's occupied shards
  prune the scan at the FILE LISTING level (PartitionFilters); (2) a
  bloom over Δ's occupied buckets drops surviving non-colliding store
  rows MAP-SIDE before the shuffle. Bloom false positives just reach
  the exact equi-join; false negatives cannot occur.
- Exact verify runs at CANDIDATE cardinality with the same left-fold
  cosine the batch operators use (similarity.cosine) — the bucket join
  only selects which pairs get scored, it never approximates a value.
- The planes dial (similarity.N_HYPERPLANES, resolved at call time)
  governs expected per-bucket collision work exactly as in the batch
  kNN family; the store records the plane count it was built with and
  ``incremental_cosine_pairs`` refuses a probe under a different dial
  (a bucket id is only meaningful under the planes that produced it).
- Contract: Δ's ids are disjoint from the store's (the ingest layer's
  duplicate-payload gate guarantees exactly-once admission upstream),
  and vectors are non-zero (cosine of a zero-norm vector is NaN, which
  Spark's comparison semantics order ABOVE any threshold — screen
  degenerate embeddings at ingest, like the expectation-suite checks
  do for scalar columns).

Reference parity: the reference has no vector stack at all — this is a
north-star extension; semantics anchor to the batch pair
(`embedding_near_dup_pairs` exact join, `hyperplane_bucket` LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pins
from .bloom import bloom_build, with_bloom_flag
from .joins import pairs_sharing_key
from .shards import append_sharded, read_pruned, with_shard, write_sharded
from .similarity import cosine, hyperplane_bucket
from .snapshots import latest_meta, txn_committed

# Shard count of the index (shards.py): pmod(bucket, VECSTORE_SHARDS),
# NOT the bucket itself — the bucket count is 2^planes (dial-scaled to
# ~corpus/cap at 100 TB, far too many directories). Like
# sigstore.SIGSTORE_SHARDS this is a RUNTIME DIAL, read at store-INIT
# time and RECORDED in the manifest. Occupied dirs = min(2^planes,
# shards): the gate default 64 keeps per-commit file counts
# commensurate with gate-scale corpora; a 100 TB deployment dials it
# up with the planes.
VECSTORE_SHARDS = 64


def bucket_rows_for(
    vecs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
) -> DataFrame:
    """(id, bucket, embedding, _shard) — the store's row format.
    ``n_planes`` resolves to the CURRENT similarity.N_HYPERPLANES at
    call time inside hyperplane_bucket, honoring the runtime dial; the
    shard column (shards.py) is under the CURRENT dial too, and reads
    and writes of an existing store re-derive it under the store's
    recorded modulus."""
    rows = vecs.select(
        F.col(id_col),
        hyperplane_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
        F.col(vec_col),
    )
    return with_shard(rows, F.col("bucket"), VECSTORE_SHARDS)


def _planes() -> int:
    from . import similarity as S

    return S.N_HYPERPLANES


def vector_store_init(
    vecs: DataFrame,
    table_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
) -> int:
    """Bootstrap (or reset) the index from a corpus; returns version.
    The manifest records dim + planes so later probes can verify they
    run under the same bucketing; the rows are written one file per
    shard (shards.py)."""
    planes = n_planes if n_planes is not None else _planes()
    return write_sharded(
        bucket_rows_for(vecs, dim, id_col, vec_col, planes),
        F.col("bucket"),
        table_dir,
        VECSTORE_SHARDS,
        {"format": "hyperplane_buckets", "dim": dim, "planes": planes},
    )


def validate_store_dials(table_dir: str, dim: int) -> None:
    """Refuse a probe whose bucketing could not match the store's: the
    manifest records the planes dial and dim the index was built with,
    and a mismatch on EITHER silently buckets Δ through a different
    projection, dropping real collisions — so both fail loudly instead."""
    meta = latest_meta(table_dir)
    planes = _planes()
    if meta.get("planes") != planes:
        raise ValueError(
            f"store {table_dir} was bucketed at planes={meta.get('planes')}, "
            f"current dial is {planes}: rebuild the store or match the dial "
            "(bucket ids are only comparable under the planes that made them)"
        )
    if meta.get("dim") != dim:
        # same failure mode as a planes mismatch, so the same loud
        # refusal: a different dim projects through different
        # hyperplane components, silently bucketing Δ elsewhere and
        # dropping real collisions instead of erroring
        raise ValueError(
            f"store {table_dir} was built at dim={meta.get('dim')}, probe "
            f"requested dim={dim}: rebuild the store or match the dim "
            "(bucket ids are only comparable under the projection that "
            "made them)"
        )


def probe_vector_pairs(
    spark: SparkSession,
    delta: DataFrame,
    table_dir: str,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_bloom: bool = True,
) -> DataFrame:
    """Δ×store near-dup pairs from PRECOMPUTED Δ bucket rows (the
    ``bucket_rows_for`` format, ideally localCheckpointed by the
    caller); exact-verified at round(cos,6) ≥ tau. The building block
    the batch entry point (incremental_cosine_pairs) and the streaming
    foreachBatch probe (streaming/store_probe.py) share — one
    bucketing pass per batch. The caller is responsible for
    ``validate_store_dials`` (the dials govern how Δ was bucketed)."""
    # directory-level prune FIRST (shards.read_pruned), then the bloom
    store = read_pruned(spark, table_dir, delta, F.col("bucket"))

    if use_bloom:
        # Δ is the SMALL side here (the reverse of sigstore's direction):
        # bloom its occupied buckets and drop non-colliding STORE rows
        # map-side, before the store's vectors ever enter the shuffle.
        bl = bloom_build(delta.select("bucket"), F.col("bucket"))
        store = (
            with_bloom_flag(store, bl, F.col("bucket"), flag="_hit")
            .filter(F.col("_hit"))
            .drop("_hit")
        )

    return (
        delta.select(
            F.col(id_col).alias("_did"), "bucket", F.col(vec_col).alias("_dv")
        )
        .join(
            store.select(
                F.col(id_col).alias("_sid"),
                "bucket",
                F.col(vec_col).alias("_sv"),
            ),
            "bucket",
        )
        .select(
            F.least("_did", "_sid").alias("id_a"),
            F.greatest("_did", "_sid").alias("id_b"),
            F.round(cosine(F.col("_dv"), F.col("_sv")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )


def admit_vector_delta(
    spark: SparkSession,
    delta: DataFrame,
    table_dir: str,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Admit PRECOMPUTED Δ bucket rows into the index. Returns the new
    version, or None for an empty Δ — no version bump for a no-op day
    (a partitionBy write of zero rows emits a fileless dir;
    snapshot_read tolerates those since r9, but the manifest chain
    should not grow at all) — or for a replayed ``txn`` = (app_id,
    batch id), a streaming caller's fence (snapshots.txn_committed),
    checked before the isEmpty job. The append keeps the store's
    layout and its dim/planes dials (shards.append_sharded), so
    latest_meta stays validatable after any number of appends."""
    if txn_committed(table_dir, txn) or delta.isEmpty():
        return None
    return append_sharded(delta, F.col("bucket"), table_dir, txn)


def within_cosine_pairs(
    delta: DataFrame, tau: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Δ×Δ near-dup pairs (id_a < id_b, cos_sim) from ``bucket_rows_for``
    rows: pairs sharing a bucket, exact-verified at round(cos,6) ≥ tau
    — the within-batch arm of incremental_cosine_pairs and of the
    streaming curation funnel (streaming/store_probe.py). Reads
    ``delta`` twice; callers pass it pinned."""
    # cos is a SYMMETRIC fold (zip_with pairs elementwise, the sum folds
    # left-to-right over positions), so the id order cannot change it
    ea, eb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
    return (
        pairs_sharing_key(delta, id_col, ["bucket"], (vec_col,))
        .select("id_a", "id_b", F.round(cosine(ea, eb), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= tau)
    )


def incremental_cosine_pairs(
    spark: SparkSession,
    new_vecs: DataFrame,
    table_dir: str,
    dim: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit: bool = True,
    use_bloom: bool = True,
    include_within: bool = True,
) -> DataFrame:
    """(id_a < id_b, cos_sim) near-dup pairs that TOUCH the new batch:
    Δ×store bucket collisions plus (``include_within``) Δ×Δ
    collisions, exact-verified at round(cos,6) ≥ tau — without
    rescanning the stored corpus. ``include_within=False`` returns the
    Δ×store arm only — the monitoring-probe shape (streaming
    foreachBatch), where within-batch pairs belong to the admission
    loop that will commit the batch.

    ``commit=True`` appends Δ's bucket rows to the store in the same
    call (the daily-ingest shape: probe, then admit). Δ's rows are
    pinned with an eager localCheckpoint first, so the probe, both
    reads of the Δ×Δ pairs_sharing_key join (``within_cosine_pairs``),
    and the commit all read one materialization.
    """
    validate_store_dials(table_dir, dim)
    delta = pins.checkpoint(bucket_rows_for(
        new_vecs, dim, id_col, vec_col, _planes()
    ))
    cross = probe_vector_pairs(
        spark, delta, table_dir, tau, id_col, vec_col, use_bloom
    )
    if include_within:
        # Δ∩store = ∅ keeps the two arms disjoint.
        pairs = cross.unionByName(within_cosine_pairs(delta, tau, id_col, vec_col))
    else:
        pairs = cross
    if commit:
        admit_vector_delta(spark, delta, table_dir)
    return pairs
