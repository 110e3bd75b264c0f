"""``curation_daily``: a closed loop of incremental curation days.

One client in the driver process calls
``streaming.store_probe.curation_batch(..., admit=True)`` once per day on a
seeded Δ, against signature and vector stores bootstrapped in set-up. The
seeded corpus injects exact, near-text and near-vector duplicates of
stored documents and within-Δ pairs, so every decision class carries
traffic, and fixes the decision every document must get.
"""

from __future__ import annotations

import os
import time

import stats
from gen import DECISIONS, CorpusShape, curation_plan, write_curation_inputs

NOMINAL_DAY_S = 7.5  # sets the day count from --seconds; never a time box
APP_ID = "perfbench"
DOC_SCHEMA = "doc_id long, text string"
EMB_SCHEMA = "vec_id long, embedding array<float>"


def day_count(seconds: int) -> int:
    return max(3, round(seconds / NOMINAL_DAY_S))


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators import dedup, sigstore, snapshots, vecstore
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.streaming import store_probe

    spark, shape = ctx.spark, CorpusShape()
    days = 1 + day_count(ctx.seconds)  # day 0 is the untimed warm pass
    inputs = os.path.join(ctx.work, "inputs")
    t = time.perf_counter()
    plan = curation_plan(ctx.seed, days, shape)
    write_curation_inputs(plan, inputs)
    ctx.setup["generate_s"] = time.perf_counter() - t

    def read(name: str, schema: str):
        return spark.read.schema(schema).json(os.path.join(inputs, name))

    # the embedding table is persisted once, as the stores are
    read("embeddings.jsonl", EMB_SCHEMA).write.parquet(os.path.join(inputs, "embeddings"))
    emb = spark.read.parquet(os.path.join(inputs, "embeddings"))
    store_vecs = emb.filter(F.col("vec_id") <= shape.store_docs)

    sig_dir, vec_dir = (os.path.join(ctx.work, f"store_{k}") for k in ("sig", "vec"))

    def build() -> None:
        sigstore.signature_store_init(read("store.jsonl", DOC_SCHEMA), sig_dir)
        vecstore.vector_store_init(store_vecs, vec_dir, dim=shape.dim)

    ctx.build(build)
    out_dir = os.path.join(ctx.work, "decisions")

    if ctx.tracer is not None:
        tr = ctx.tracer
        tr.wrap(store_probe, "curation_batch", "curation.batch")
        tr.wrap(store_probe, "band_keys_for", "sigstore.band_keys")
        tr.wrap(store_probe, "probe_store_pairs", "sigstore.probe")
        tr.wrap(store_probe, "admit_delta", "sigstore.admit")
        tr.wrap(store_probe, "bucket_rows_for", "vecstore.bucket")
        tr.wrap(store_probe, "probe_vector_pairs", "vecstore.probe")
        tr.wrap(store_probe, "admit_vector_delta", "vecstore.admit")
        tr.wrap(store_probe, "validate_store_dials", "vecstore.validate_dials")
        tr.wrap(dedup, "connected_components", "dedup.components")
        tr.wrap(snapshots, "last_txn_version", "snapshots.txn_fence")

    def day(d: int) -> None:
        store_probe.curation_batch(
            read(f"day_{d}.jsonl", DOC_SCHEMA), d, emb, sig_dir, vec_dir,
            out_dir, dim=shape.dim, tau=shape.tau, gate=_quality_gate,
            app_id=APP_ID, admit=True,
        )

    ctx.warm(lambda: day(0))
    for d in range(1, days):
        ctx.op(lambda d=d: day(d))

    # --- correctness: every decision, both stores' post-state ---------------
    rows = spark.read.parquet(out_dir).select("_batch_id", "doc_id", "decision").collect()
    got = {(r["_batch_id"], r["doc_id"]): r["decision"] for r in rows}
    errors = [] if len(got) == len(rows) else ["a document has two decision rows"]
    class_counts = dict.fromkeys(DECISIONS, 0)
    for d in range(days):
        for doc, want in plan.expected[d].items():
            have = got.get((d, doc))
            if have != want:
                errors.append(f"day {d} doc {doc}: {have} != {want}")
            elif d > 0:
                class_counts[want] += 1
    if len(got) != sum(len(e) for e in plan.expected):
        errors.append(f"{len(got)} decision rows for {sum(len(e) for e in plan.expected)} docs")
    stored = shape.store_docs + plan.admitted_total(days - 1)
    sig_per_doc = (
        snapshots.snapshot_read(spark, sig_dir).groupBy("doc_id").count()
        .agg(F.count(F.lit(1)).alias("docs"), F.min("count").alias("lo"),
             F.max("count").alias("hi"))
        .first()
    )
    if tuple(sig_per_doc) != (stored, dedup.MINHASH_BANDS, dedup.MINHASH_BANDS):
        errors.append(f"signature store (docs, min, max rows/doc) = {tuple(sig_per_doc)}, "
                      f"want ({stored}, {dedup.MINHASH_BANDS}, {dedup.MINHASH_BANDS})")
    vec_per_doc = (
        snapshots.snapshot_read(spark, vec_dir).groupBy("vec_id").count()
        .agg(F.count(F.lit(1)).alias("docs"), F.max("count").alias("hi"))
        .first()
    )
    if tuple(vec_per_doc) != (stored, 1):
        errors.append(f"vector store (docs, max rows/doc) = {tuple(vec_per_doc)}, want ({stored}, 1)")

    timed_docs = sum(len(plan.days[d]) for d in range(1, days))
    layer = {
        "curation.admitted_share": class_counts["admitted"] / timed_docs,
        **{f"curation.{k}": v for k, v in class_counts.items()},
        "snapshots.sig_files": _data_files(sig_dir),
        "snapshots.vec_files": _data_files(vec_dir),
        "snapshots.sig_versions": snapshots.current_version(sig_dir),
        "snapshots.vec_versions": snapshots.current_version(vec_dir),
    }
    return {
        "errors": errors,
        "latency_samples": list(ctx.op_times),
        "latency_name": "day_p{}_s",
        "rate": stats.rate(timed_docs, ctx.timed_wall()),
        "rate_name": "docs_per_s",
        "ops": days - 1,
        "op_span": "curation.batch",
        "layer": layer,
    }


def _data_files(table_dir: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(table_dir)
        for f in files
        if f.endswith(".parquet")
    )
