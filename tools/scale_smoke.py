"""10× scale smoke: empirical evidence the heavy operators' O() claims
hold beyond sf0.1.

Deterministically synthesizes a ~10× copy of the sf0.1 fact tables
(events, documents, embeddings, lineitem, orders ×10 via id-shifted,
decorrelated copies; dimensions verbatim), runs the heavy-tier bench
queries on base and 10× dirs, and writes SCALE_SMOKE.md with the
timing ratios.

Decorrelation choices (so the 10× workload scales the STRUCTURE
linearly instead of manufacturing a 100× near-dup blowup):
- documents: every word in copy k>0 gets a `·k{k}` suffix — shingle
  overlap ACROSS copies is 0, so near-dup pair structure per copy is
  preserved and totals scale ×10, which is what a 10× real corpus
  does (exact-duplicating the corpus ×10 would be a different, trivially
  quadratic workload).
- embeddings: copy k's vectors are rolled by k positions — norm and
  coordinate distribution preserved, cross-copy cosine decorrelated.
- events/lineitem/orders: key offsets by k·(max_key+1) keep join
  integrity and per-key workload; users/orders multiply ×10.

The kNN family is LSH-bucketed with expected pair work
|corpus|²/2^planes: at a FIXED plane count a 10× corpus means 100×
pair work by design — the dial is planes ≈ log2(corpus). The smoke
therefore runs the kNN queries at 10× with N_HYPERPLANES 4 → 8
(16× more buckets), the setting a 10× deployment would use; pass
--show-blowup to ALSO time one kNN query at the fixed base planes and
see the quadratic cost the dial prevents.

Usage: python tools/scale_smoke.py [--show-blowup] [--out SCALE_SMOKE.md]
"""

from __future__ import annotations

import argparse
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure  # noqa: E402

BASE = "/root/testdata/sf0.1"
TENX = "/tmp/scale_smoke_10x"
COPIES = 10
DIMS = ["region", "nation", "customer", "supplier"]
FACTS = ["events", "documents", "embeddings", "lineitem", "orders", "part"]

# heavy tier: the BENCH_COMPARE top shapes the r6 verdict named —
# kNN family, ppjoin, streaks, sweep-line — plus the dedup/LSH core
QUERIES = [
    "user_activity_streaks",
    "in_flight_lineitems_peak",
    "prefix_filter_jaccard_pairs",
    "duplicate_spans",
    "minhash_lsh_pairs",
    # the composed curation funnel (quality → exact → LSH → span scrub
    # → CC → split → mixture): its scale shape is the max of its
    # stages', so the smoke proves composition adds no super-linear term
    "curation_v2",
    # the embedding-side composed funnel (gate → exact code dedup →
    # SemDedup → balanced sample → split); undialed like semdedup
    "embedding_curation",
    "fs_linkage_scores",
    # incremental stores: timed rows INCLUDE the one-time corpus
    # bootstrap (store init rebuilds per call at gate scale); the
    # production shape amortizes that across every later batch
    "incremental_dedup_pairs",
    "incremental_embedding_dedup",
    # the composed INCREMENTAL curation funnel (quality → exact →
    # sig-store probe → vec-store probe → fenced admission → split):
    # its timed row includes BOTH store bootstraps + the streaming
    # boot; the fixed-Δ funnel control below isolates the per-day cost
    "incremental_curation",
    "semdedup_survivors",
    "ann_recall_at_k",
    "hard_negative_mining",
    "knn_graph_edges",
    "knn_graph_triangles",
    "knn_graph_refined",
    "knn_label_spread",
]
KNN_DIAL = {
    "ann_recall_at_k",
    "hard_negative_mining",
    "knn_graph_edges",
    "knn_graph_triangles",
    "knn_graph_refined",
    "knn_label_spread",
    # hyperplane buckets gate the probe join's collision count, so the
    # vector-store probe scales on the same dial (vecstore resolves
    # N_HYPERPLANES at call time for both the store build and the probe)
    "incremental_embedding_dedup",
    "incremental_curation",  # its vec-store arm rides the same dial
}
# ppjoin's 10x leg runs at tau 0.8 (vs the gate's 0.6): the Jaccard
# threshold is ppjoin's prefix-length dial — prefix = n - ceil(tau*n)+1
# shrinks with tau, cutting candidate-pair compute. NOT output-
# preserving (reports only closer duplicates) — the exhaustiveness/cost
# trade a scaled deployment makes; see queries/textops3.PPJOIN_THRESHOLD.
PPJOIN_DIAL = {"prefix_filter_jaccard_pairs": 0.8}
# FS linkage's 10x leg hash-stripes oversized blocks (cap=100): this
# corpus's blocking keys have FIXED cardinality, so exact blocked pairs
# grow quadratically (10x corpus -> ~100x pairs). The stripe cap bounds
# per-block pairs to |b|·cap/2 (linear) at the cost of cross-stripe
# recall inside oversized blocks — the trade a bounded-cardinality-key
# deployment makes; see operators/linkage.BLOCK_STRIPE_CAP.
FS_DIAL = {"fs_linkage_scores": 100}


# bump whenever the generated LAYOUT changes (v2: part scales as a
# fact) — a stale marker from an older layout must force regeneration,
# or the new rows would silently measure old-layout data
GEN_VERSION = 2

# 100× leg: second-level decorrelated copies of the 10× documents AND
# embeddings — the two-decade scaling curve for the composed batch
# funnel (curation_v2) and for the fixed-Δ incremental funnel control
# (which probes BOTH stores, so it needs vectors too)
HUNX = "/tmp/scale_smoke_100x"
HUNX_VERSION = 2  # v2: embeddings added (sign-flip decorrelation)


def generate(spark) -> None:
    import shutil

    marker = f"{TENX}/_DONE_v{GEN_VERSION}"
    if os.path.exists(marker):
        return
    shutil.rmtree(TENX, ignore_errors=True)  # stale/partial/old-layout
    os.makedirs(TENX, exist_ok=True)
    for name in DIMS:
        spark.read.parquet(f"{BASE}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{TENX}/{name}.parquet")

    def copies(df, build):
        return [build(df, k) for k in range(COPIES)]

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    e_off, u_off = (
        ev.agg(F.max("event_id") + 1, F.max("user_id") + 1).first()
    )
    out = None
    for k in range(COPIES):
        c = ev.select(
            (F.col("event_id") + F.lit(k * e_off)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(k * u_off)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/events.parquet")

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    d_off = docs.agg(F.max("doc_id") + 1).first()[0]
    out = None
    for k in range(COPIES):
        text = (
            F.col("text")
            if k == 0
            else F.regexp_replace("text", r"(\S+)", rf"$1k{k}")
        )
        c = docs.select(
            (F.col("doc_id") + F.lit(k * d_off)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text").cast("long"))
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    v_off = emb.agg(F.max("vec_id") + 1).first()[0]
    dim = len(emb.select("embedding").first()[0])
    out = None
    for k in range(COPIES):
        r = k % dim
        vec = (
            F.col("embedding")
            if r == 0
            else F.concat(
                F.slice("embedding", r + 1, dim - r),
                F.slice("embedding", 1, r),
            )
        )
        c = emb.select(
            (F.col("vec_id") + F.lit(k * v_off)).alias("vec_id"),
            vec.alias("embedding"),
            "label",
        )
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/embeddings.parquet")

    # part scales by id-shifted copies with every ATTRIBUTE verbatim:
    # the FS-linkage row tests the fixed-cardinality-blocking-key
    # regime, so names/brands/types/sizes must NOT gain new values —
    # blocks grow 10x and exact pairs ~100x, which is the point. Only
    # fs_linkage_scores reads part here (no smoke query joins part to
    # lineitem, whose keys keep referencing the k=0 copy).
    pt = spark.read.parquet(f"{BASE}/part.parquet")
    p_off = pt.agg(F.max("p_partkey") + 1).first()[0]
    out = None
    for k in range(COPIES):
        c = pt.withColumn("p_partkey", F.col("p_partkey") + F.lit(k * p_off))
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/part.parquet")

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    o = spark.read.parquet(f"{BASE}/orders.parquet")
    o_off = o.agg(F.max("o_orderkey") + 1).first()[0]
    out = None
    for k in range(COPIES):
        c = li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(k * o_off)
        )
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/lineitem.parquet")
    out = None
    for k in range(COPIES):
        c = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * o_off))
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{TENX}/orders.parquet")
    open(marker, "w").close()


def generate_100x(spark) -> None:
    """100× documents corpus: every word of copy j>0 of the 10× corpus
    gains an ``m{j}`` suffix — zero shingle overlap across second-level
    copies, so the near-dup pair structure scales ×100 LINEARLY vs
    base (the same decorrelation argument as the 10× generator); ids
    offset to stay unique. Embeddings scale the same way but rolls run
    out of room at 100 copies (dim=64 < 100 distinct rotations → some
    second-level copies would be bit-identical to base vectors,
    manufacturing a collision blowup the control must not contain), so
    copy j>0 instead multiplies coordinate i by a deterministic sign
    md5(j|i) — norms preserved, cross-copy cosines ~N(0, 1/dim), far
    below the 0.4 near-dup τ. Requires generate() to have run."""
    import hashlib
    import shutil

    marker = f"{HUNX}/_DONE_v{HUNX_VERSION}"
    if os.path.exists(marker):
        return
    shutil.rmtree(HUNX, ignore_errors=True)
    os.makedirs(HUNX, exist_ok=True)
    docs = spark.read.parquet(f"{TENX}/documents.parquet")
    d_off = docs.agg(F.max("doc_id") + 1).first()[0]
    out = None
    for j in range(COPIES):
        text = (
            F.col("text")
            if j == 0
            else F.regexp_replace("text", r"(\S+)", rf"$1m{j}")
        )
        c = docs.select(
            (F.col("doc_id") + F.lit(j * d_off)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text").cast("long"))
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{HUNX}/documents.parquet")

    emb = spark.read.parquet(f"{TENX}/embeddings.parquet")
    v_off = emb.agg(F.max("vec_id") + 1).first()[0]
    dim = len(emb.select("embedding").first()[0])

    def signs(j: int) -> list[float]:
        # deterministic per-(copy, coordinate) sign — a plan literal,
        # no UDF; parity of the md5 digest's first byte
        return [
            1.0
            if hashlib.md5(f"{j}|{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(dim)
        ]

    out = None
    for j in range(COPIES):
        vec = (
            F.col("embedding")
            if j == 0
            else F.zip_with(
                "embedding",
                F.array(*[F.lit(s) for s in signs(j)]),
                lambda x, s: x * s,
            )
        )
        c = emb.select(
            (F.col("vec_id") + F.lit(j * v_off)).alias("vec_id"),
            vec.alias("embedding"),
            "label",
        )
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{HUNX}/embeddings.parquet")
    open(marker, "w").close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--show-blowup", action="store_true")
    ap.add_argument("--out", default="SCALE_SMOKE.md")
    args = ap.parse_args()

    from bike_data_flow_spark.operators import linkage as LK
    from bike_data_flow_spark.operators import similarity as S
    from bike_data_flow_spark.queries import load_all
    from bike_data_flow_spark.queries import textops3 as T3
    from bike_data_flow_spark.session import get_spark

    spark = get_spark("scale-smoke")
    generate(spark)
    registry = load_all()

    rows = []
    for name in QUERIES:
        q = registry[name]
        # each leg is one bench.measure block (best-of-2); its JVM
        # counters make a surprising ratio attributable from the
        # artifact alone (see measure's docstring)
        base = measure(partial(q.fn, spark, BASE), 2, f"{name}@base")
        if name in KNN_DIAL:
            S.N_HYPERPLANES = 8  # the 10×-deployment dial setting
        if name in PPJOIN_DIAL:
            T3.PPJOIN_THRESHOLD = PPJOIN_DIAL[name]
        if name in FS_DIAL:
            LK.BLOCK_STRIPE_CAP = FS_DIAL[name]
        tenx = measure(partial(q.fn, spark, TENX), 2, f"{name}@10x")
        S.N_HYPERPLANES = 4
        T3.PPJOIN_THRESHOLD = None
        LK.BLOCK_STRIPE_CAP = None
        ratio = round(tenx["best"] / base["best"], 2)
        rows.append((name, base["best"], tenx["best"], ratio, base, tenx))
        print(rows[-1][:4], flush=True)

    ppjoin_fixed = measure(
        partial(registry["prefix_filter_jaccard_pairs"].fn, spark, TENX),
        2,
        "prefix_filter_jaccard_pairs@10x fixed tau",
    )["best"]
    print(("prefix_filter_jaccard_pairs@10x, FIXED tau=0.6", ppjoin_fixed), flush=True)

    fs_fixed = measure(
        partial(registry["fs_linkage_scores"].fn, spark, TENX),
        2,
        "fs_linkage_scores@10x unstriped",
    )["best"]
    print(("fs_linkage_scores@10x, UNSTRIPED", fs_fixed), flush=True)
    fs_dialed = next(r[2] for r in rows if r[0] == "fs_linkage_scores")

    # candidate-pair volume is the quantity the stripe cap actually
    # bounds (wall-clock at this SF is dominated by fixed stages)
    from bike_data_flow_spark.queries.linkage_q import _FS_BLOCKS, _FS_FIELDS

    part10 = spark.read.parquet(f"{TENX}/part.parquet").select(
        "p_partkey",
        *_FS_FIELDS,
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
    )
    fs_pairs = [
        LK.blocked_pairs(
            part10, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS, stripe_cap=cap
        ).count()
        for cap in (None, FS_DIAL["fs_linkage_scores"])
    ]
    print(("fs candidate pairs@10x unstriped/striped", fs_pairs), flush=True)

    # Stripe-cap RECALL (VERDICT r11 ask #5): the cap's COST is pinned
    # above; this pins what it MISSES. Striping only partitions blocks,
    # so striped candidates ⊆ exact candidates, and fs_score is a pure
    # per-pair function of the carried fields (u estimated on the full
    # record set either way) — striped matches ⊆ exact matches, and
    # matched-pair recall is a plain count ratio. The 2-pass row unions
    # a ROTATED second striping (linkage.BLOCK_STRIPE_PASSES):
    # cross-stripe misses of rotation 0 land within-stripe under
    # rotation 1 with prob ~1/n_stripes of missing again.
    from bike_data_flow_spark.queries.linkage_q import _FS_M, _FS_MATCH_T

    def fs_match_count(cap, passes=1):
        u_row = LK.field_u_probabilities(part10, _FS_FIELDS)
        cand = LK.blocked_pairs(
            part10, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS,
            stripe_cap=cap, stripe_passes=passes,
        )
        return LK.fs_score(
            cand, u_row, _FS_M,
            match_threshold=_FS_MATCH_T, possible_threshold=_FS_MATCH_T,
        ).count()

    cap100 = FS_DIAL["fs_linkage_scores"]
    fs_matches = [
        fs_match_count(None),
        fs_match_count(cap100),
        fs_match_count(cap100, passes=2),
    ]
    print(("fs matches@10x exact/striped/2-pass", fs_matches), flush=True)

    # SNM comparison row (r12): the sorted-neighborhood generator on
    # the same corpus/model — how efficiently does a linear pair budget
    # convert to matched-pair recall when adjacency, not a random
    # stripe hash, picks the pairs?
    from bike_data_flow_spark.queries.linkage_q import (
        _SNM_PASSES,
        _SNM_WINDOW,
    )

    u_row10 = LK.field_u_probabilities(part10, _FS_FIELDS)
    snm_cand = LK.sorted_neighborhood_pairs(
        part10, "p_partkey", _SNM_PASSES, _SNM_WINDOW, carry=_FS_FIELDS
    )
    snm_pairs = snm_cand.count()
    snm_matches = LK.fs_score(
        snm_cand, u_row10, _FS_M,
        match_threshold=_FS_MATCH_T, possible_threshold=_FS_MATCH_T,
    ).count()
    print(("snm@10x pairs/matches", [snm_pairs, snm_matches]), flush=True)

    # Fixed-Δ probe scaling: the r9 claim under test is that the
    # foreachBatch monitoring probe's cost is O(|Δ| + collisions),
    # INDEPENDENT of store size (persisted bloom = one-row read; Δ's
    # occupied-shard IN-list prunes the store listing). Evidence: the
    # SAME ~1% Δ probes a base-corpus store and a 10×-corpus store;
    # the ratio should sit near 1×, not near 10×.
    import shutil
    import tempfile

    from bike_data_flow_spark.operators import sigstore as G

    delta_docs = spark.read.parquet(f"{BASE}/documents.parquet").filter(
        F.pmod(F.col("doc_id"), F.lit(100)) == 0
    )
    probe_times = []
    for src in (BASE, TENX):
        store_docs = spark.read.parquet(f"{src}/documents.parquet").filter(
            F.pmod(F.col("doc_id"), F.lit(100)) != 0  # Δ ids held out
        )
        d = tempfile.mkdtemp(prefix="smoke_sigstore_")
        table = os.path.join(d, "store")
        G.signature_store_init(store_docs, table)

        def probe(_table=table):
            return G.incremental_lsh_pairs(
                spark, delta_docs, _table, commit=False,
                include_within=False,
            )

        probe_times.append(measure(probe, 2, f"store probe@{src}")["best"])
        shutil.rmtree(d, ignore_errors=True)
    print(("fixed-delta store probe base/10x", probe_times), flush=True)

    # Fixed-Δ FUNNEL scaling (r11): the composed incremental curation
    # funnel's per-day cost must be independent of store size like the
    # bare probe's. The SAME Δ (the base corpus's doc_id % 100 == 0
    # slice — held out of both legs' stores, like the sigstore control)
    # runs the whole probe-only funnel (quality → exact → BOTH store
    # probes → components → split → decisions out; admit=False so
    # every rep probes identical stores) against base-corpus stores and
    # 10×-corpus stores. The 10× leg builds AND probes its vector store
    # at the deployment plane dial (8), like every † row.
    from bike_data_flow_spark.operators import vecstore as VS
    from bike_data_flow_spark.queries.curation_inc import _quality_gate
    from bike_data_flow_spark.queries.vectors import _DIM, _NEAR_DUP_TAU
    from bike_data_flow_spark.streaming.store_probe import curation_batch

    base_emb_ids = spark.read.parquet(f"{BASE}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id")
    )
    funnel_delta = (
        spark.read.parquet(f"{BASE}/documents.parquet")
        .join(base_emb_ids, "doc_id", "left_semi")
        .filter(F.pmod(F.col("doc_id"), F.lit(100)) == 0)
        .localCheckpoint()
    )
    generate_100x(spark)  # the HUNX leg below needs docs + embeddings
    # plane dial per store decade (the deployment setting each leg's
    # store is built AND probed at; validate_store_dials pins the pair)
    funnel_planes = {BASE: 4, TENX: 8, HUNX: 11}
    funnel_times = []
    for src in (BASE, TENX, HUNX):
        emb_src = spark.read.parquet(f"{src}/embeddings.parquet")
        docs_src = spark.read.parquet(f"{src}/documents.parquet").join(
            emb_src.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        held_out = F.pmod(F.col("doc_id"), F.lit(100)) != 0
        S.N_HYPERPLANES = funnel_planes[src]
        d = tempfile.mkdtemp(prefix="smoke_curation_")
        sig_t, vec_t = os.path.join(d, "sig"), os.path.join(d, "vec")
        G.signature_store_init(docs_src.filter(held_out), sig_t)
        VS.vector_store_init(
            emb_src.join(
                docs_src.filter(held_out).select(
                    F.col("doc_id").alias("vec_id")
                ),
                "vec_id",
                "left_semi",
            ),
            vec_t,
            dim=_DIM,
        )
        n_out = [0]

        def run(_sig=sig_t, _vec=vec_t, _emb=emb_src, _d=d, _n=n_out):
            _n[0] += 1
            curation_batch(
                funnel_delta, 0, _emb, _sig, _vec,
                os.path.join(_d, f"out{_n[0]}"),
                dim=_DIM, tau=_NEAR_DUP_TAU,
                gate=_quality_gate, admit=False,
            )

        funnel_times.append(measure(run, 2, f"curation funnel@{src}")["best"])
        S.N_HYPERPLANES = 4
        shutil.rmtree(d, ignore_errors=True)
    print(
        ("fixed-delta curation funnel base/10x/100x", funnel_times),
        flush=True,
    )

    # 100× leg (VERDICT r10 #6): the composed BATCH funnel on a corpus
    # two decades past the gate SF — 100× documents, decorrelated, so
    # the expected shape is ≤ ~100× wall on 32 fixed cores with flat
    # spill (linear work, no super-linear term from the composition).
    generate_100x(spark)
    c_100x = measure(
        partial(registry["curation_v2"].fn, spark, HUNX), 1, "curation_v2@100x"
    )
    t_100x = c_100x["best"]
    print(("curation_v2@100x", t_100x, c_100x), flush=True)

    blowup = None
    if args.show_blowup:
        blowup = measure(
            partial(registry["knn_graph_edges"].fn, spark, TENX),
            2,
            "knn_graph_edges@10x fixed planes",
        )["best"]
        print(("knn_graph_edges@10x, FIXED planes=4", blowup), flush=True)

    lines = [
        "# SCALE_SMOKE — 10× fact-table smoke (deterministic, seeded by construction)",
        "",
        f"Generator: `tools/scale_smoke.py` — facts ×{COPIES} "
        "(id-shifted decorrelated copies: word-suffixed documents, "
        "rolled embeddings, offset keys; part copies keep every "
        "attribute verbatim — the fixed-cardinality blocking regime "
        "the FS row tests), dims verbatim; data under "
        f"`{TENX}` (not committed). Timings: warm best-of-2, noop sink, "
        "clearCache+GC between queries, local[32].",
        "",
        "kNN-family rows run the 10× leg at N_HYPERPLANES 8 (vs 4 at "
        "base) — the log2-scaled LSH dial a 10× deployment uses; "
        "expected bucket pair work |corpus|²/2^planes stays ~6× base "
        "instead of the 100× a fixed plane count costs by design. The "
        "ppjoin row (‡) runs its 10× leg at Jaccard τ 0.8 (vs the "
        "gate's 0.6) — the prefix-length dial: shorter τ-prefixes cut "
        "candidate-pair compute; unlike the planes dial this trades "
        "exhaustiveness (only closer duplicates reported), the call a "
        "scaled exact-dedup deployment makes. The fixed-τ control "
        "below shows the undialed cost.",
        "",
        "| query | sf0.1 s | 10× s | ratio | gc ms (base→10×) | peak heap MB (base→10×) | spill MB (base→10×) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, tb, tt, r, cb, ct in rows:
        dial = (
            " †"
            if name in KNN_DIAL
            else (
                " ‡"
                if name in PPJOIN_DIAL
                else (" §" if name in FS_DIAL else "")
            )
        )
        lines.append(
            f"| {name}{dial} | {tb} | {tt} | {r}× "
            f"| {cb['gc_ms']}→{ct['gc_ms']} "
            f"| {cb['peak_heap_mb']}→{ct['peak_heap_mb']} "
            f"| {cb['spill_mb']}→{ct['spill_mb']} |"
        )
    lines += [
        "",
        "† 10× leg at N_HYPERPLANES=8. ‡ 10× leg at PPJOIN_THRESHOLD=0.8. "
        "§ 10× leg at linkage.BLOCK_STRIPE_CAP=100 (hash-striped "
        "oversized blocks: per-block pairs |b|·cap/2 instead of |b|²/2 "
        "— the linear-cost/recall trade for bounded-cardinality "
        "blocking keys; gate runs are undialed and exact). "
        "The incremental_* rows time the WHOLE composed query — store "
        "bootstrap from the 10× corpus plus the Δ probe — so the ratio "
        "upper-bounds the daily shape, whose bootstrap amortizes across "
        "every later batch.",
        "",
        f"Fixed-dial control: prefix_filter_jaccard_pairs at 10× with "
        f"τ still 0.6 = {ppjoin_fixed} s — linear work on fixed cores "
        "(compute-bound exact verify), the cost the τ dial trades away.",
        "",
        f"Fixed-dial control: fs_linkage_scores at 10× UNSTRIPED = "
        f"{fs_fixed} s vs {fs_dialed} s dialed "
        f"({round(fs_fixed / max(fs_dialed, 1e-9), 1)}× slower); "
        f"candidate pairs {fs_pairs[0]:,} unstriped vs {fs_pairs[1]:,} "
        f"striped (cap=100, "
        f"{round(fs_pairs[0] / max(fs_pairs[1], 1), 1)}× fewer). Exact "
        "pairs grow ~quadratically on these fixed-cardinality blocking "
        "keys (~100× per 10× of corpus) while the striped volume grows "
        "~linearly — the recall/cost dial a bounded-key deployment "
        "turns. Both spellings stay distributed (blocked equi-joins, "
        "map-side scoring); the cap trades cross-stripe recall inside "
        "oversized blocks.",
        "",
        f"Fixed-Δ probe scaling (r9): the SAME ~1% document Δ probing a "
        f"base-corpus signature store vs a 10×-corpus store = "
        f"{probe_times[0]} s vs {probe_times[1]} s "
        f"({round(probe_times[1] / probe_times[0], 2)}×) — the "
        "monitoring-probe cost the foreachBatch loop pays per batch is "
        "governed by |Δ| and its collisions, not by store size "
        "(persisted bloom = one-row read; Δ's occupied-shard IN-list "
        "prunes the store's file listing). Store bootstrap excluded: "
        "that is the one-time admission-side cost.",
        "",
        f"Fixed-Δ FUNNEL scaling (r11, 100× leg r12): the SAME held-out "
        f"Δ through the whole probe-only incremental curation funnel "
        f"(quality → exact → signature-store probe → vector-store probe "
        f"→ components → split → decisions out) against base-corpus vs "
        f"10×-corpus vs 100×-corpus stores = {funnel_times[0]} s vs "
        f"{funnel_times[1]} s vs {funnel_times[2]} s "
        f"({round(funnel_times[1] / funnel_times[0], 2)}× / "
        f"{round(funnel_times[2] / funnel_times[0], 2)}× across TWO "
        "DECADES of store growth) — the COMPOSED per-day cost is "
        "governed by |Δ| and its collisions, not store size: both "
        "probes keep their two-layer prunes inside the composition, and "
        "the added stages (gate, exact, components, split) are Δ-sized. "
        "Each leg builds and probes its vector store at the deployment "
        "plane dial (4/8/11 — validate_store_dials pins the store/probe "
        "pair). Store bootstrap and admission excluded (admit=False "
        "keeps every rep's stores identical); the incremental_curation "
        "table row above times the whole query including both "
        "bootstraps and the streaming boot, and the benched "
        "incremental_curation_day2 row tracks the amortized day-2 cost "
        "round-over-round. Residual-term attribution: the increment is "
        f"+{round(funnel_times[1] - funnel_times[0], 2)} s for the "
        f"first decade but only "
        f"+{round(funnel_times[2] - funnel_times[1], 2)} s for the "
        "second — SUB-linear in store size. A term proportional to "
        "store rows would add ~10× more in decade 2 than decade 1 "
        "(the opposite of the measurement); the shape is consistent "
        "with per-shard listing/footer overhead on the occupied-shard "
        "scan (more part files behind the same PartitionFilters) plus "
        "the higher plane dial's bucketing arithmetic, both bounded "
        "per probed shard rather than per store row.",
        "",
        f"Stripe-cap RECALL (r12, VERDICT r11 ask #5): matched pairs "
        f"(score ≥ match threshold) at 10× = {fs_matches[0]:,} exact vs "
        f"{fs_matches[1]:,} striped at cap=100 (recall "
        f"{round(fs_matches[1] / max(fs_matches[0], 1), 4)}) vs "
        f"{fs_matches[2]:,} with BLOCK_STRIPE_PASSES=2 (recall "
        f"{round(fs_matches[2] / max(fs_matches[0], 1), 4)}). Striping "
        "partitions blocks, so striped candidates ⊆ exact and the "
        "recall ratio is a plain count ratio (fs_score is a pure "
        "per-pair function; u is estimated on the full record set in "
        "both spellings). Reading: the 2-pass increment "
        f"(+{round((fs_matches[2] - fs_matches[1]) / max(fs_matches[0], 1), 4)}) "
        "equals the kept candidate fraction "
        f"({round(fs_pairs[1] / max(fs_pairs[0], 1), 4)}) — each ROTATED "
        "pass keeps an independent ~1/n_stripes slice of every oversized "
        "block, so recall grows LINEARLY in passes at linear cost; full "
        "recall would need ~n_stripes passes = the exact quadratic "
        "cost. The dial is a cost GOVERNOR (recall proportional to "
        "spend, never silent — this row is the measurement), not a "
        "shortcut around the quadratic: matches here are uniformly "
        "spread across the blocks' pair sets by construction (verbatim "
        "attribute copies), the worst case for striping. When an "
        "oversized block's full pair set matters at scale, the fix is "
        "sharper blocking keys, not more passes. Determinism + subset "
        "bounds pinned by "
        "tests/test_linkage.py::test_blocked_pairs_rotated_stripe_passes; "
        "gate queries run undialed (exact).",
        "",
        f"Sorted-neighborhood comparison (r12): the SNM generator "
        f"(operators/linkage.sorted_neighborhood_pairs, window "
        f"{_SNM_WINDOW}, two sort passes — the `snm_linkage_scores` "
        f"gate query's spelling) on the same 10× corpus/model = "
        f"{snm_pairs:,} candidate pairs → {snm_matches:,} matches "
        f"(recall {round(snm_matches / max(fs_matches[0], 1), 4)}) — "
        f"{round(100 * snm_matches / max(fs_matches[1], 1))}% of the "
        f"striped recall at "
        f"{round(100 * snm_pairs / max(fs_pairs[1], 1))}% of the "
        f"striped pair volume "
        f"({round((snm_matches / max(snm_pairs, 1)) / (fs_matches[1] / max(fs_pairs[1], 1)), 1)}× "
        "the match density per candidate). Reading: on this corpus the "
        "true-match set grows quadratically (verbatim attribute "
        "copies), so ANY linear-volume candidate generator has recall "
        "∝ its pair budget — the real dial at scale is the budget, and "
        "the generator decides how efficiently budget converts to "
        "recall: adjacency (SNM) converts ~3× better than random "
        "striping here, and composing both generators (union) buys "
        "recall additively for additive cost.",
        "",
        f"100× leg (r11): curation_v2 on a 100× documents corpus "
        f"(second-level decorrelated copies, `{HUNX}`) = {t_100x} s vs "
        f"{next(r[1] for r in rows if r[0] == 'curation_v2')} s at base "
        f"({round(t_100x / next(r[1] for r in rows if r[0] == 'curation_v2'), 1)}×; "
        f"single timed rep after one warm run — a 3-rep best-of at this "
        f"size would triple a minutes-long leg for no extra signal), "
        f"counters gc {c_100x['gc_ms']} ms, peak heap "
        f"{c_100x['peak_heap_mb']} MB, spill {c_100x['spill_mb']} MB. "
        "Two decades of corpus growth on 32 fixed cores: a ratio near "
        "(or under) 100× with flat spill means the composed funnel's "
        "work grew linearly — no stage of the composition introduces a "
        "super-linear term; spill or heap scaling past the ratio would "
        "flag the shape that breaks at 100 TB.",
        "",
        "Reading: a ratio ≤ ~10× on 32 fixed cores means the work grew "
        "at most linearly with the data (sub-10× = the base time was "
        "overhead-floored); super-linear ratios would flag a shape that "
        "breaks at 100 TB.",
    ]
    refined = next((r for r in rows if r[0] == "knn_graph_refined"), None)
    if refined:
        _, tb, tt, ratio, cb, ct = refined
        lines += [
            "",
            f"knn_graph_refined attribution (r9 watch item, highest "
            f"ratio in the table): {tb} s → {tt} s ({ratio}×) with "
            f"counters gc {cb['gc_ms']} → {ct['gc_ms']} ms, peak heap "
            f"{cb['peak_heap_mb']} → {ct['peak_heap_mb']} MB, spill "
            f"{cb['spill_mb']} → {ct['spill_mb']} MB. Interpretation "
            "key: spill staying ~0 and peak heap growing sub-10× rule "
            "out memory pressure — the extra wall time is the refine "
            "stage's exact re-scoring of the (linearly larger) "
            "candidate set on 32 fixed cores, i.e. compute growth the "
            "planes dial already bounds to ~linear; a leak or quadratic "
            "blowup would show heap/spill scaling with the ratio.",
        ]
    if blowup is not None:
        lines += [
            "",
            f"Fixed-dial control: knn_graph_edges at 10× with planes "
            f"still 4 = {blowup} s (was 25.394 s in r7, pre-cap) — the "
            "enforced per-bucket memory cap (similarity.py "
            "bucketed_knn_candidates) now routes the mis-dialed "
            "oversized buckets through block-pair GEMM tiles, so a "
            "wrong dial degrades to parallel tiled work instead of "
            "one quadratic single-task square.",
        ]
    with open(args.out, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
