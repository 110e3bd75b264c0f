"""Deduplication operators (north-star extension).

Exact dedup, n-gram Jaccard, MinHash+LSH, SimHash — each designed as a
shuffle-bounded DataFrame plan:

- exact: one hash-groupBy shuffle on the content fingerprint.
- n-gram Jaccard: shingle-explode → distinct → candidate pairs
  sharing a shingle (joins.pairs_sharing_key) → per-pair count. Only
  docs *sharing* a shingle ever meet — no O(n²) cross product.
- MinHash LSH: K md5-derived hash functions → per-doc min-signature →
  band keys → pairs sharing a (band, band key). Candidate generation
  is linear in data + quadratic only *within a band bucket*.
- SimHash: bitwise majority vote over token hashes → one 48-bit
  signature per doc; near-dup = small Hamming distance, candidates =
  pairs sharing a signature block.

Hash functions are md5-prefix arithmetic (conv(substr(md5(x),1,k),16,10))
— chosen because the DuckDB oracle computes the identical value, making
every step here verifiable against SQL (queries/textops.py).

At 100 TB: shingle explosion is the dominant cost; it is map-local.
The distinct + join shuffles partition by shingle/band hash which is
near-uniform by construction (hash keys), so no skew handling needed;
frequency-capping of pathological shingles (stop-shingles appearing in
>F docs) is available via ``max_shingle_freq``.

Cache policy: the caches here (and in similarity/textops) mark
subtrees consumed by multiple lazy consumers inside ONE returned plan
— the operator cannot release them (the plan has not executed yet),
so they belong to the caller. Blocks are MEMORY_AND_DISK and
LRU-evicted, so an unreleased pin degrades to recompute, never to
failure; a caller that consumes the plan inside ``pins.scope()``
(operators/pins.py, which owns the mechanism) gets every such pin
released when the scope exits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pins
from .joins import pairs_sharing_key
from .text import normalized_text, tokens

# MinHash configuration — mirrored by the SQL oracle generator.
MINHASH_K = 16  # hash functions
MINHASH_BANDS = 4  # bands of 4 rows each
SIMHASH_BITS = 48  # 12 hex chars of md5 → fits exactly in a BIGINT
SIMHASH_BLOCKS = 4  # 4 bands of 12 bits: pigeonhole-exact for hamming <= 3
SIMHASH_MAX_HAMMING = 3


def md5_hash64(col: Column, salt: int | None = None, hex_chars: int = 8) -> Column:
    """Deterministic 32/48-bit integer hash from an md5 prefix.

    Engine-portable (Spark `conv` ≡ DuckDB `CAST('0x'||… AS BIGINT)`),
    unlike xxhash64/murmur which differ across engines.
    """
    basis = F.concat(F.lit(f"{salt}|"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(basis), 1, hex_chars), 16, 10).cast("long")


# Universal-hash MinHash family: h_i(s) = (a_i·base(s) + b_i) mod p with
# ONE md5 per shingle as the base — the textbook Broder construction.
# p = 2^31−1 keeps a_i·base < 2^62 (no 64-bit overflow in either engine).
MINHASH_PRIME = 2147483647


def minhash_coeff(i: int) -> tuple[int, int]:
    """Deterministic affine coefficients (aᵢ, bᵢ), md5-derived at
    plan-build time so the DuckDB oracle regenerates identical literals
    (same trick as similarity.hyperplane_component)."""
    import hashlib

    a = int(hashlib.md5(f"mh_a|{i}".encode()).hexdigest()[:8], 16)
    b = int(hashlib.md5(f"mh_b|{i}".encode()).hexdigest()[:8], 16)
    return a % (MINHASH_PRIME - 1) + 1, b % MINHASH_PRIME


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a pre-materialized token array.

    IMPORTANT perf contract: ``toks`` must be a bound attribute (a
    column produced by an earlier projection), NOT an inline split()
    expression — Catalyst would duplicate the split into every
    element_at inside the lambda (measured 8× slower at sf0.1).
    """
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - (n - 1))
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    return F.when(
        cnt >= n, F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    ).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (empty when < n tokens).
    Prefer doc_shingles/shingles_from_tokens in hot paths (see note)."""
    return shingles_from_tokens(tokens(text), n)


def doc_shingle_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, arr) with arr = the doc's DISTINCT shingle array, built
    map-side — set semantics with NO distinct shuffle (``array_distinct``
    per row replaces a corpus-wide exchange).

    The token array binds as a lambda variable (``transform`` over a
    one-element wrapper) rather than a projected column: lambda
    variables evaluate once per row by construction, so neither
    projection collapse nor codegen can duplicate the tokenizer into
    the shingle lambda's element accesses (the pitfall documented on
    shingles_from_tokens; measured 1.7× faster than the stacked-
    projection spelling even where collapse is partial)."""
    arr = F.element_at(
        F.transform(
            F.array(tokens(F.col(text_col))),
            lambda t: F.array_distinct(shingles_from_tokens(t, n)),
        ),
        1,
    )
    return df.select(F.col(id_col), arr.alias("arr"))


def doc_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs, distinct by default (set semantics for
    Jaccard). ``distinct=False`` skips that shuffle for consumers that
    are duplicate-insensitive (MinHash: min over multiset == min over
    set). Optionally drop stop-shingles that occur in more than
    ``max_shingle_freq`` docs (skew guard at scale)."""
    from ..tuning import spread_for_map

    toks_df = spread_for_map(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    out = toks_df.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )
    if distinct:
        out = out.distinct()
    if max_shingle_freq is not None:
        freq = out.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        out = (
            out.join(freq.filter(F.col("_f") <= max_shingle_freq), "shingle", "inner")
            .drop("_f")
        )
    return out


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts: fingerprint → keeper id + count.
    One hash-partitioned shuffle; the md5 key is uniform so no skew."""
    return (
        df.select(
            F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly the min-id row per identical content (deterministic)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def _shingle_overlaps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, inter_size, size_a, size_b) for every doc pair
    sharing ≥ 1 shingle: distinct shingles → per-doc set size
    (broadcastable side stats) → pairs sharing a shingle (only
    co-occurring docs meet) → per-pair intersection count → size join.
    The shared front of the Jaccard and containment joins."""
    sh = pins.cache(doc_shingles(df, id_col, text_col, n, max_shingle_freq))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    # set sizes count EVERY shingle, but the pair join only needs the
    # co-occurring ones: a df=1 shingle (the long tail) meets nobody,
    # so dropping it shrinks the pair join's input without touching the
    # output. Cached: pairs_sharing_key reads it twice.
    gf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    joinable = pins.cache(sh.join(
        gf.filter(F.col("_df") >= 2).select("shingle"), "shingle"
    ))
    inter = (
        pairs_sharing_key(joinable, id_col, ["shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold:
    |A∪B| = |A|+|B|−|A∩B| over the shingle overlaps."""
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = MINHASH_K,
) -> DataFrame:
    """Per-doc MinHash signature: columns m0..m{k-1} = min_s h_i(s).

    ONE md5 per shingle (the base hash); the k functions are affine
    transforms (aᵢ·base + bᵢ) mod p — k×-cheaper hashing than k
    independent digests, and min() runs over longs instead of strings.
    """
    # distinct=False: MIN ignores duplicates; saves a full shuffle
    sh = doc_shingles(df, id_col, text_col, n, distinct=False)
    # base hash materializes once as a bound attribute; the k affine
    # mins reference it without re-evaluating the md5
    staged = sh.select(
        F.col(id_col),
        (md5_hash64(F.col("shingle")) % MINHASH_PRIME).alias("_hb"),
    )
    aggs = []
    for i in range(k):
        a, b = minhash_coeff(i)
        aggs.append(
            F.min((F.lit(a) * F.col("_hb") + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
        )
    return staged.groupBy(id_col).agg(*aggs)


def minhash_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(id, band_idx, band_key): band_key = polynomial combine of that
    band's rows (base-31 Horner over longs < 2^31 → key < 2^46, no
    overflow, no digest cost; both engines compute the same BIGINT).

    Single projection + explode — NOT a self-union, which would
    re-execute the whole signature pipeline once per band.
    """
    rows = k // bands
    structs = []
    for b in range(bands):
        key: Column | None = None
        for r in range(rows):
            m = F.col(f"m{b * rows + r}")
            key = m if key is None else key * F.lit(31) + m
        structs.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH
    band: pairs_sharing_key on (band, band_key), then ``distinct``.

    The band keys are cached because pairs_sharing_key reads them twice:
    uncached, the whole shingle→md5→min-signature pipeline (the most
    expensive subtree in the dedup family) runs once per side.
    """
    keys = pins.cache(minhash_band_keys(
        minhash_signatures(df, id_col, text_col, n, k), id_col, k, bands
    ))
    return (
        pairs_sharing_key(keys, id_col, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """48-bit SimHash per doc: majority vote per bit over token hashes
    (frequency-weighted: repeated tokens vote repeatedly).

    Plan: explode tokens × explode bit index → per-(doc,bit) vote sum →
    per-doc weighted bit sum. Two partial-agg shuffles, rows bounded by
    docs × bits.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    hashed = tok.select(
        F.col(id_col), md5_hash64(F.col("tok"), hex_chars=12).alias("h")
    )
    # one aggregation with `bits` vote expressions — no ×bits row
    # explosion, no second shuffle (rows stay = token count)
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


# Edge-count bound for the single-task union-find fast path. A Python
# union-find chews ~1M edges/s; 200k edges keeps the task under ~0.3 s
# while covering every realistic dedup residue at bench scale.
SMALL_GRAPH_EDGES = 200_000


def _unionfind_batches(batches):
    """Union-find over Arrow batches of (src, dst); min id becomes the
    component root (smaller root always wins the union)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for b in batches:
        for a, d in zip(b["src"], b["dst"]):
            parent.setdefault(a, a)
            parent.setdefault(d, d)
            ra, rb = find(a), find(d)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    ids = list(parent)
    yield pd.DataFrame(
        {"id": pd.array(ids, dtype="int64"),
         "label": pd.array([find(i) for i in ids], dtype="int64")}
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected near-dup pair graph:
    (id, cluster_id) with cluster_id = min member id. The step every
    real dedup pipeline needs between "pairs" and "keepers" — pairs
    (a,b),(b,c) must collapse to ONE keeper, not two.

    Iterative min-label propagation WITH pointer jumping (no GraphX
    dependency, pure DataFrame ops): each round every vertex takes the
    min of its own label, its neighbors' labels, and its label's label
    (the path-halving shortcut) — so label chains collapse
    exponentially and convergence is O(log diameter) rounds, not
    O(diameter) (a 17-round chain at sf0.1 becomes 5). Each round is
    two joins + one groupBy on uniform id keys; ``localCheckpoint``
    truncates lineage so plans don't snowball, and convergence is a
    LIMIT 1 existence probe, not a full count. Raises if max_iter is
    hit — silently-unconverged clusters would be wrong answers.
    """
    # compute the symmetrized edge list ONCE — edges is typically an
    # expensive candidate pipeline (LSH join / blocked GEMM) and every
    # consumer re-reads it. Lazy cache, not localCheckpoint: the
    # routing count() below is the materializing action either way, so
    # the eager pin only added one extra serial driver-blocking job
    # before it (guide §1.2 — serial action count is the wall at
    # per-batch scale).
    sym = pins.cache(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    # Work ONLY on edge endpoints: a vertex with no near-dup pair can
    # never change label, so it rejoins the result as its own singleton
    # cluster at the end. After candidate generation the endpoint set is
    # the duplicate residue — orders of magnitude smaller than the
    # corpus.
    #
    # Two-level strategy, both levels distributed-scan-friendly:
    # 1. residue fits one task (≤ SMALL_GRAPH_EDGES, integer ids) →
    #    single executor-side union-find over the checkpointed edges
    #    (coalesce(1) + mapInPandas — the corpus itself never funnels
    #    through it, only the pair residue). One job instead of
    #    O(log diameter) × 4 — measured 2.6s → <1s at sf0.1.
    # 2. otherwise → iterative min-label propagation with pointer
    #    jumping below (O(log diameter) rounds).
    int_ids = dict(sym.dtypes).get("src") in ("int", "bigint")
    if int_ids and sym.count() <= SMALL_GRAPH_EDGES:
        # the returned union-find plan reads the cached sym, so the
        # caller's pins.scope() releases it (module Cache policy)
        uf = sym.coalesce(1).mapInPandas(_unionfind_batches, "id long, label long")
        id_type = dict(vertices.select(F.col(id_col).alias("id")).dtypes)["id"]
        uf = uf.select(F.col("id").cast(id_type).alias("id"),
                       F.col("label").cast(id_type).alias("label"))
        singletons = vertices.select(F.col(id_col).alias("id")).join(
            uf.select("id"), "id", "left_anti"
        )
        return uf.unionByName(
            singletons.select("id", F.col("id").alias("label"))
        ).select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    labels = pins.checkpoint(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    singletons = vertices.select(F.col(id_col).alias("id")).join(
        labels.select("id"), "id", "left_anti"
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.select(
            F.col("id").alias("_hid"), F.col("label").alias("hop_label")
        )
        new_label = F.least(
            labels["label"],
            F.coalesce(nbr["nbr_label"], labels["label"]),
            F.coalesce(hop["hop_label"], labels["label"]),
        )
        # carry the change flag in the checkpointed frame: the probe
        # then scans materialized partitions instead of re-joining the
        # old and new label tables (one fewer shuffle per round)
        new_labels = pins.checkpoint(
            labels.join(nbr, labels["id"] == nbr["dst"], "left")
            .join(hop, labels["label"] == hop["_hid"], "left")
            .select(
                labels["id"],
                new_label.alias("label"),
                (new_label != labels["label"]).alias("_changed"),
            )
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            # owner release (ADVICE r12): every remaining consumer
            # reads the CHECKPOINTED labels, so the cached edge list is
            # dead weight from here — long-lived sessions composing
            # this operator repeatedly must not accumulate its blocks
            pins.release(sym)
            return labels.unionByName(
                singletons.select("id", F.col("id").alias("label"))
            ).select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def capped_block_join(
    names: DataFrame,
    cap: int = 2000,
    max_len_diff: int = 4,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = 8,
) -> DataFrame:
    """Entity-resolution candidate pairs within blocking keys, with a
    per-block size cap so candidate pairs never grow Θ(n²) when the
    blocking key has bounded cardinality.

    Input: (nid, name, blk). Output: (id_a, id_b, na, nb) with
    na < nb, candidates for an edit-distance filter downstream.

    Two routes, partitioned by PRIMARY block size (a pair lives inside
    exactly one blk, so no cross-route pairs are lost):

    - blocks ≤ cap — exact: within-block self-join, additionally
      banded by name length (bucket width max_len_diff+1, one side
      exploded to ±1 neighbors) — lossless for any downstream
      Levenshtein radius ≤ max_len_diff, since edit distance bounds
      the length difference; per-block pairs ≤ cap²/2 by construction
      and the banding cuts the realistic constant.
    - blocks > cap — MinHash-LSH fallback on character n-gram
      shingles of the name (char granularity: a 1-edit change on a
      short name flips ~n of its ~|name| char-grams, vs most of its
      handful of word-grams), band-keyed WITHIN the block: candidate
      pairs bounded by LSH bucket collisions instead of block size².
      Approximate; with the default 8 bands × 2 rows, a pair at
      char-Jaccard j surfaces with prob 1−(1−j²)⁸ — ≥ 0.97 for
      j ≥ 0.6, the radius-≤-max_len_diff regime entity resolution
      targets.

    At gate scale every block is ≤ cap, so results are exactly the
    uncapped blocked join; the fallback is the 100×-scale path,
    exercised by tests/test_llm_ops.py (capped_block_join cases) with a
    forced tiny cap.
    """
    w = max_len_diff + 1
    sized = names.join(
        names.groupBy("blk").agg(F.count(F.lit(1)).alias("_bsz")), "blk"
    )
    small = sized.filter(F.col("_bsz") <= cap)
    big = sized.filter(F.col("_bsz") > cap)

    bkt = (F.length("name").cast("long") / w).cast("long")
    a = small.select(
        F.col("name").alias("na"),
        F.col("nid").alias("id_a"),
        "blk",
        bkt.alias("bkt"),
    )
    c = small.select(
        F.col("name").alias("nb"),
        F.col("nid").alias("id_b"),
        "blk",
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt"),
    )
    exact = (
        a.join(c, ["blk", "bkt"])
        .filter(F.col("na") < F.col("nb"))
        .select("id_a", "id_b", "na", "nb")
    )

    grams = F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length(name) - {n - 1}, 1)),"
        f" i -> substring(name, i, {n})))"
    )
    staged = big.select(
        "nid", F.explode(grams).alias("_g")
    ).select(
        "nid", (md5_hash64(F.col("_g")) % MINHASH_PRIME).alias("_hb")
    )
    aggs = []
    for i in range(k):
        ai, bi = minhash_coeff(i)
        aggs.append(
            F.min((F.lit(ai) * F.col("_hb") + F.lit(bi)) % MINHASH_PRIME).alias(
                f"m{i}"
            )
        )
    sigs = staged.groupBy("nid").agg(*aggs)
    keys = pins.cache(  # pairs_sharing_key reads it twice
        minhash_band_keys(sigs, id_col="nid", k=k, bands=bands)
        .join(big.select("nid", "name", "blk"), "nid")
    )
    # pairs are ordered by NAME (na < nb), as on the exact route
    approx = (
        pairs_sharing_key(keys, "name", ["blk", "band", "band_key"], ("nid",))
        .select(
            F.col("nid_a").alias("id_a"),
            F.col("nid_b").alias("id_b"),
            F.col("id_a").alias("na"),
            F.col("id_b").alias("nb"),
        )
        .distinct()
    )
    return exact.unionByName(approx)


def _hamming_band_pairs(
    sig: DataFrame, id_col: str, sig_col: str, bits: int, blocks: int, max_hamming: int
) -> DataFrame:
    """(id_a < id_b, hamming) pairs of ``bits``-wide signatures within
    ``max_hamming`` bits. Each signature splits into ``blocks`` equal
    blocks; two signatures within hamming d share at least one of d+1
    blocks (pigeonhole), so candidates are the pairs sharing a (block,
    value) — linear in data, quadratic only within a bucket — and an
    exact bit_count verifies them. A radius the blocks cannot cover
    would silently lose pairs, so it raises instead. The one band join
    of simhash_near_pairs and multimodal.perceptual_near_pairs."""
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming {max_hamming} needs > {max_hamming} blocks "
            f"(pigeonhole); the {bits}-bit signature has {blocks}"
        )
    width = bits // blocks
    mask = (1 << width) - 1
    structs = [
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftright(F.col(sig_col), b * width).bitwiseAND(mask).alias("blk_val"),
        )
        for b in range(blocks)
    ]
    # One projection + explode (NOT a blocks-way self-union, which would
    # re-execute the upstream signature plan once per block). The KEYED
    # frame is cached because pairs_sharing_key reads it twice: the
    # upstream plan (the simhash aggregation, a media-decoding
    # mapInPandas) and the explode then run once, and a keyed row is
    # only an id and three longs, so holding blocks× rows is cheap.
    keyed = pins.cache(
        sig.select(
            F.col(id_col), F.col(sig_col), F.explode(F.array(*structs)).alias("bk")
        )
        .select(
            id_col,
            sig_col,
            F.col("bk.blk").alias("blk"),
            F.col("bk.blk_val").alias("blk_val"),
        )
    )
    sig_a, sig_b = f"{sig_col}_a", f"{sig_col}_b"
    return (
        pairs_sharing_key(keyed, id_col, ["blk", "blk_val"], (sig_col,))
        .select("id_a", "id_b", sig_a, sig_b)
        .distinct()
        .withColumn("hamming", F.bit_count(F.col(sig_a).bitwiseXOR(F.col(sig_b))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash signatures: the
    band join on SIMHASH_BLOCKS 12-bit blocks (``_hamming_band_pairs``),
    exact for ``max_hamming`` < SIMHASH_BLOCKS; a wider radius raises."""
    return _hamming_band_pairs(
        sig, id_col, "simhash", SIMHASH_BITS, SIMHASH_BLOCKS, max_hamming
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (AllPairs / ppjoin
    family) — the second classic candidate-generation strategy next to
    MinHash banding: two sets with Jaccard ≥ t MUST share a token in
    their first |x| − ⌈t·|x|⌉ + 1 elements under a canonical global
    ordering, so only docs sharing a rarest-first prefix shingle ever
    meet. Exact Jaccard verifies candidates; no approximation anywhere
    (unlike MinHash, which trades recall for speed).

    Plan: the per-doc sorted distinct shingle ARRAY materializes
    map-side (``sort_array(array_distinct(...))`` — no distinct
    shuffle; cached, it is ALSO the exact-verify side) → explode from
    the cache feeds ONE frequency aggregate, kept only where df ≥ 2 (a
    shingle seen in one doc can never produce a pair) → the per-doc
    rarest-first ranking aggregates ONLY the df ≥ 2 rows: because the
    global order is (df asc, shingle asc), every df = 1 shingle
    precedes every df ≥ 2 shingle, so the true position of a df ≥ 2
    shingle is (count of the doc's df = 1 shingles, i.e. n − matched)
    + its rank among the matched — ``sort_array`` of (df, shingle)
    structs replaces a row_number window and its id-partitioned sort
    shuffle, and the df = 1 long tail (typically most of the corpus)
    never enters the aggregate → prefix ``slice`` + equi-join
    generates candidates (rare shingles by construction co-occur in
    FEW docs, so the join is sparse where a full shingle join is
    dense), pruned in-join by the ppjoin LENGTH filter (Jaccard ≥ t
    needs t·max(|x|,|y|) ≤ min(|x|,|y|)) and POSITIONAL filter (a
    match at prefix positions p_x, p_y caps the remaining overlap at
    1 + min(|x|−p_x, |y|−p_y), which must reach the required
    ⌈t/(1+t)·(|x|+|y|)⌉) — both are sufficient-condition prunes, so
    the output is bit-identical to the unfiltered join → exact verify
    at CANDIDATE cardinality via the cached arrays +
    ``array_intersect`` (JVM-side). Every stage is an equi-join or
    aggregate on shingle/doc keys — no cross product, no vocab-sized
    broadcast, no corpus-row broadcast hint (AQE picks the strategy),
    at any scale.
    """
    from ..tuning import spread_for_map

    # cache is load-bearing twice over: docs feeds three consumers, and
    # materializing `arr` stops Catalyst's projection collapse from
    # inlining the whole shingle transform into the explode below
    # (measured 15× slower uncached)
    docs = pins.cache(
        doc_shingle_arrays(
            spread_for_map(df, id_col), id_col=id_col, text_col=text_col, n=n
        )
        .withColumn("n", F.size("arr"))
    )
    ex = docs.select(F.col(id_col), F.col("n"), F.explode("arr").alias("shingle"))
    gf2 = (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
    )
    plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    pref = pins.cache(
        ex.join(gf2, "shingle")
        # n is functionally dependent on the id; grouping by both saves
        # a join back to docs
        .groupBy(id_col, "n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("_rs")
        )
        # u = the doc's df=1 shingle count = positions consumed BEFORE
        # any matched shingle under the (df, shingle) global order
        .withColumn("u", F.col("n") - F.size("_rs"))
        .withColumn(
            "_take", F.greatest(F.lit(0), (plen - F.col("u")).cast("int"))
        )
        .select(
            F.col(id_col),
            F.col("n"),
            F.col("u"),
            F.posexplode(F.slice("_rs", F.lit(1), F.col("_take"))).alias(
                "pos0", "_e"
            ),
        )
        .select(
            F.col(id_col),
            F.col("_e.shingle").alias("shingle"),
            (F.col("u") + F.col("pos0") + 1).alias("pos"),
            F.col("n"),
        )
        # two join consumers below (probe + index side); the index-side
        # filter breaks Spark's self-join exchange reuse, so an
        # uncached pref would execute the whole shingle pipeline twice
    )
    a = pref.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("pos").alias("pos_a"),
        F.col("n").alias("na"),
    )
    # ppjoin INDEX-PREFIX reduction (Xiao et al. 2008): process pairs
    # larger-(n,id) side probing, smaller side indexed. For the indexed
    # side y (|y| ≤ |x|), the required overlap α ≥ 2t/(1+t)·|y|, so its
    # first common token sits within the SHORTER |y| − ⌈2t/(1+t)·|y|⌉
    # + 1 prefix — the index side of the self-join shrinks ~40% with
    # zero recall loss (the probe side keeps the full t-prefix)
    ilen = (
        F.col("nb")
        - F.ceil(F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("nb"))
        + F.lit(1)
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("pos").alias("pos_b"),
        F.col("n").alias("nb"),
    ).filter(F.col("pos_b") <= ilen)
    probe_order = (F.col("nb") < F.col("na")) | (
        (F.col("nb") == F.col("na")) & (F.col("id_b") < F.col("id_a"))
    )
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb")))
    cand = (
        a.join(b, "shingle")
        .filter(probe_order)
        # ppjoin length filter: |y| ≥ t·|x| for the larger side x
        .filter(
            F.least("na", "nb") >= F.ceil(F.lit(threshold) * F.greatest("na", "nb"))
        )
        # ppjoin positional filter: overlap upper bound vs required α
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("pos_a"), F.col("nb") - F.col("pos_b"))
            >= alpha
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    # AQE coalesces the candidate shuffle by BYTES — and a candidate
    # row is two ids, so the whole set reads as "tiny" and lands on ONE
    # reducer. But verify cost scales with candidates × |arr| (CPU-
    # bound, not byte-bound): pin the exchange width so the
    # array_intersect work spreads (explicit numPartitions marks the
    # exchange user-specified, which AQE honors)
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(sp, F.col("id_a"))
    aa = docs.select(F.col(id_col).alias("id_a"), F.col("arr").alias("arr_a"))
    ab = docs.select(F.col(id_col).alias("id_b"), F.col("arr").alias("arr_b"))
    c = F.size(F.array_intersect("arr_a", "arr_b"))
    na, nb = F.size("arr_a"), F.size("arr_b")
    jac = F.round(c / (na + nb - c), 4)
    return (
        cand.join(aa, "id_a")
        .join(ab, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Set-CONTAINMENT join: pairs where either doc's shingle set is
    ≥ ``threshold`` contained in the other's (|A∩B|/|A| — Broder's
    containment coefficient). The asymmetric complement to the Jaccard
    joins: a short quote inside a long document scores near-1
    containment but near-0 Jaccard (|B| dominates the union), so this
    is the operator that catches quotes, excerpt reposts, and
    boilerplate-wrapped copies.

    Same shingle overlaps as ngram_jaccard_pairs (``_shingle_overlaps``:
    the df=1 prune and ``max_shingle_freq`` skew cap included), with the
    measure swapped.
    Emits both directions' coefficients once per unordered pair.
    """
    cont_a = F.round(F.col("inter_size") / F.col("size_a"), 4)
    cont_b = F.round(F.col("inter_size") / F.col("size_b"), 4)
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_freq)
        .select(
            "id_a",
            "id_b",
            cont_a.alias("containment_a_in_b"),
            cont_b.alias("containment_b_in_a"),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= threshold
        )
    )


def shingle_novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc NOVELTY: the fraction of its shingles whose FIRST
    corpus occurrence (by ascending id — ids are the ingestion order)
    is this doc. The incremental-dedup curation signal: a feed of
    reposts scores near 0, genuinely new material near 1 — what a
    streaming pipeline computes before paying for full pair joins.

    Plan: ONE groupBy(shingle) yields each shingle's min id (uniform
    md5-free keys, vocab-sized output), joined back to the doc-shingle
    pairs for a per-doc mean — two bounded shuffles, no pair term.
    """
    sh = pins.cache(doc_shingles(df, id_col=id_col, text_col=text_col, n=n))
    first = sh.groupBy("shingle").agg(F.min(id_col).alias("_first"))
    novel = F.when(F.col("_first") == F.col(id_col), 1).otherwise(0)
    return (
        sh.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 4).alias("novelty"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """Cross-document exact SUBSTRING dedup (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array family, re-expressed for a shuffle-bounded engine):
    find every maximal token span that occurs verbatim at least
    ``min_occurrences`` times anywhere in the corpus — the dedup
    modality that catches boilerplate and quoted passages doc-level
    near-dup misses entirely.

    Spelling: instead of a global suffix array (which needs the corpus
    concatenated and sorted in one address space), each doc emits one
    fingerprint per ``window``-token sliding position (md5 of the
    space-joined window — engine-portable, so the DuckDB oracle
    reproduces it); a fingerprint seen ≥ min_occurrences times marks
    its windows duplicated, exactly as in the suffix-array method any
    duplicated substring of length ≥ window marks all its length-
    ``window`` subwindows; overlapping/adjacent duplicated windows then
    merge per doc into maximal spans (gaps-and-islands over start
    positions: a new island starts when the gap exceeds ``window``).

    Scale shape: the window explode is map-local (≤ |tokens| rows per
    doc); ONE groupBy(fp) counts occurrences (md5 keys — uniform, no
    skew); the semi-join back is fp-partitioned; the island merge
    windows per doc (bounded by doc length). Shuffled rows are bounded
    by corpus token count, and the output by |duplicated spans| — no
    pairwise term anywhere, unlike the similarity joins.

    Returns (id, span_start, span_end, span_tokens), 1-based inclusive
    token positions.
    """
    from pyspark.sql.window import Window

    from ..tuning import spread_for_map

    W = int(window)
    toks_df = spread_for_map(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    # Spark's sequence(start, stop) rejects stop < start, so guard the
    # short-doc case to an empty window list (mirrors the oracle's
    # empty generate_series)
    fps = F.when(
        F.size("_toks") >= W,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (W - 1)),
            lambda p: F.md5(F.concat_ws(" ", F.slice("_toks", p, W))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = pins.cache(  # two consumers: the frequency agg and the semi-join
        toks_df.select(F.col(id_col), F.posexplode(fps).alias("pos0", "fp"))
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("fp"))
    )
    dupfp = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("fp")
    )
    dup = wins.join(dupfp, "fp", "left_semi")
    w_pos = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        dup.withColumn("_prev", F.lag("pos").over(w_pos))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > W),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("_new").over(
                w_pos.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(W - 1)).alias("span_end"),
        )
        .select(
            F.col(id_col),
            F.col("span_start"),
            F.col("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def drop_duplicate_spans(
    df: DataFrame,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """Companion rewrite step: cut every duplicated span out of each
    doc's token stream, keeping the first corpus occurrence intact is
    NOT attempted (Lee et al. drop all but one occurrence globally,
    which needs an ordering authority; the standard large-scale
    simplification — also what most reimplementations ship — removes
    every duplicated span and keeps singleton text). Docs with no
    duplicated span pass through unchanged."""
    spans = duplicate_spans(df, window, id_col, text_col, min_occurrences)
    cut = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks_df = df.select(
        F.col(id_col), F.col(text_col), tokens(F.col(text_col)).alias("_toks")
    )
    joined = toks_df.join(cut, id_col, "left")
    keep = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p")),
        ),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["p"] >= sp["span_start"])
            & (s["p"] <= sp["span_end"]),
        ),
    )
    out_text = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(" ", F.transform(keep, lambda s: s["t"]))
    )
    return joined.select(F.col(id_col), out_text.alias("text"))


def minhash_estimate_errors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash calibration check: for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (matching components / k)
    against the EXACT shingle-set Jaccard — the measurement that tells
    an operator whether k and the banding are tuned for the corpus
    (estimate error scales ~1/√k; ghost candidates show up as high
    estimate / low exact rows).

    Scale shape: ONE groupBy(id) over the distinct-shingle scan yields
    the k min-signature components AND the sorted verify array (MIN
    over the distinct set equals MIN over the multiset, so signatures
    lose nothing); the cached aggregate feeds the pairs sharing a band
    (candidate generation, the standard LSH equi-join) and BOTH sides
    of the per-candidate join — signature comparison (k integer
    equality checks per CANDIDATE, not per corpus pair) and the exact
    `array_intersect` Jaccard ride the same two joins. Output is
    |candidates| rows.
    """
    sh = doc_shingles(df, id_col=id_col, text_col=text_col, n=n)
    staged = sh.select(
        F.col(id_col),
        F.col("shingle"),
        (md5_hash64(F.col("shingle")) % MINHASH_PRIME).alias("_hb"),
    )
    aggs = []
    for i in range(k):
        ca, cb = minhash_coeff(i)
        aggs.append(
            F.min((F.lit(ca) * F.col("_hb") + F.lit(cb)) % MINHASH_PRIME).alias(
                f"m{i}"
            )
        )
    aggs.append(F.sort_array(F.collect_list("shingle")).alias("arr"))
    sigs = pins.cache(staged.groupBy(id_col).agg(*aggs))
    cand = (
        pairs_sharing_key(
            minhash_band_keys(sigs, id_col, k, bands), id_col, ["band", "band_key"]
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("arr").alias("arr_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("arr").alias("arr_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    )
    est = matches / F.lit(k)
    c = F.size(F.array_intersect("arr_a", "arr_b"))
    exact = c / (F.size("arr_a") + F.size("arr_b") - c)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 4).alias("jaccard"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )
