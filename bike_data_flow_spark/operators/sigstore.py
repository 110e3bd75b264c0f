"""Incremental MinHash-LSH dedup against a PERSISTED signature store.

How a 100 TB pipeline actually runs dedup daily: the corpus's LSH band
keys are computed once and committed as a snapshot table
(operators/snapshots.py — atomic versioned manifests, time travel,
race-safe publish); each new batch (Δ) minhashes ITS OWN documents
only and probes the store with the band equi-join, so per-day work is
O(|Δ| shingles + band matches) instead of a full-corpus rescan.
Candidate semantics are exactly the batch operator's
(dedup.minhash_lsh_candidates): the store holds the same
(doc_id, band, band_key) rows that operator derives, so
    probe(Δ, store)  ≡  full-corpus LSH pairs restricted to pairs
                         touching Δ
— the contract the incremental-maintenance test and the
``incremental_dedup_pairs`` oracle pin.

Scale notes:
- The store is rows, not state: band keys append per batch
  (snapshot append = manifest union, no rewrite); compaction and
  expiry come free from snapshots.py (snapshot_compact round-trips
  the table's meta and layout — sibling maintenance marker).
- The store persists in the shard layout of shards.py, keyed on the
  combined band key mod SIGSTORE_SHARDS: Δ's occupied shards prune the
  store scan at the FILE LISTING level (PartitionFilters) before
  anything is read, the same two-layer prune the vector index
  (vecstore.py) gets. Honest cost accounting: each doc emits
  ~MINHASH_BANDS band keys, so a DAILY-sized Δ occupies every shard
  and the directory skip is nil there (the bloom still does the
  map-side work); the prune pays off for SMALL probes — exactly the
  per-micro-batch Δs of the foreachBatch monitoring loop
  (streaming/store_probe.py), where a handful of docs touch a
  handful of shards and the store scan shrinks by up to the shard
  count. The count itself is a recorded-at-init runtime dial
  (SIGSTORE_SHARDS) so file granularity tracks corpus size.
- A bloom filter over the store's combined band keys broadcasts to the
  probe side and drops non-colliding Δ keys MAP-SIDE before the
  shuffle join (most new docs collide with nothing — that is the
  point of dedup). False positives just reach the exact equi-join;
  false negatives cannot occur, so results are unchanged.
- The bloom is PERSISTED (sibling one-row snapshot table) and
  maintained by OR-merging each admitted Δ's bitmap — a probe never
  scans the store to build its prefilter, which at 100 TB would be a
  daily TBs-of-band-keys scan. Commit order is bloom-then-append, so
  a crash between the two errs on false positives, never negatives.
  The merge is a compare-and-swap loop (snapshot_write
  ``expected_version``): two concurrent admitters re-read and re-merge
  on conflict, so neither's bits can be lost to a read-modify-write
  race — a lost bit would be a PERMANENT false negative, the one
  failure mode the design forbids.
- Bloom lifecycle invariants (see tests/test_sigstore.py):
  * ``expire_snapshots`` on the MAIN store never touches the sibling
    bloom — and must not: the bloom is a monotone superset of every
    retained store version's keys, so probes against any time-traveled
    version stay correct (extra bits = false positives only).
  * A store REBUILD must go through ``signature_store_init``, which
    resets the sibling bloom from the new corpus — a raw overwrite of
    the store alone would leave the old superset bloom growing
    forever (still correct, monotonically less selective).
- Contract: Δ's ids are disjoint from the store's (the ingest layer's
  duplicate-payload gate guarantees exactly-once admission upstream).
  ``commit=True`` admission remains single-admitter-per-batch at the
  STORE-append level (a concurrent duplicate admission errs loudly on
  the version fence, never corrupts); only the derived bloom state is
  CAS-merged, because there a lost update would corrupt silently.

Reference parity: the reference has no incremental dedup — this is a
north-star extension; semantics anchor to dedup.minhash_lsh_candidates
which mirrors the reference's batch near-dup intent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import overlap
from . import pins
from .bloom import (
    BLOOM_BITS_DEFAULT,
    BLOOM_K_DEFAULT,
    bloom_build,
    with_bloom_flag,
)
from .dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    minhash_band_keys,
    minhash_signatures,
)
from .joins import pairs_sharing_key
from .shards import append_sharded, read_pruned, with_shard, write_sharded
from .snapshots import (
    SnapshotConflictError,
    current_version,
    latest_meta,
    snapshot_read,
    snapshot_write,
    txn_committed,
)

# Shard count of the band-key store (shards.py): pmod of the combined
# band key, NOT the raw key space (band_key cardinality is unbounded,
# far too many directories). Mirrors vecstore.VECSTORE_SHARDS with one
# difference: band keys are hash-uniform, so EVERY shard is occupied
# even for a tiny corpus (vecstore's dirs are bounded by 2^planes
# instead) — the shard count is therefore a RUNTIME DIAL, read at
# store-INIT time and RECORDED in the manifest. Gate-scale
# default 32 keeps per-commit file counts commensurate with the
# corpus; a 100 TB deployment dials it up (e.g. 1024) so tiny
# monitoring Δs skip proportionally more of the file listing.
SIGSTORE_SHARDS = 32

# Bloom geometry dial — RECORDED on the bloom table at init, like the
# shard modulus: probes and merges always use the recorded (bits, k),
# so redialing never corrupts an existing bloom (an OR-merge of
# bitmaps only means "union" when both sides share bits AND hash
# count). Why it must be a dial at all: a fixed 2^21-bit bitmap
# SATURATES as the store grows — at ~10^9 band keys every bit is set,
# the FP rate hits 1.0, and the prefilter silently degrades to a
# pass-through (correct, but the map-side drop the design pays for is
# gone). Size ~10 bits/key for ~1% FP at k=4; watch bloom_saturation()
# and REBUILD (signature_store_init) at a bigger dial past ~0.5.
SIGSTORE_BLOOM_BITS = BLOOM_BITS_DEFAULT
SIGSTORE_BLOOM_K = BLOOM_K_DEFAULT


def _bloom_table(table_dir: str) -> str:
    """Sibling snapshot table holding ONE row: the store's combined
    band-key bloom bitmap. Persisted so a probe never scans the store
    to build its prefilter (at 100 TB the store itself is TBs of band
    keys — rescanning it per daily probe would defeat the whole
    incremental contract); maintained by OR-merging each admitted Δ's
    bitmap (bitmap of a union IS the bitwise OR of the bitmaps, same
    bits/k/hashes, so the stored bloom stays exactly equal to one
    built from scratch — pinned by tests/test_sigstore.py)."""
    return table_dir.rstrip("/") + "_bloom"


def _or_blooms(a, b):
    """Elementwise OR of two one-row [bloom: array<long>] frames."""
    return a.crossJoin(b.select(F.col("bloom").alias("_b2"))).select(
        F.zip_with(
            "bloom", "_b2", lambda x, y: x.bitwiseOR(y)
        ).alias("bloom")
    )


def _key():
    """band_key < 2^46 (base-31 Horner over 4 longs < 2^31) and band <
    MINHASH_BANDS, so band_key * MINHASH_BANDS + band is a
    collision-free combine well inside BIGINT — the bloom's probe
    value and the shard key. (Built lazily: Columns need a live
    SparkContext.)"""
    return F.col("band_key") * F.lit(MINHASH_BANDS) + F.col("band")


def _combine():
    """The combined band key as the bloom's ``_bk_comb`` column."""
    return _key().alias("_bk_comb")


def bloom_geometry(table_dir: str) -> tuple[int, int]:
    """(bits, k) the sibling bloom was built with (manifest property).
    Every probe and every OR-merge MUST use these — bitmaps of
    different geometry do not compose. A store without a bloom table
    was not built by signature_store_init and is refused."""
    m = latest_meta(_bloom_table(table_dir))
    if "bits" not in m:
        raise ValueError(
            f"{table_dir} has no bloom table: build the store with "
            "signature_store_init"
        )
    return m["bits"], m["k"]


def bloom_saturation(spark: SparkSession, table_dir: str) -> float:
    """Fraction of SET bits in the persisted bloom — the operational
    health dial for the prefilter: expected FP rate ≈ saturation^k, so
    ~0.5 means ~6% at k=4 and rising fast; past that, rebuild the
    store (signature_store_init) under a bigger SIGSTORE_BLOOM_BITS.
    One one-row aggregate over the persisted bitmap — no store scan."""
    bits, _k = bloom_geometry(table_dir)
    row = (
        snapshot_read(spark, _bloom_table(table_dir))
        .select(
            F.aggregate(
                F.transform(F.col("bloom"), lambda w: F.bit_count(w)),
                F.lit(0),
                lambda a, b: a + b,
            ).alias("set_bits")
        )
        .first()
    )
    return row["set_bits"] / bits


def band_keys_for(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(id, band, band_key, _shard) — the store's row format: the batch
    operator's band rows plus the shard column (shards.py) under the
    CURRENT dial; reads and writes of an existing store re-derive it
    under the store's recorded modulus."""
    rows = minhash_band_keys(
        minhash_signatures(docs, id_col, text_col, n, k), id_col, k, bands
    )
    return with_shard(rows, _key(), SIGSTORE_SHARDS)


@pins.scope()
def signature_store_init(
    docs: DataFrame,
    table_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Bootstrap (or RESET) the store from a corpus; returns version.
    Also bootstraps/resets the sibling bloom table. Resetting the
    bloom here is the rebuild invariant: the old bloom covered the old
    corpus's keys and must not survive an overwrite, or it grows into
    an ever-less-selective superset.

    The band rows are minhashed ONCE (localCheckpoint) and feed BOTH
    writes, which then run in overlap: they are independent
    outputs of the same pinned rows, and overwrite-bootstrap has no
    bloom-before-append ordering constraint (that invariant belongs to
    admit_delta, where a store append must never outrun its bloom
    bits — here both tables flip atomically to freshly built state).
    Building the bloom from the pinned rows instead of re-reading the
    freshly written store is content-identical (the written store IS
    those rows) and drops the bootstrap-time store rescan. The store
    version the bloom covers is resolved BEFORE the threads launch
    (version = current + 1 under this writer's single-bootstrap
    contract — snapshots.snapshot_write numbers overwrites the same
    way). The store is written one file per shard (shards.py)."""
    n_shards = SIGSTORE_SHARDS
    bits, bk = SIGSTORE_BLOOM_BITS, SIGSTORE_BLOOM_K
    rows = pins.checkpoint(band_keys_for(docs, id_col, text_col))
    next_version = (current_version(table_dir) or 0) + 1

    def _write_store() -> int:
        return write_sharded(
            rows, _key(), table_dir, n_shards,
            {"format": "minhash_band_keys", "k": MINHASH_K,
             "bands": MINHASH_BANDS},
        )

    def _write_bloom() -> int:
        return snapshot_write(
            bloom_build(
                rows.select(_combine()), F.col("_bk_comb"),
                num_bits=bits, k=bk,
            ),
            _bloom_table(table_dir),
            mode="overwrite",
            meta={"covers_store_version": next_version,
                  "bits": bits, "k": bk},
        )

    with overlap() as submit:
        store_fut = submit(_write_store)
        submit(_write_bloom)
    # self-check the predicted stamp (ADVICE r12): under the
    # single-bootstrap contract the store write MUST land exactly on
    # next_version — if a concurrent writer (or a crashed writer's
    # recovered orphan manifest) moved the pointer between the predict
    # and the write, the bloom's covers_store_version meta is stale and
    # silently wrong; fail loudly instead.
    if store_fut.result() != next_version:
        raise SnapshotConflictError(
            f"signature_store_init bootstrap raced another writer on "
            f"{table_dir}: predicted store version {next_version}, write "
            f"landed at {store_fut.result()} — the bloom's "
            "covers_store_version meta is stale; re-run the bootstrap"
        )
    return store_fut.result()


def _commit_bloom_merge(
    spark: SparkSession,
    bloom_dir: str,
    delta_bloom: DataFrame,
    store_version: int | None,
    max_retries: int = 8,
) -> int:
    """OR the Δ bitmap into the persisted bloom under a CAS loop: read
    the bloom AND its version, merge, publish conditional on that
    version still being current (snapshot_write expected_version).
    A concurrent admitter that slipped in between forces a re-read +
    re-merge, so the final bitmap is the OR of EVERY admitted Δ — the
    uncoordinated overwrite this replaces could drop a concurrent Δ's
    bits and silently suppress its candidate pairs forever."""
    for _ in range(max_retries):
        bv = current_version(bloom_dir)
        # carry the bloom's GEOMETRY properties forward — the merge
        # meta must not displace bits/k (every later probe and merge
        # derives them from the manifest)
        props = {
            k: v
            for k, v in latest_meta(bloom_dir).items()
            if k in ("bits", "k")
        }
        merged = _or_blooms(snapshot_read(spark, bloom_dir), delta_bloom)
        try:
            return snapshot_write(
                merged,
                bloom_dir,
                mode="overwrite",
                # written BEFORE the store append, so the bloom covers
                # the current store version PLUS the in-flight Δ
                meta={
                    **props,
                    "includes_delta_beyond_store_version": store_version,
                },
                expected_version=bv or 0,
            )
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"bloom merge for {bloom_dir} lost {max_retries} consecutive CAS "
        "rounds — admission concurrency is far above design; serialize "
        "the admitters or raise max_retries"
    )


def probe_store_pairs(
    spark: SparkSession,
    delta: DataFrame,
    table_dir: str,
    id_col: str = "doc_id",
    use_bloom: bool = True,
) -> DataFrame:
    """Δ×store candidate pairs from PRECOMPUTED Δ band-key rows (the
    ``band_keys_for`` format, ideally localCheckpointed by the caller).
    Two prunes before the equi-join shuffles anything: the store is
    read from Δ's occupied shards only (shards.read_pruned,
    PartitionFilters), and the persisted bloom drops non-colliding Δ
    keys map-side. The building block both the batch entry point
    (incremental_lsh_pairs) and the streaming foreachBatch probe
    (streaming/store_probe.py) share — one minhash pass per batch."""
    store = read_pruned(spark, table_dir, delta, _key())

    probe = delta
    if use_bloom:
        # the persisted one-row bitmap — NO store scan per probe.
        # Geometry comes from the bloom MANIFEST, never the current
        # dial — probing a bitmap under the wrong (bits, k) would
        # manufacture false negatives.
        bits, bk = bloom_geometry(table_dir)
        probe = (
            with_bloom_flag(
                delta, snapshot_read(spark, _bloom_table(table_dir)),
                _combine(), num_bits=bits, k=bk, flag="_hit",
            )
            .filter(F.col("_hit"))
            .drop("_hit")
        )

    return (
        probe.select(F.col(id_col).alias("_did"), "band", "band_key")
        .join(
            store.select(F.col(id_col).alias("_sid"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select(
            F.least("_did", "_sid").alias("id_a"),
            F.greatest("_did", "_sid").alias("id_b"),
        )
    )


def admit_delta(
    spark: SparkSession,
    delta: DataFrame,
    table_dir: str,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Admit PRECOMPUTED Δ band-key rows into the store: CAS-merge Δ's
    bitmap into the persisted bloom, and only then let the store append
    become VISIBLE — a crash in between leaves extra bits in the bloom
    (false positives, absorbed by the exact join); the reverse order
    could leave admitted keys missing from it, and a bloom false
    NEGATIVE would silently drop real candidates forever. Returns the
    new store version, or None for an empty Δ (no version bump for a
    no-op batch) or a replayed ``txn``. ``txn`` = (app_id, batch id) is
    a streaming caller's fence (snapshots.txn_committed), checked
    before anything else: a replay starts no job and merges no bits.

    The two commits are FUSED for wall time: the bloom CAS runs in
    overlap with the append's data write, and the append's manifest
    publish gates on the bloom commit (snapshot_write
    ``publish_gate``). The bloom-never-lags invariant
    is about VISIBILITY order, not data-write order: the append's data
    files are unreferenced until the pointer flips, so every crash
    cut leaves exactly the same observable states as the old serial
    order — (bloom unchanged, store unchanged) before the bloom
    commit, (extra bloom bits, store unchanged) after it — plus inert
    unreferenced data files, the same garbage class a crashed serial
    writer already leaves."""
    if txn_committed(table_dir, txn) or delta.isEmpty():
        return None
    bits, bk = bloom_geometry(table_dir)  # recorded, never the dial
    # lazy on purpose: the bitmap evaluates inside the CAS write's
    # plan, so the admission pays ONE action here, not a pinning
    # action plus the write; a CAS retry (rare — contended concurrent
    # admitters only) recomputes the same deterministic aggregate from
    # the caller-pinned delta rows
    delta_bloom = bloom_build(
        delta.select(_combine()), F.col("_bk_comb"), num_bits=bits, k=bk
    )
    with overlap() as submit:
        bloom_fut = submit(
            _commit_bloom_merge, spark, _bloom_table(table_dir), delta_bloom,
            current_version(table_dir),
        )
        # happens-before fence: the append is visible only after the
        # bloom commit succeeded; a bloom failure abandons the append
        # before any metadata exists
        return append_sharded(
            delta, _key(), table_dir, txn, publish_gate=bloom_fut.result
        )


def expire_store(table_dir: str, keep_last: int = 2) -> dict:
    """Coherent retention maintenance for the store AND its sibling
    bloom in one call (``expire_snapshots`` on the main store alone
    never touches the bloom — correct, but the bloom table gains one
    manifest per admission and needs its own expiry eventually).
    Safe by the module's lifecycle invariants: the bloom is a monotone
    superset of every retained store version's keys, so expiring OLD
    bloom versions changes no probe, and time travel to any RETAINED
    store version pairs with the current (superset) bloom — false
    positives only, absorbed by the exact join.
    Returns {"store": [...], "bloom": [...]} expired version lists."""
    from .snapshots import expire_snapshots

    return {
        "store": expire_snapshots(table_dir, keep_last),
        "bloom": expire_snapshots(_bloom_table(table_dir), keep_last),
    }


def incremental_lsh_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    table_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    commit: bool = True,
    use_bloom: bool = True,
    include_within: bool = True,
    delta_rows: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) that TOUCH the
    new batch: Δ×store band collisions plus (``include_within``) Δ×Δ
    collisions — without rescanning the stored corpus.
    ``include_within=False`` returns the Δ×store arm only — the
    monitoring-probe shape (streaming foreachBatch), where within-batch
    pairs belong to the admission loop that will commit the batch.

    ``commit=True`` appends Δ's band keys to the store in the same
    call (the daily-ingest shape: probe, then admit), so consecutive
    calls maintain the store incrementally. Δ's keys are pinned with an
    eager localCheckpoint first — the probe, both reads of the Δ×Δ
    pairs_sharing_key join, and the commit all read the pinned rows,
    so the shingle→minhash pipeline runs exactly once per batch and
    the commit cannot observe a different recomputation than the
    probe did. An EMPTY Δ commits
    nothing (no version bump for a no-op day).

    ``delta_rows``: precomputed (ideally pinned) ``band_keys_for``-
    format rows for Δ, replacing the in-call minhash pin — the overlap
    hook for callers whose Δ derivation is independent of other
    blocking setup (e.g. a store bootstrap on a driver thread): Δ's
    minhash is the one serial job here a caller can hoist.
    """
    delta = (
        delta_rows
        if delta_rows is not None
        else pins.checkpoint(band_keys_for(new_docs, id_col, text_col))
    )
    cross = probe_store_pairs(spark, delta, table_dir, id_col, use_bloom)
    if include_within:
        within = pairs_sharing_key(delta, id_col, ["band", "band_key"]).select(
            "id_a", "id_b"
        )
        pairs = cross.unionByName(within).distinct()
    else:
        pairs = cross.distinct()
    if commit:
        admit_delta(spark, delta, table_dir)
    return pairs
