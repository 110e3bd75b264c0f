"""Snapshot table format over plain parquet — the table-format
semantics S13 needs (reference: iceberg_assets.py persists daily
frames to Iceberg "for long-term storage and querying" with schema
evolution) without an Iceberg runtime jar:

- **snapshot isolation**: every commit writes NEW immutable data dirs
  plus a version manifest; readers resolve a manifest once and only
  ever list the dirs it names — a concurrent commit can never make a
  running query see half a table.
- **time travel**: ``read(version=N)`` pins any retained manifest.
- **append / overwrite**: an append manifest carries the previous
  manifest's dirs + the new one; an overwrite carries only the new one.
- **schema evolution**: the manifest records the TABLE schema — an
  append adds the frame's new columns to it, and one that changes an
  existing column's type is refused — and reads scan every dir with
  that schema instead of merging file footers, so rows written before a
  column existed surface it as NULL (Iceberg add-column semantics,
  which the reference relies on across daily partitions) and building
  a read starts no Spark job: the schema lives in table metadata, not
  in data files.

Commit protocol (single-writer, any-reader): data files first, then
the manifest (``_snapshots/v{N}.json``, O_EXCL-published so racing
writers cannot last-write-win a version), then the ``_LATEST`` pointer
via atomic rename. A crash at any point leaves either the old table
visible or the new one — never a partial: data dirs without a manifest
are unreachable garbage, and a fully-published manifest whose pointer
move crashed is rolled forward (the commit was already durable) by the
next snapshot_write — see _recover_orphan_manifests. Every rewrite
(merge, delete, compaction — see _rewrite) recovers FIRST, reads the
recovered head, and commits as a CAS on that head: a crashed commit's
rows and txn fence survive the rewrite, and a commit landing after the
read makes the rewrite raise SnapshotConflictError instead of being
silently overwritten.

At 100 TB: manifests store directory paths, not file lists — the
per-commit metadata is O(1); data dirs inherit whatever partitioning
the written DataFrame carries, so partition pruning still applies
under each dir. On an object store, swap the os.rename pointer commit
for a conditional put.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class SnapshotConflictError(RuntimeError):
    """A conditional commit lost: either the CAS precondition
    (``expected_version``) no longer held, or another writer published
    the same version first. The caller's move is re-read + retry —
    the table is untouched by the losing attempt."""


def _manifest_dir(table_dir: str) -> str:
    return f"{table_dir}/_snapshots"


def _pointer(table_dir: str) -> str:
    return f"{table_dir}/_LATEST"


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(f"{_manifest_dir(table_dir)}/v{version}.json", encoding="utf-8") as fh:
        return json.load(fh)


def current_version(table_dir: str) -> int | None:
    try:
        with open(_pointer(table_dir), encoding="utf-8") as fh:
            content = fh.read().strip()
    except FileNotFoundError:
        return None
    try:
        return int(content)
    except ValueError:
        # A corrupt pointer must NOT read as "no table": snapshot_write
        # would restart at version 1 and collide with the committed v1
        # manifest (an error, but a confusing one). Fail loudly instead.
        raise RuntimeError(
            f"corrupt _LATEST pointer under {table_dir}: {content!r}"
        ) from None


def _write_pointer(table_dir: str, version: int) -> None:
    """MONOTONIC visibility flip: under a short flock, re-read the
    pointer and only ever move it FORWARD. Every caller's flip is
    forward-in-truth (commit flips to the version just published,
    recovery rolls to the max durable manifest, RESTORE commits a NEW
    version referencing old dirs), so a pointer write that would
    regress is by construction a STALE writer — a zombie paused
    between its version scan and its flip while a faster writer
    recovered past it and committed. The unguarded os.replace let that
    zombie briefly regress visibility by one version (documented as
    staleness, caught live by the concurrent-orphan-recovery race
    test); the read-check-replace under the lock closes the window.
    The flock guards only this few-microsecond flip — commits still
    serialize on the O_EXCL manifest link, not on this lock. Local-fs
    primitive like the os.link fence beside it; an object-store port
    swaps both for a conditional put."""
    import fcntl

    with open(f"{_pointer(table_dir)}.lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cur = current_version(table_dir)
        if cur is not None and cur >= version:
            return
        ptmp = f"{_pointer(table_dir)}.tmp.{os.getpid()}"
        with open(ptmp, "w", encoding="utf-8") as fh:
            fh.write(str(version))
        os.replace(ptmp, _pointer(table_dir))


def _recover_orphan_manifests(table_dir: str, prev: int | None) -> int | None:
    """Complete a crashed commit's pointer move (write-path self-heal).

    A manifest publishes atomically (O_EXCL link of a fully-written
    file) BEFORE the pointer moves, so a writer that crashed between
    the two leaves a durable, complete v{N}.json with the pointer at
    N−1. Without recovery every later snapshot_write would resolve
    version N and hit the collision error forever — the table would be
    permanently unwritable (the failure mode the pre-fence os.replace
    spelling silently papered over by last-write-winning the orphan).
    Rolling the pointer FORWARD is correct because the orphan's data
    dirs and manifest are already durable: the crash interrupted only
    the visibility flip, exactly like replaying a journal tail.

    A live zombie (writer paused between its version scan and its
    pointer flip while a new writer recovers past it and commits)
    cannot regress visibility: _write_pointer is monotonic — a
    read-check-replace under a short flock skips any stale flip.
    Versions are never reused and no data is ever lost.
    """
    v = _durable_version(table_dir, prev)
    if v == (prev or 0):
        return prev
    _write_pointer(table_dir, v)
    return v


def _durable_version(table_dir: str, prev: int | None) -> int:
    """The newest manifest published at or past version ``prev`` (0 =
    none): past the pointer only when a commit died before its move."""
    v = prev or 0
    while os.path.exists(f"{_manifest_dir(table_dir)}/v{v + 1}.json"):
        v += 1
    return v


def _publish_manifest(table_dir: str, version: int, manifest: dict) -> None:
    """Atomically publish v{version}.json iff it does not exist yet
    (os.link is O_EXCL-like: hard-linking a fully-written tmp file
    either creates the name or raises). Raises RuntimeError when
    another writer won the version — the conditional-commit fence."""
    mpath = f"{_manifest_dir(table_dir)}/v{version}.json"
    tmp = f"{mpath}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        raise SnapshotConflictError(
            f"snapshot version collision at {mpath}: another writer "
            f"committed v{version} concurrently — this table requires a "
            "single active writer per commit sequence (a CRASHED writer "
            "is not the cause: its orphaned manifest self-heals at the "
            "next write start)"
        ) from None
    finally:
        os.unlink(tmp)


class ConstraintViolation(ValueError):
    """A snapshot write was refused because incoming rows violate the
    table's CHECK constraints. The table is untouched — no data dir,
    no manifest, no pointer move."""


def set_check_constraints(table_dir: str, constraints: dict[str, str]) -> None:
    """Record named CHECK constraints as a TABLE property: SQL boolean
    expressions over the table's columns that every subsequently
    written row must satisfy (Delta-style write-time enforcement —
    ``{"bikes_nonneg": "bikes >= 0", "sid_set": "station_id IS NOT
    NULL"}``). A row violates when its expression is FALSE **or
    NULL** — spell the constraint with coalesce() if NULLs should
    pass. Replaces the whole set; pass ``{}`` to drop enforcement.

    Constraints live in their own atomically-published file beside the
    manifests (like the _LATEST pointer), NOT inside any version's
    ``meta``: they are orthogonal to versions, survive maintenance
    rewrites and meta-carrying commits, and cost zero manifest bloat."""
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    path = f"{_manifest_dir(table_dir)}/_CONSTRAINTS.json"
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(constraints, fh)
    os.replace(tmp, path)


def check_constraints(table_dir: str) -> dict[str, str]:
    """The table's recorded CHECK constraints (empty if none set)."""
    path = f"{_manifest_dir(table_dir)}/_CONSTRAINTS.json"
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _validate_constraints(df: DataFrame, table_dir: str) -> None:
    """ONE aggregate pass counting violations of every constraint at
    once (map-side partials; never a pass per constraint). Costs one
    extra evaluation of ``df`` — cache upstream if it is expensive.
    At 100 TB this is the same single-scan admission audit shape as
    quality.validate, and it runs BEFORE any data file is written, so
    a refused batch leaves no garbage to collect.

    DETERMINISM REQUIREMENT: this pass and the write re-evaluate ``df``
    as two separate jobs, so a nondeterministic plan (rand(), uuid(),
    current_timestamp(), non-idempotent source reads) can pass the
    audit here yet commit DIFFERENT rows — i.e. write-time CHECK
    enforcement is silently bypassed. Callers with nondeterministic
    inputs must pin the frame (``pins.cache`` or ``pins.checkpoint``)
    before snapshot_write (same contract as Delta's CHECK + retry
    semantics)."""
    from pyspark.sql import functions as F

    cons = check_constraints(table_dir)
    if not cons:
        return
    aggs = [
        F.sum(
            F.when(F.expr(expr) == F.lit(True), 0).otherwise(1)
        ).alias(name)
        for name, expr in cons.items()
    ]
    counts = df.agg(*aggs).first()
    bad = {
        name: counts[name]
        for name in cons
        if counts[name] and counts[name] > 0
    }
    if bad:
        detail = ", ".join(
            f"{name!r} ({cons[name]}): {n} row(s)" for name, n in bad.items()
        )
        raise ConstraintViolation(
            f"write to {table_dir} refused — CHECK constraint(s) "
            f"violated: {detail}"
        )


def snapshot_write(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    meta: dict | None = None,
    partition_by: list[str] | None = None,
    expected_version: int | None = None,
    maintenance: dict | None = None,
    publish_gate=None,
) -> int:
    """Commit df as a new snapshot; returns the new version number.
    ``meta`` (JSON-able) is stored on the manifest — e.g. a streaming
    sink's batch id, which makes replayed commits detectable.

    ``partition_by`` lays the version's data out Hive-partitioned on
    the named (bounded-cardinality!) columns, so snapshot_read scans
    with an equality/IN predicate on them touch only the matching
    directories (PartitionFilters — file-listing-level pruning, the
    zone-map story one level up). The layout is a TABLE property: an
    append whose partition_by differs from the previous version's is
    refused — a mixed layout would surface the partition column as
    NULL for rows of the differently-laid dirs, silently corrupting
    reads. The schema is a table property too (see _align_to_table): an
    append may add or omit columns, not change an existing one's type.

    ``expected_version`` makes the commit a compare-and-swap: it
    succeeds only if the table is STILL at that version (0 = no table
    yet) — otherwise SnapshotConflictError, and the caller re-reads and
    retries. This is the read-modify-write fence for derived one-row
    state tables (e.g. sigstore's OR-merged bloom): without it two
    concurrent mergers can both read vN and the later overwrite drops
    the earlier one's contribution. The precondition is enforced twice:
    cheaply here before any data write, and race-free by the O_EXCL
    manifest publish (two survivors of the cheap check still target the
    same version number — exactly one link succeeds).

    ``maintenance`` is stored as a SIBLING manifest field, never inside
    ``meta`` — maintenance markers (compaction) must not displace the
    table properties ``meta`` carries (a store's planes/dim dials), and
    ``latest_meta`` consumers must keep seeing those properties across
    maintenance commits.

    ``publish_gate`` (callable, optional) runs AFTER the data write but
    BEFORE the manifest publish / pointer flip. It is the
    happens-before hook for cross-table ordering invariants: a caller
    that must commit table B before THIS commit becomes visible (e.g.
    sigstore's bloom-never-lags-the-store rule) can run B's commit on a
    driver thread concurrently with this data write and pass
    ``bloom_future.result`` as the gate — the heavy data writes
    overlap, but visibility order is exactly the serial order. If the
    gate raises, this commit is abandoned BEFORE any metadata exists:
    the data dir is unreferenced garbage (same crash class as a writer
    dying mid-write, already documented below) and the table pointer
    never moves."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    prev = _recover_orphan_manifests(table_dir, current_version(table_dir))
    if expected_version is not None and (prev or 0) != expected_version:
        raise SnapshotConflictError(
            f"snapshot CAS failed for {table_dir}: expected version "
            f"{expected_version}, table is at {prev or 0} — re-read the "
            "state this commit derived from and retry"
        )
    version = 1 if prev is None else prev + 1

    layout = list(partition_by or [])
    prev_manifest = (
        _read_manifest(table_dir, prev)
        if mode == "append" and prev is not None
        else None
    )
    if prev_manifest is not None:
        prev_layout = prev_manifest.get("partition_by", [])
        if prev_layout != layout:
            raise ValueError(
                f"snapshot table {table_dir} is laid out "
                f"partition_by={prev_layout}, append requested {layout}: "
                "layouts must match (mixed layouts read the partition "
                "column as NULL for the other dirs) — overwrite to relay"
            )
    df, schema = _align_to_table(df, table_dir, prev_manifest)

    # CHECK constraints gate NEW data only: maintenance commits
    # (compaction/zorder) rewrite rows that were validated when first
    # admitted, so re-validating would double the rewrite's cost for
    # nothing — and constraints ADDED after bad data landed must not
    # brick OPTIMIZE (they gate future writes, not history).
    if maintenance is None:
        _validate_constraints(df, table_dir)

    # per-attempt unique dir: two writers racing toward the same version
    # can never clobber each other's DATA — the loser's files become
    # unreachable garbage when its manifest publish fails below, and a
    # crashed attempt's files are likewise simply never referenced.
    import uuid

    rel_dir = f"data/v{version}-{uuid.uuid4().hex[:8]}"
    data_dir = f"{table_dir}/{rel_dir}"
    writer = df.write.mode("overwrite")
    if layout:
        writer = writer.partitionBy(*layout)
    writer.parquet(data_dir)

    if publish_gate is not None:
        publish_gate()

    dirs = [rel_dir]
    if prev_manifest is not None:
        dirs = prev_manifest["dirs"] + dirs
    manifest = {
        "version": version,
        "mode": mode,
        "dirs": dirs,
        "committed_at_unix": int(time.time()),
        "schema": schema,
        "meta": meta or {},
        "partition_by": layout,
    }
    if maintenance:
        manifest["maintenance"] = maintenance
    # conditional commit: the publish succeeds iff v{N}.json does not
    # exist yet, so two writers that both resolved prev=N-1 (e.g. a
    # zombie driver racing its replacement) cannot last-write-win each
    # other — the loser errors here, before the pointer moves, and its
    # unreferenced data dir is inert garbage.
    _publish_manifest(table_dir, version, manifest)
    _write_pointer(table_dir, version)  # the visibility flip
    return version


def _nullable(schema_json):
    """A schema's JSON with every nullability flag set: the form two
    types are compared in (nullability ignored), and the form a
    Parquet scan returns (the file source reads every field nullable)."""
    if isinstance(schema_json, dict):
        return {
            k: True
            if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v)
            for k, v in schema_json.items()
        }
    if isinstance(schema_json, list):
        return [_nullable(v) for v in schema_json]
    return schema_json


# lossless widenings an append is cast through to the table's type
# (a per-dir union of the two files would widen the same way)
_WIDENS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"), ("integer", "long"),
    ("float", "double"),
}


def _align_to_table(
    df: DataFrame, table_dir: str, prev_manifest: dict | None
) -> tuple[DataFrame, dict]:
    """The frame to write and the TABLE schema (JSON) the new manifest
    records. An overwrite (``prev_manifest`` None) records the frame's
    schema. An append records the previous table schema plus the
    frame's new columns, in order, so a column the frame omits stays in
    the table and reads NULL for the frame's rows (Iceberg add-column
    semantics); a column the frame carries in a narrower type (int into
    a long column) is cast up to the table's. Any other type change of
    an existing column (nullability aside) is refused here, before any
    data write — the table is untouched; committing it would leave
    files no single read schema covers."""
    if prev_manifest is None:
        return df, df.schema.jsonValue()
    table = prev_manifest["schema"]
    known = {f["name"]: f["type"] for f in table["fields"]}
    incoming = df.schema.jsonValue()["fields"]
    changed = {
        f["name"]: (known[f["name"]], f["type"])
        for f in incoming
        if f["name"] in known
        and _nullable(known[f["name"]]) != _nullable(f["type"])
    }
    clash = [
        f"{name}: table {want}, append {got}"
        for name, (want, got) in changed.items()
        if (got, want) not in _WIDENS
    ]
    if clash:
        raise ValueError(
            f"snapshot table {table_dir} append refused — column type(s) "
            f"differ from the table schema: {'; '.join(clash)} "
            "(cast the frame, or overwrite to change a type)"
        )
    if changed:
        from pyspark.sql import functions as F

        df = df.select(
            *[
                F.col(c).cast(changed[c][0]).alias(c) if c in changed else c
                for c in df.columns
            ]
        )
    return df, {
        **table,
        "fields": table["fields"]
        + [f for f in incoming if f["name"] not in known],
    }


def snapshot_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at a pinned version (time travel) or the latest.

    Every dir is read with the manifest's recorded table schema, so
    building the frame starts no Spark job (a schema-inferring or
    ``mergeSchema`` read opens file footers in a job per dir, a cost
    that grew with every append). Rows written before a column existed
    read it as NULL; partition columns take their recorded type, not
    the one Hive directory-name inference would guess (a string column
    holding '2024-01-01' is not a DATE); a fileless dir (a partitionBy
    write of zero rows leaves only _SUCCESS) reads as zero rows."""
    from pyspark.sql.types import StructType

    if version is None:
        version = current_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    manifest = _read_manifest(table_dir, version)
    layout = manifest.get("partition_by") or []
    fields = StructType.fromJson(_nullable(manifest["schema"])).fields
    # partition columns last, where a partitioned scan puts them, so a
    # fileless dir's frame lines up with the others
    schema = StructType(
        [f for f in fields if f.name not in layout]
        + [f for f in fields if f.name in layout]
    )
    paths = [f"{table_dir}/{d}" for d in manifest["dirs"]]
    read = spark.read.schema(schema).parquet
    if len(paths) > 1 and layout:
        # partition discovery refuses multiple roots whose own names
        # differ (CONFLICTING_DIRECTORY_STRUCTURES): read each version
        # dir as its own base and union — per-root PartitionFilters
        # pruning still applies to every branch
        return reduce(DataFrame.unionByName, [read(p) for p in paths])
    return read(*paths)


def _head(table_dir: str) -> dict:
    """The current manifest ({} if no table yet)."""
    v = current_version(table_dir)
    return {} if v is None else _read_manifest(table_dir, v)


def latest_meta(table_dir: str) -> dict:
    """The `meta` dict of the current manifest ({} if no table yet).
    Older manifests (pre-meta) read as {} too."""
    return _head(table_dir).get("meta", {})


def last_txn_version(table_dir: str, app_id: str) -> int | None:
    """Highest committed transaction version for a writer (Delta-style
    txn fencing: meta carries ``txn_app_id``/``txn_version``). Scans
    newest-to-oldest and stops at the FIRST manifest carrying the
    writer's app id — a single writer commits its txn versions in
    snapshot-version order, so the newest hit is the highest; the scan
    still walks past interleaved commits from other writers (their
    appends record their own txn keys or none), which therefore can
    never disarm the fence. Maintenance commits (compaction, merge,
    delete, restore) repeat the head's txn keys, so they can neither
    disarm nor rewind it. Long-lived streams pay O(commits since this
    writer's last commit) manifest reads per fence check, not O(V).

    The scan starts at the newest DURABLE manifest, not the pointer: a
    commit that died between its manifest publish and its pointer move
    is rolled forward by the next write, so its txn is committed and
    its replay must be fenced.

    Retention contract: the fence only sees RETAINED manifests, so
    ``expire_snapshots`` retention must exceed the maximum stream
    downtime — expiring ALL of a writer's manifests while its stream is
    down disarms the fence and a replayed batch would commit twice."""
    latest = _durable_version(table_dir, current_version(table_dir))
    for v in range(latest, 0, -1):
        try:
            meta = _read_manifest(table_dir, v).get("meta", {})
        except FileNotFoundError:
            continue  # expired
        if meta.get("txn_app_id") == app_id:
            tv = meta.get("txn_version")
            if tv is not None:
                return tv
    return None


def txn_committed(table_dir: str, txn: tuple[str, int] | None) -> bool:
    """The one replay check: True when this writer's ``txn`` = (app_id,
    version) is at or below its last committed version. ``None`` (an
    unfenced writer) is never a replay."""
    if txn is None:
        return False
    last = last_txn_version(table_dir, txn[0])
    return last is not None and txn[1] <= last


def _properties(meta: dict) -> dict:
    """A manifest's ``meta`` minus the txn keys of the writer that made
    it: the table properties (a store's dials) later commits carry."""
    return {k: v for k, v in meta.items() if not k.startswith("txn_")}


def snapshot_append(
    df: DataFrame,
    table_dir: str,
    txn: tuple[str, int] | None = None,
    publish_gate=None,
) -> int:
    """The one append path of every incremental writer (the streaming
    sink, both store admissions); returns the new version. From one
    read of the head manifest it keeps the recorded ``partition_by``,
    repartitioned on so each Hive dir gets one file per commit, and
    carries the head's properties plus this writer's ``txn`` keys —
    never a previous writer's. Callers check ``txn_committed`` first;
    ``publish_gate`` is snapshot_write's."""
    head = _head(table_dir)
    layout = head.get("partition_by", [])
    meta = _properties(head.get("meta", {}))
    if txn is not None:
        meta["txn_app_id"], meta["txn_version"] = txn
    if layout:
        df = df.repartition(*layout)
    return snapshot_write(
        df,
        table_dir,
        mode="append",
        meta=meta,
        partition_by=layout,
        publish_gate=publish_gate,
    )


def _retained_versions(table_dir: str) -> list[int]:
    """Every version whose manifest is on disk, oldest first: the one
    listing of ``_snapshots/v*.json``. The sequence has gaps after
    expire_snapshots, and a commit whose pointer move crashed is listed
    past the pointer (it is durable; the next write makes it the head)."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def snapshot_history(table_dir: str) -> list[dict]:
    """Commit log, oldest RETAINED first: version, mode, dir count,
    timestamp. Versions removed by expire_snapshots are skipped —
    the sequence is not contiguous after maintenance."""
    out = []
    for v in _retained_versions(table_dir):
        m = _read_manifest(table_dir, v)
        out.append(
            {
                "version": m["version"],
                "mode": m["mode"],
                "n_dirs": len(m["dirs"]),
                "committed_at_unix": m["committed_at_unix"],
            }
        )
    return out


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop manifests (and data dirs no retained manifest references)
    older than the newest ``keep_last`` versions — Iceberg's
    expire_snapshots maintenance action. Returns expired versions."""
    import shutil

    latest = current_version(table_dir)
    if latest is None or keep_last < 1:
        return []
    cutoff = latest - keep_last + 1
    versions = _retained_versions(table_dir)
    live_dirs = {
        d
        for v in versions
        if v >= cutoff
        for d in _read_manifest(table_dir, v)["dirs"]
    }
    expired = [v for v in versions if v < cutoff]
    for v in expired:
        dirs = _read_manifest(table_dir, v)["dirs"]
        # manifest FIRST, data after: a crash mid-expiry then leaves
        # only unreachable garbage, never a readable-looking version
        # whose data is gone (the module's crash contract).
        os.remove(f"{_manifest_dir(table_dir)}/v{v}.json")
        for d in dirs:
            full = f"{table_dir}/{d}"
            if d not in live_dirs and os.path.isdir(full):
                shutil.rmtree(full)
    return expired


def _rewrite(spark: SparkSession, table_dir: str, rows, maintenance=None) -> int:
    """The one rewrite path (merge, delete, compaction): recover a
    crashed commit, read the recovered head once, commit
    ``rows(head_df, layout)`` as an OVERWRITE snapshot; returns the new
    version. Raises ValueError when there is no table.

    Head after recovery: a commit whose pointer move crashed is durable
    (its txn is already fenced) and the write rolls it forward anyway,
    so the rewrite must start from it to keep its rows and its fence.
    The commit is a CAS on that head (``expected_version``): a commit
    landing between the read and the publish raises
    SnapshotConflictError instead of being overwritten; re-run the verb.

    Table properties round-trip: the new manifest carries the head's
    ``meta`` (properties and txn keys, so a rewrite can neither disarm
    nor rewind the fence) and ``partition_by`` verbatim — a rewrite
    changes rows, never the table's layout or recorded properties.
    ``maintenance(head)`` is the sibling marker a maintenance commit
    records (it also skips CHECK re-validation, see snapshot_write)."""
    head = _recover_orphan_manifests(table_dir, current_version(table_dir))
    if head is None:
        raise ValueError(f"no snapshot table at {table_dir}")
    manifest = _read_manifest(table_dir, head)
    layout = manifest.get("partition_by", [])
    return snapshot_write(
        rows(snapshot_read(spark, table_dir, head), layout),
        table_dir,
        mode="overwrite",
        meta=manifest.get("meta", {}),
        partition_by=layout,
        maintenance=maintenance(head) if maintenance else None,
        expected_version=head,
    )


def _one_file_per_dir(df: DataFrame, layout: list[str]) -> DataFrame:
    """Each Hive dir's rows in one task, so the rewrite writes one file
    per dir (the compaction write discipline)."""
    return df.repartition(*layout) if layout else df


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys,
    **merge_kwargs,
) -> int:
    """MERGE INTO the snapshot table: read the latest snapshot, apply
    SQL-MERGE semantics (operators/merge.merge_upsert — updates,
    inserts, matched-only deletes, duplicate-source-key guard), commit
    the result as a new OVERWRITE snapshot through _rewrite (properties
    and layout carried, CAS on the head it read). Readers keep snapshot
    isolation throughout, and the pre-merge version stays readable —
    i.e. a bad merge is rolled back by pinning version N-1, the
    recovery story plain-parquet MERGE lacks. Source-only columns are
    ADDED to the table (NULL for pre-existing rows) — the same
    add-column evolution an append gets from the table schema. With no
    table yet (after recovery), the source commits as version 1.
    Returns the new version.

    Cost shape: each merge rewrites the live row set (the manifest has
    no per-partition granularity), so this suits dimension/state tables
    — for fact-scale targets use merge.merge_upsert +
    enhance.write_enhanced's dynamic partition overwrite, which touch
    only changed partitions.
    """
    from pyspark.sql import functions as F

    from .merge import merge_upsert

    if not _durable_version(table_dir, current_version(table_dir)):
        return snapshot_write(
            source, table_dir, mode="overwrite", expected_version=0
        )

    def rows(target: DataFrame, layout: list[str]) -> DataFrame:
        for f in source.schema.fields:  # add-column evolution before merge:
            if f.name not in target.columns:  # merge projects target.columns
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        merged = merge_upsert(target, source, list(keys), **merge_kwargs)
        return _one_file_per_dir(merged, layout)

    return _rewrite(spark, table_dir, rows)


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change feed between two snapshots (Delta CDF analog): rows in
    `to` but not `from` tagged ``insert``, rows in `from` but not `to`
    tagged ``delete``; an update surfaces as delete+insert of the row
    images. Multiset semantics via exceptAll — duplicate rows with
    different multiplicities emit the count difference, not nothing.

    Both versions must still be retained (expire_snapshots drops old
    manifests — run the feed before maintenance, as with any CDF).

    Scale shape: two scans + two exceptAll hash anti-diffs keyed by the
    whole row; fine for daily-sized commits. For narrow-key tables,
    diff on the key columns instead (join) to avoid hashing wide rows.
    """
    if to_version is None:
        to_version = current_version(table_dir)
        if to_version is None:
            raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    from pyspark.sql import functions as F

    old = snapshot_read(spark, table_dir, from_version)
    new = snapshot_read(spark, table_dir, to_version)
    # align schemas (append-path evolution adds columns over time):
    # missing columns read as NULL on the older side
    cols = list(dict.fromkeys([*old.columns, *new.columns]))
    old = old.select(
        *[F.col(c) if c in old.columns else F.lit(None).alias(c) for c in cols]
    )
    new = new.select(
        *[F.col(c) if c in new.columns else F.lit(None).alias(c) for c in cols]
    )
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def _zorder_col(df: DataFrame, cols: list[str], bits: int):
    """Morton key over quantile-binned numeric columns — the
    arbitrary-type front end OPTIMIZE ZORDER needs on top of
    layout.zorder_key (which takes ready-made non-negative bins).
    Quantile edges (approxQuantile, one job for all columns) ride the
    plan as array literals; bin = count of edges ≤ value, so skewed
    distributions still spread across the full bin range (uniform
    width_bucket bins would collapse under skew). 2^bits bins per
    dimension; bits=8 → 255 edges/dim, well inside literal-size
    sanity."""
    from pyspark.sql import functions as F

    from .layout import zorder_key

    n_edges = (1 << bits) - 1
    probs = [i / (n_edges + 1) for i in range(1, n_edges + 1)]
    edges = df.stat.approxQuantile(cols, probs, 0.01)
    def _bin(col_name: str, arr):
        # single-arg lambda on purpose: a second (even defaulted)
        # parameter makes pyspark bind it as the (value, index) form
        return F.size(
            F.filter(arr, lambda e: F.col(col_name).cast("double") >= e)
        )

    bin_cols = [
        _bin(c, F.array(*[F.lit(float(e)) for e in es]))
        for c, es in zip(cols, edges)
    ]
    return zorder_key(bin_cols, bits)


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """OPTIMIZE: rewrite the table's live row set into ``target_files``
    files (PER PARTITION for partitioned layouts) and commit it as a
    new overwrite snapshot whose manifest carries a sibling
    ``maintenance: {"compaction": True}`` marker — the small-file
    maintenance action for append-heavy tables (every append adds a
    dir; thousands of commits mean thousands of tiny files under one
    manifest — and, for partitioned tables, an O(#appends)-branch union
    in every snapshot_read until the rewrite collapses it to one dir).

    TABLE PROPERTIES ROUND-TRIP (the r8 defect): the rewrite goes
    through _rewrite like merge and delete — compaction is maintenance,
    not a schema or property change. The compaction marker lives in the
    sibling ``maintenance`` manifest field precisely so it cannot
    displace properties like a vector store's recorded planes/dim dials
    (the pre-fix spelling overwrote meta with the marker, which bricked
    every subsequent vecstore probe and refused partitioned appends).

    Properties the marker buys:
    - data-identical by construction (one read → repartition → write;
      nothing filters or transforms), so downstream CDF consumers have
      no change events to see: the streaming source skips compaction
      commits instead of raising its overwrite error, and appends
      continue streaming across the rewrite.
    - time travel to pre-compaction versions keeps working until
      expire_snapshots drops them (at which point the pre-compaction
      dirs become unreferenced and are reclaimed — run compact, then
      expire, to actually free the small files).

    ``zorder_by`` turns the rewrite into OPTIMIZE ZORDER (Delta's
    spelling): rows cluster on a Morton interleave of the named
    numeric columns — quantile-binned, so skew spreads — making
    parquet min/max footer stats selective for predicates on ANY of
    the dimensions. Unpartitioned tables range-partition into
    ``target_files`` files with DISJOINT key ranges (file-level
    skipping); Hive layouts keep their directory structure and
    Z-sort within each partition's file (row-group-level skipping).
    Data-identity is untouched — clustering is physical layout only,
    so the compaction marker/CDF-skip contract holds unchanged.

    Cost shape: one full read + shuffled write of the LIVE row set
    (like any OPTIMIZE; zorder adds one approxQuantile pass).
    Partitioned layouts repartition ON the layout columns, so each
    partition's rows land in one task (= one file per Hive dir at
    target_files=1, a salt fans wider) and the write parallelizes
    across partitions — never a single global funnel task (the
    pre-fix coalesce(1) pushed the whole live row set through one
    writer, a non-starter at 100 TB). Partition-scoped compaction of
    dt= zones is operators/compact.py — this is the table-format-level
    counterpart.
    """
    from pyspark.sql import functions as F

    def rows(df: DataFrame, layout: list[str]) -> DataFrame:
        if zorder_by:
            df = df.withColumn(
                "_zkey", _zorder_col(df, list(zorder_by), zorder_bits)
            )
        if layout:
            if target_files <= 1:
                df = _one_file_per_dir(df, layout)
            else:
                # deterministic-enough fan-out salt: splits each partition
                # across ≤target_files writer tasks; the write is all-or-
                # nothing into a fresh dir, so retry nondeterminism is moot
                salt = F.pmod(
                    F.xxhash64(F.spark_partition_id()), F.lit(target_files)
                )
                df = df.repartition(*layout, salt.alias("_cf_salt"))
            if zorder_by:
                df = df.sortWithinPartitions(*layout, "_zkey")
        elif zorder_by:
            # disjoint key ranges across files — the file-level skipping
            # layout; the final sort makes row groups tight too
            df = df.repartitionByRange(
                max(1, target_files), F.col("_zkey")
            ).sortWithinPartitions("_zkey")
        else:
            df = df.repartition(max(1, target_files))
        # the key is physical-layout scaffolding, not table data (drop
        # AFTER the sort: a projection does not disturb row order)
        return df.drop("_zkey") if zorder_by else df

    return _rewrite(
        spark,
        table_dir,
        rows,
        maintenance=lambda head: {
            "compaction": True,
            "compacted_from": head,
            **({"zorder_by": list(zorder_by)} if zorder_by else {}),
        },
    )


def is_compaction(table_dir: str, version: int) -> bool:
    """True iff the version is a data-preserving compaction commit (the
    sibling ``maintenance`` field's marker)."""
    m = _read_manifest(table_dir, version)
    return bool(m.get("maintenance", {}).get("compaction"))


def snapshot_delete(
    spark: SparkSession, table_dir: str, predicate: str
) -> int:
    """DELETE FROM the snapshot table: rows where ``predicate``
    evaluates TRUE are removed (NULL keeps the row, SQL DELETE
    semantics); the survivors commit as a new OVERWRITE snapshot.
    Returns the new version.

    The GDPR/right-to-erasure shape: the pre-delete version stays
    readable until ``expire_snapshots`` retires it — run expire (and
    ``snapshot_vacuum``) promptly after erasure deletes, since time
    travel IS retention. Properties round-trip like merge/compaction
    (see _rewrite), and the commit records a ``maintenance: {"delete":
    predicate}`` marker —
    which also means CHECK constraints are NOT re-validated: a delete
    can only remove rows, and a retroactive constraint that historic
    rows violate must never block erasing exactly those rows.

    Cost shape: rewrites the live row set (manifest granularity is the
    version, not the file), like snapshot_merge — suited to
    dimension/state tables; fact-scale deletes go through the dynamic
    partition overwrite path where only matching partitions rewrite.
    """
    from pyspark.sql import functions as F

    def rows(df: DataFrame, layout: list[str]) -> DataFrame:
        kept = df.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
        return _one_file_per_dir(kept, layout)

    return _rewrite(
        spark,
        table_dir,
        rows,
        maintenance=lambda head: {"delete": predicate, "deleted_from": head},
    )


def _dir_in_flight(path: str, cutoff: float) -> bool:
    """True if ``path`` may belong to a still-running writer: a
    ``_temporary`` staging subdir exists (Spark's FileOutputCommitter
    stages there without touching the top dir's mtime), or ANY entry in
    the tree was modified after ``cutoff``. A long partitioned write
    only bumps mtimes deep in partition subdirs, so the top-level mtime
    alone under-detects in-flight writers (ADVICE r9)."""
    newest = 0.0
    for root, dirs, files in os.walk(path):
        if "_temporary" in dirs or "_temporary" in files:
            return True
        for name in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:
                return True  # vanished mid-walk: a writer is active
        if newest > cutoff:
            return True
    try:
        newest = max(newest, os.path.getmtime(path))
    except OSError:
        return True
    return newest > cutoff


def _unreferenced_dirs(table_dir: str, older_than_seconds: float) -> list[str]:
    """The one orphan-dir scan: data dirs (table-relative, sorted) that
    no retained manifest references and that are not possibly in flight
    (see _dir_in_flight) after ``older_than_seconds``."""
    data_root = f"{table_dir}/data"
    if not os.path.isdir(data_root):
        return []
    live = {
        d
        for v in _retained_versions(table_dir)
        for d in _read_manifest(table_dir, v)["dirs"]
    }
    cutoff = time.time() - older_than_seconds
    return [
        f"data/{d}"
        for d in sorted(os.listdir(data_root))
        if f"data/{d}" not in live
        and os.path.isdir(f"{data_root}/{d}")
        and not _dir_in_flight(f"{data_root}/{d}", cutoff)
    ]


def snapshot_vacuum(
    table_dir: str, older_than_seconds: float = 86400.0
) -> list[str]:
    """Physically remove data dirs no retained manifest references —
    the leftovers of crashed write attempts and CAS-losing writers
    (which the commit protocol deliberately abandons as inert garbage)
    plus anything an interrupted expire run orphaned. Returns the
    removed dirs (table-relative).

    ``older_than_seconds`` is the in-flight-writer guard (Delta's
    VACUUM retention check): a concurrent writer's data dir exists
    BEFORE its manifest publishes, so only dirs whose WHOLE TREE is
    untouched for the window — and that contain no ``_temporary``
    staging subdir — are eligible (a long partitioned write bumps
    mtimes only deep inside partition subdirs). Never drop it below your longest plausible
    write duration. Reads stay safe throughout: readers resolve a
    manifest first and only list dirs it names, and vacuum never
    touches a referenced dir.
    """
    import shutil

    removed = _unreferenced_dirs(table_dir, older_than_seconds)
    for rel in removed:
        shutil.rmtree(f"{table_dir}/{rel}")
    return removed


def snapshot_restore(table_dir: str, version: int) -> int:
    """RESTORE the table to a retained earlier ``version`` — as a NEW
    commit, so the mistake being rolled back stays in history and CDF
    shows the rollback as ordinary changes. Returns the new version.

    METADATA-ONLY: the new manifest simply references the restored
    version's existing data dirs (plus its schema, layout and table
    properties; the txn keys stay the head's, so a replay of a batch
    committed after ``version`` stays fenced) — no data file is read,
    copied, or written, which is the payoff of manifests naming
    immutable dirs. expire_snapshots keeps those dirs alive for as
    long as EITHER referencing manifest is retained, so a restore never
    races retention. Requires the target manifest to still be retained
    (expired versions are gone by design)."""
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    prev = _recover_orphan_manifests(table_dir, current_version(table_dir))
    if prev is None:
        raise ValueError(f"no snapshot table at {table_dir}")
    try:
        target = _read_manifest(table_dir, version)
    except FileNotFoundError:
        raise ValueError(
            f"cannot restore {table_dir} to v{version}: manifest not "
            "retained (expired or never committed)"
        ) from None
    new_version = prev + 1
    head = _read_manifest(table_dir, prev).get("meta", {})
    manifest = {
        "version": new_version,
        "mode": "overwrite",
        "dirs": target["dirs"],
        "committed_at_unix": int(time.time()),
        "schema": target["schema"],
        "meta": {
            **_properties(target.get("meta", {})),
            **{k: v for k, v in head.items() if k.startswith("txn_")},
        },
        "partition_by": target.get("partition_by", []),
        "maintenance": {"restore_of": version},
    }
    _publish_manifest(table_dir, new_version, manifest)
    _write_pointer(table_dir, new_version)
    return new_version


def maintenance_plan(
    table_dir: str,
    max_dirs: int = 8,
    keep_last: int = 5,
    vacuum_after_seconds: float = 86400.0,
) -> dict:
    """Inspect the table's manifests (METADATA ONLY — no Spark job, no
    data read) and recommend maintenance actions, the decision half of
    a daily OPTIMIZE job:

    - ``compact``: the latest manifest references more than
      ``max_dirs`` data dirs (every append adds one; snapshot_read
      unions one scan per dir until a compaction collapses them).
    - ``expire``: more than ``keep_last`` manifests retained.
    - ``vacuum``: unreachable data dirs older than the retention
      window exist (crashed/CAS-losing attempts).

    Returns {"compact": bool, "n_dirs": int, "expire": bool,
    "n_versions": int, "vacuum": [dirs], "reasons": [str]} — feed to
    ``auto_optimize`` or act manually. At 100 TB this stays O(#versions
    + #data dirs) driver-side metadata work."""
    reasons: list[str] = []
    plan = {
        "compact": False,
        "n_dirs": 0,
        "expire": False,
        "n_versions": 0,
        "vacuum": [],
        "reasons": reasons,
    }
    cur = current_version(table_dir)
    if cur is None:
        return plan
    versions = _retained_versions(table_dir)
    plan["n_versions"] = len(versions)
    n_dirs = len(_read_manifest(table_dir, cur)["dirs"])
    plan["n_dirs"] = n_dirs
    if n_dirs > max_dirs:
        plan["compact"] = True
        reasons.append(
            f"latest version reads {n_dirs} dirs (> {max_dirs}): compact"
        )
    if len(versions) > keep_last:
        plan["expire"] = True
        reasons.append(
            f"{len(versions)} manifests retained (> {keep_last}): expire"
        )
    plan["vacuum"] = _unreferenced_dirs(table_dir, vacuum_after_seconds)
    if plan["vacuum"]:
        reasons.append(
            f"{len(plan['vacuum'])} orphaned data dir(s) past retention: vacuum"
        )
    return plan


def auto_optimize(
    spark: SparkSession,
    table_dir: str,
    max_dirs: int = 8,
    keep_last: int = 5,
    vacuum_after_seconds: float = 86400.0,
    zorder_by: list[str] | None = None,
) -> dict:
    """Execute maintenance_plan's recommendations in the safe order:
    compact FIRST (a compaction commit adds a version, so expiring
    first could drop history a failed compaction would want), then
    expire, then vacuum. Returns the plan annotated with what ran.
    The single entry point a scheduled daily maintenance job calls."""
    plan = maintenance_plan(
        table_dir,
        max_dirs=max_dirs,
        keep_last=keep_last,
        vacuum_after_seconds=vacuum_after_seconds,
    )
    if plan["compact"]:
        plan["compacted_version"] = snapshot_compact(
            spark, table_dir, zorder_by=zorder_by
        )
    if plan["expire"]:
        plan["expired_versions"] = expire_snapshots(
            table_dir, keep_last=keep_last
        )
    if plan["vacuum"]:
        plan["vacuumed"] = snapshot_vacuum(
            table_dir, older_than_seconds=vacuum_after_seconds
        )
    return plan
