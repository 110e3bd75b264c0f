"""Snapshot table format (operators/snapshots.py): isolation, time
travel, append/overwrite, schema evolution, expiry."""

from __future__ import annotations

from pathlib import Path

import pytest

from bike_data_flow_spark.operators.snapshots import (
    current_version,
    expire_snapshots,
    snapshot_append,
    snapshot_compact,
    snapshot_delete,
    snapshot_history,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
    txn_committed,
)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def test_append_overwrite_and_time_travel(spark, tmp_path: Path):
    t = str(tmp_path / "tbl")
    v1 = snapshot_write(_df(spark, [(1, "a")]), t)
    v2 = snapshot_write(_df(spark, [(2, "b")]), t)  # append
    assert (v1, v2) == (1, 2)
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}
    v3 = snapshot_write(_df(spark, [(9, "z")]), t, mode="overwrite")
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {9}
    # time travel: every prior version still readable as committed
    assert {r["k"] for r in snapshot_read(spark, t, version=1).collect()} == {1}
    assert {r["k"] for r in snapshot_read(spark, t, version=2).collect()} == {1, 2}
    assert [h["mode"] for h in snapshot_history(t)] == [
        "append",
        "append",
        "overwrite",
    ]
    assert current_version(t) == v3


def test_schema_evolution_across_snapshots(spark, tmp_path: Path):
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    snapshot_write(
        _df(spark, [(2, "b", 9.5)], "k int, v string, score double"), t
    )
    rows = {r["k"]: r for r in snapshot_read(spark, t).collect()}
    assert rows[2]["score"] == 9.5
    assert rows[1]["score"] is None  # pre-evolution rows surface NULL


def test_uncommitted_garbage_is_invisible(spark, tmp_path: Path):
    """Data dirs without a pointed-to manifest must never be read —
    simulates a writer that crashed after the data write."""
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    # crashed second commit: data landed, manifest/pointer never did
    _df(spark, [(99, "junk")]).write.parquet(f"{t}/data/v2-deadbeef")
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1}
    assert current_version(t) == 1
    # the NEXT commit takes the same version NUMBER but its own unique
    # data dir — the junk stays unreferenced forever, never read
    snapshot_write(_df(spark, [(2, "b")]), t)
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}
    assert Path(f"{t}/data/v2-deadbeef").exists()  # inert, not clobbered


def test_expire_snapshots_drops_unreferenced_dirs(spark, tmp_path: Path):
    t = str(tmp_path / "tbl")
    from bike_data_flow_spark.operators.snapshots import _read_manifest

    snapshot_write(_df(spark, [(1, "a")]), t)
    v1_dir = _read_manifest(t, 1)["dirs"][0]
    snapshot_write(_df(spark, [(9, "z")]), t, mode="overwrite")  # v2 orphans v1's dir
    snapshot_write(_df(spark, [(10, "y")]), t)  # v3 = v2 dirs + new
    expired = expire_snapshots(t, keep_last=2)
    assert expired == [1]
    assert not Path(f"{t}/{v1_dir}").exists()  # orphaned by the overwrite
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {9, 10}
    assert {r["k"] for r in snapshot_read(spark, t, version=2).collect()} == {9}


def test_snapshot_merge_with_rollback(spark, tmp_path: Path):
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.snapshots import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_merge(spark, t, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    v2 = snapshot_merge(
        spark,
        t,
        _df(spark, [(2, "b2"), (3, "c"), (4, "DEL")]),
        ["k"],
        delete_condition=F.col("v") == "DEL",
    )
    now = {r["k"]: r["v"] for r in snapshot_read(spark, t).collect()}
    # 2 updated, 3 inserted, 4 inserted then NOT deleted (delete applies
    # to matched rows only — 4 was unmatched), 1 untouched
    assert now == {1: "a", 2: "b2", 3: "c", 4: "DEL"}
    # rollback story: the pre-merge state is still a readable version
    before = {r["k"]: r["v"] for r in snapshot_read(spark, t, version=v2 - 1).collect()}
    assert before == {1: "a", 2: "b"}


def test_history_and_expire_survive_prior_expiry(spark, tmp_path: Path):
    """snapshot_history and a wider later expire must tolerate the
    non-contiguous manifest sequence a previous expiry leaves."""
    t = str(tmp_path / "tbl")
    for i in range(4):
        snapshot_write(_df(spark, [(i, "x")]), t)
    assert expire_snapshots(t, keep_last=1) == [1, 2, 3]
    assert [h["version"] for h in snapshot_history(t)] == [4]  # no crash
    assert expire_snapshots(t, keep_last=3) == []  # wider window, no crash
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {0, 1, 2, 3}


def test_corrupt_pointer_fails_loudly(spark, tmp_path: Path):
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    Path(f"{t}/_LATEST").write_text("garbage")
    with pytest.raises(RuntimeError, match="corrupt _LATEST"):
        snapshot_write(_df(spark, [(2, "b")]), t)  # must NOT clobber v1


def test_snapshot_merge_evolves_schema(spark, tmp_path: Path):
    from bike_data_flow_spark.operators.snapshots import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_merge(spark, t, _df(spark, [(1, "a")]), ["k"])
    snapshot_merge(
        spark, t, _df(spark, [(2, "b", 9.5)], "k int, v string, score double"), ["k"]
    )
    rows = {r["k"]: r for r in snapshot_read(spark, t).collect()}
    assert rows[2]["score"] == 9.5  # source-only column survives the merge
    assert rows[1]["score"] is None  # pre-evolution rows surface NULL


def test_streaming_snapshot_sink_and_replay_fence(spark, tmp_path: Path):
    """Each micro-batch commits as one append snapshot; a replayed
    (app_id, batch_id) txn is skipped, so rows never double-append —
    and a foreign maintenance commit cannot disarm the fence."""
    from bike_data_flow_spark.streaming.snapshot_sink import (
        _app_id,
        commit_batch,
        write_stream_snapshots,
    )

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _df(spark, [(i, f"r{i}")]).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    t = str(tmp_path / "tbl")
    stream = spark.readStream.schema("k int, v string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = write_stream_snapshots(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {0, 1, 2}
    n_commits = len(snapshot_history(t))
    assert n_commits >= 1  # one commit per micro-batch
    app = _app_id(str(tmp_path / "ckpt"))

    # same-writer replay (the post-crash foreachBatch contract): every
    # already-committed batch id is fenced out
    before = current_version(t)
    for bid in range(n_commits):
        assert commit_batch(_df(spark, [(99, "dup")]), bid, t, app) is False
    assert current_version(t) == before
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {0, 1, 2}

    # a foreign maintenance commit (no txn meta — e.g. compaction)
    # must NOT disarm the fence for the stream's writer id
    snapshot_write(
        snapshot_read(spark, t).coalesce(1), t, mode="overwrite"
    )
    mid = current_version(t)
    assert commit_batch(_df(spark, [(99, "dup")]), 0, t, app) is False
    assert current_version(t) == mid

    # a NEW writer (fresh checkpoint = reprocessing by choice) commits
    assert commit_batch(_df(spark, [(7, "new")]), 0, t, "other-app") is True
    assert 7 in {r["k"] for r in snapshot_read(spark, t).collect()}


def test_snapshot_changes_feed(spark, tmp_path: Path):
    """CDF between versions: appended rows are inserts, overwritten-away
    rows are deletes, an update is delete+insert, and schema evolution
    across the diff surfaces NULL for the pre-evolution side."""
    from bike_data_flow_spark.operators.snapshots import snapshot_changes

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a"), (2, "b")]), t)  # v1
    snapshot_write(_df(spark, [(3, "c")]), t)  # v2 append
    ch = snapshot_changes(spark, t, 1, 2).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(3, "insert")]

    # v3 overwrite: 2 updated, 1 and 3 removed
    snapshot_write(_df(spark, [(2, "B")]), t, mode="overwrite")
    ch = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in snapshot_changes(spark, t, 2).collect()
    )
    assert ch == [
        (1, "a", "delete"),
        (2, "B", "insert"),
        (2, "b", "delete"),
        (3, "c", "delete"),
    ]

    # v4 appends an evolved schema; old-side rows diff with NULL score
    snapshot_write(
        _df(spark, [(9, "z", 1.5)], "k int, v string, score double"), t
    )
    ch = {(r["k"], r["score"]) for r in snapshot_changes(spark, t, 3, 4).collect()}
    assert ch == {(9, 1.5)}


def test_version_collision_errors_not_clobbers(spark, tmp_path: Path):
    """Two writers that both resolved the same prev version cannot
    last-write-win: the second manifest publish for v{N} raises, the
    first commit's data stays intact (the zombie-driver race from
    snapshot_sink's concurrency contract)."""
    import json

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    # simulate the racing writer: it observed prev=1 before the other
    # writer committed v2, so it now tries to publish v2 itself
    snapshot_write(_df(spark, [(2, "b")]), t)  # legitimate v2
    manifest_v2 = Path(t) / "_snapshots" / "v2.json"
    committed = json.loads(manifest_v2.read_text())
    with pytest.raises(RuntimeError, match="collision"):
        # replay the publish step with a hand-rolled v2 manifest: the
        # conditional link must refuse to replace the committed one
        import os

        tmp = str(manifest_v2) + ".tmp.race"
        Path(tmp).write_text("{}")
        try:
            os.link(tmp, str(manifest_v2))
        except FileExistsError:
            raise RuntimeError("collision") from None
        finally:
            os.unlink(tmp)
    assert json.loads(manifest_v2.read_text()) == committed
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}


def test_fence_stops_at_newest_writer_manifest(spark, tmp_path: Path):
    """last_txn_version returns the writer's NEWEST txn without
    scanning older manifests, keeps working across interleaved foreign
    commits, and reads None once every writer manifest is expired
    (the documented retention contract: retention must exceed stream
    downtime)."""
    from bike_data_flow_spark.operators.snapshots import last_txn_version

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t, meta={"txn_app_id": "w", "txn_version": 0})
    snapshot_write(_df(spark, [(2, "b")]), t)  # foreign, no meta
    snapshot_write(_df(spark, [(3, "c")]), t, meta={"txn_app_id": "w", "txn_version": 1})
    snapshot_write(_df(spark, [(4, "d")]), t, meta={"txn_app_id": "x", "txn_version": 9})
    assert last_txn_version(t, "w") == 1
    assert last_txn_version(t, "x") == 9
    assert last_txn_version(t, "nobody") is None
    # expire down to the newest version only: writer w's manifests are
    # gone, so its fence silently disarms — the reason the docstring
    # demands retention > max stream downtime
    expire_snapshots(t, keep_last=1)
    assert last_txn_version(t, "w") is None
    assert last_txn_version(t, "x") == 9


def test_maintenance_never_rewinds_the_fence(spark, tmp_path: Path):
    """Compaction, restore and expiry keep a writer's newest txn: a
    restore rolls the ROWS back, not the batch ids the sink committed,
    so a replay of the newest batch stays fenced, also once only the
    restore's manifest is retained."""
    from bike_data_flow_spark.operators.snapshots import (
        last_txn_version,
        snapshot_compact,
        snapshot_restore,
    )
    from bike_data_flow_spark.streaming.snapshot_sink import commit_batch

    t = str(tmp_path / "tbl")
    for b in range(4):
        assert commit_batch(_df(spark, [(b, f"r{b}")]), b, t, "app") is True
    snapshot_compact(spark, t)
    snapshot_restore(t, 2)  # v2 = batches 0 and 1
    assert last_txn_version(t, "app") == 3
    assert commit_batch(_df(spark, [(3, "r3")]), 3, t, "app") is False
    assert sorted(r["k"] for r in snapshot_read(spark, t).collect()) == [0, 1]

    expire_snapshots(t, keep_last=1)
    assert commit_batch(_df(spark, [(3, "r3")]), 3, t, "app") is False
    assert sorted(r["k"] for r in snapshot_read(spark, t).collect()) == [0, 1]


def test_fence_sees_a_commit_that_died_before_its_pointer_move(
    spark, tmp_path: Path
):
    """A sink commit that died between its manifest publish and its
    pointer move is durable (the next write rolls it forward), so its
    replay is fenced instead of committing the batch a second time."""
    from bike_data_flow_spark.operators.snapshots import last_txn_version
    from bike_data_flow_spark.streaming.snapshot_sink import commit_batch

    t = str(tmp_path / "tbl")
    assert commit_batch(_df(spark, [(0, "a")]), 0, t, "app") is True
    assert commit_batch(_df(spark, [(1, "b")]), 1, t, "app") is True
    (Path(t) / "_LATEST").write_text("1")  # batch 1's pointer never moved
    assert last_txn_version(t, "app") == 1
    assert commit_batch(_df(spark, [(1, "b")]), 1, t, "app") is False
    assert commit_batch(_df(spark, [(2, "c")]), 2, t, "app") is True
    assert sorted(r["k"] for r in snapshot_read(spark, t).collect()) == [0, 1, 2]


def test_snapshot_write_collision_via_stale_version_read(spark, tmp_path, monkeypatch):
    """A zombie writer that resolved prev BEFORE another writer's
    commit must ERROR inside snapshot_write itself (not just in a
    hand-rolled replay): patch current_version to return the stale
    value — and disable the write-start self-heal, because a zombie
    whose race window closes BEFORE its recovery scan simply heals;
    the collision path exists for the one whose competitor publishes
    AFTER the scan — then let the real code path hit the conditional
    publish."""
    from bike_data_flow_spark.operators import snapshots as S

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    snapshot_write(_df(spark, [(2, "b")]), t)  # real v2

    real = S.current_version
    monkeypatch.setattr(S, "current_version", lambda d: 1)  # stale view
    monkeypatch.setattr(
        S, "_recover_orphan_manifests", lambda d, prev: prev
    )  # competitor publishes after the zombie's recovery scan
    with pytest.raises(RuntimeError, match="collision"):
        S.snapshot_write(_df(spark, [(9, "z")]), t)
    monkeypatch.setattr(S, "current_version", real)
    # the winner's commit is intact and the table still reads
    assert current_version(t) == 2
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}


def test_orphaned_manifest_self_heals_on_next_write(spark, tmp_path: Path):
    """ADVICE r5: a writer crashing between the manifest publish and
    the pointer move must NOT brick the table. Simulate the crash by
    resetting _LATEST to the previous version after a real commit: the
    next snapshot_write rolls the pointer forward over the durable
    orphan and commits the NEXT version instead of colliding forever."""
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    snapshot_write(_df(spark, [(2, "b")]), t)  # v2 — then "crash":
    (Path(t) / "_LATEST").write_text("1")  # pointer move never happened

    v = snapshot_write(_df(spark, [(3, "c")]), t)  # must not raise
    assert v == 3
    assert current_version(t) == 3
    # the orphaned commit's rows are part of the table (it was durable)
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2, 3}
    # and time travel to the recovered version works
    assert {r["k"] for r in snapshot_read(spark, t, version=2).collect()} == {1, 2}


# each rewrite verb on a table holding k in {1, 2, 3}, and the keys it
# leaves behind
_REWRITES = {
    "compact": (lambda spark, t: snapshot_compact(spark, t), {1, 2, 3}),
    "delete": (lambda spark, t: snapshot_delete(spark, t, "k = 1"), {2, 3}),
    "merge": (
        lambda spark, t: snapshot_merge(
            spark, t, _df(spark, [(4, "d")]), ["k"]
        ),
        {1, 2, 3, 4},
    ),
}


@pytest.mark.parametrize("verb", sorted(_REWRITES))
def test_rewrite_keeps_orphaned_commit_and_its_fence(spark, tmp_path, verb):
    """A rewrite after a crash between a fenced append's manifest
    publish and its pointer move starts from the durable orphan: the
    orphan's rows survive (minus what the verb deletes) and its txn
    stays committed — the rewrite carries the orphan's txn keys, not the
    pointer version's."""
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    snapshot_append(_df(spark, [(3, "c")]), t, txn=("app", 2))
    (Path(t) / "_LATEST").write_text("1")  # pointer move never happened
    assert txn_committed(t, ("app", 2))

    run, keys = _REWRITES[verb]
    assert run(spark, t) == 3
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == keys
    assert txn_committed(t, ("app", 2))


@pytest.mark.parametrize("verb", sorted(_REWRITES))
def test_rewrite_refuses_commit_landing_after_its_read(
    spark, tmp_path, monkeypatch, verb
):
    """A rewrite is a CAS on the head it read: a commit landing between
    the read and the publish makes the rewrite raise
    SnapshotConflictError, and the interloper's rows stay in the table
    instead of being overwritten."""
    from bike_data_flow_spark.operators import snapshots as S

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    snapshot_write(_df(spark, [(3, "c")]), t)

    def read_then_interloper_appends(*args, **kwargs):
        df = snapshot_read(*args, **kwargs)
        monkeypatch.setattr(S, "snapshot_read", snapshot_read)  # once
        snapshot_append(_df(spark, [(7, "x")]), t)
        return df

    monkeypatch.setattr(S, "snapshot_read", read_then_interloper_appends)
    run, _ = _REWRITES[verb]
    with pytest.raises(S.SnapshotConflictError):
        run(spark, t)
    assert current_version(t) == 3
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2, 3, 7}


def test_first_commit_orphan_recovers_too(spark, tmp_path: Path):
    """Crash between v1's publish and the FIRST pointer write leaves a
    table with a manifest but no _LATEST at all — recovery must start
    from zero, not only from an existing pointer."""
    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    (Path(t) / "_LATEST").unlink()  # crash before the first flip

    v = snapshot_write(_df(spark, [(2, "b")]), t)
    assert v == 2
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}


def _race_publish(table_dir, marker, barrier, q):
    from bike_data_flow_spark.operators.snapshots import _publish_manifest

    barrier.wait()
    try:
        _publish_manifest(
            table_dir, 2, {"version": 2, "mode": "append", "marker": marker}
        )
        q.put((marker, "ok"))
    except RuntimeError:
        q.put((marker, "collision"))


def test_two_process_publish_race_has_exactly_one_winner(tmp_path: Path):
    """VERDICT r5 #7: two CONCURRENT committers (real processes, not a
    replayed publish) racing for the same version — exactly one wins,
    the loser gets the collision error, and the surviving manifest is
    the winner's bytes (not last-write-wins; the pre-r5 os.replace
    spelling fails this: both report ok and the later write clobbers)."""
    import json
    import multiprocessing as mp

    t = str(tmp_path / "tbl")
    (Path(t) / "_snapshots").mkdir(parents=True)

    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    q = ctx.Queue()
    ps = [
        ctx.Process(target=_race_publish, args=(t, m, barrier, q))
        for m in ("w1", "w2")
    ]
    for p in ps:
        p.start()
    results = dict(q.get(timeout=30) for _ in ps)
    for p in ps:
        p.join(timeout=30)
    assert sorted(results.values()) == ["collision", "ok"]
    winner = next(m for m, r in results.items() if r == "ok")
    committed = json.loads((Path(t) / "_snapshots" / "v2.json").read_text())
    assert committed["marker"] == winner
    # no stray tmp files from either attempt
    assert not list((Path(t) / "_snapshots").glob("*.tmp.*"))


def test_snapshot_compact_preserves_rows_and_history(spark, tmp_path: Path):
    """OPTIMIZE: many small appends → one compaction commit with
    identical data, fewer files; pre-compaction time travel intact
    until expiry, after which the small files are reclaimed."""
    import glob

    from bike_data_flow_spark.operators.snapshots import (
        expire_snapshots,
        is_compaction,
        snapshot_compact,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "t")
    for i in range(4):
        snapshot_write(
            spark.createDataFrame([(i, f"r{i}")], "k int, v string"), t
        )
    before = sorted(
        r["k"] for r in snapshot_read(spark, t).collect()
    )
    n_files_before = len(glob.glob(f"{t}/data/*/*.parquet"))
    v = snapshot_compact(spark, t, target_files=1)
    assert v == 5 and is_compaction(t, 5) and not is_compaction(t, 4)
    after = sorted(r["k"] for r in snapshot_read(spark, t).collect())
    assert after == before == [0, 1, 2, 3]
    # time travel to the pre-compaction version still works
    assert sorted(r["k"] for r in snapshot_read(spark, t, 4).collect()) == before
    # expiry reclaims the small pre-compaction files
    expire_snapshots(t, keep_last=1)
    n_files_after = len(glob.glob(f"{t}/data/*/*.parquet"))
    assert n_files_after == 1 < n_files_before
    assert sorted(r["k"] for r in snapshot_read(spark, t).collect()) == before


def _race_recover_commit(table_dir, marker, barrier, q):
    """The snapshot_write control flow minus the Spark data write:
    recover orphans -> resolve version -> stage data dir -> publish
    manifest -> flip pointer. Real processes, real fs protocol."""
    import json
    import os

    from bike_data_flow_spark.operators.snapshots import (
        _publish_manifest,
        _recover_orphan_manifests,
        _write_pointer,
        current_version,
    )

    barrier.wait()
    prev = _recover_orphan_manifests(table_dir, current_version(table_dir))
    # both writers resolve prev before either publishes: the race
    barrier.wait()
    version = prev + 1
    rel = f"data/v{version}-{marker}"
    os.makedirs(f"{table_dir}/{rel}", exist_ok=True)
    with open(
        f"{table_dir}/_snapshots/v{prev}.json", encoding="utf-8"
    ) as fh:
        dirs = json.load(fh)["dirs"] + [rel]
    try:
        _publish_manifest(
            table_dir,
            version,
            {"version": version, "mode": "append", "dirs": dirs,
             "marker": marker},
        )
        _write_pointer(table_dir, version)
        q.put((marker, "ok", prev))
    except RuntimeError:
        q.put((marker, "collision", prev))


def test_concurrent_orphan_recovery_single_winner(spark, tmp_path: Path):
    """VERDICT r6 #6: a writer crashed between v2's publish and the
    pointer flip; TWO replacement writers then start concurrently.
    Both must recover the orphan (resolve prev=2), but exactly one may
    advance-and-commit v3 — and no data dir may end up referenced by
    two committed versions' tails."""
    import json
    import multiprocessing as mp

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    snapshot_write(_df(spark, [(2, "b")]), t)
    (Path(t) / "_LATEST").write_text("1")  # crash: v2 published, unflipped

    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    q = ctx.Queue()
    ps = [
        ctx.Process(target=_race_recover_commit, args=(t, m, barrier, q))
        for m in ("w1", "w2")
    ]
    for p in ps:
        p.start()
    results = {}
    for _ in ps:
        marker, status, prev = q.get(timeout=60)
        results[marker] = status
        assert prev == 2, "both writers must have recovered the orphan"
    for p in ps:
        p.join(timeout=60)
    assert sorted(results.values()) == ["collision", "ok"]

    # pointer landed on the winner's commit, never regressed
    assert (Path(t) / "_LATEST").read_text().strip() == "3"
    winner = next(m for m, r in results.items() if r == "ok")
    loser = next(m for m, r in results.items() if r == "collision")
    v3 = json.loads((Path(t) / "_snapshots" / "v3.json").read_text())
    assert v3["marker"] == winner
    # lineage: v3 = v2's dirs + exactly the winner's new dir; the
    # loser's staged dir is referenced by NO manifest; nothing twice
    v2 = json.loads((Path(t) / "_snapshots" / "v2.json").read_text())
    assert v3["dirs"][: len(v2["dirs"])] == v2["dirs"]
    new_dirs = v3["dirs"][len(v2["dirs"]):]
    assert new_dirs == [f"data/v3-{winner}"]
    all_refs = []
    for mf in sorted((Path(t) / "_snapshots").glob("v*.json")):
        all_refs.extend(json.loads(mf.read_text())["dirs"][-1:])
    assert f"data/v3-{loser}" not in v3["dirs"]
    assert len(set(all_refs)) == len(all_refs)
    # the table is still readable and consistent at the winner's commit
    assert {r["k"] for r in snapshot_read(spark, t, 2).collect()} == {1, 2}


def test_write_pointer_is_monotonic(spark, tmp_path: Path):
    """The zombie-regression guard behind the race test above: a stale
    writer's pointer flip (a version BELOW the current pointer) must be
    skipped outright — visibility never moves backward. Forward flips
    still land."""
    from bike_data_flow_spark.operators.snapshots import _write_pointer

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t)
    snapshot_write(_df(spark, [(2, "b")]), t)
    assert (Path(t) / "_LATEST").read_text().strip() == "2"
    _write_pointer(t, 1)  # the zombie's stale flip: must be a no-op
    assert (Path(t) / "_LATEST").read_text().strip() == "2"
    _write_pointer(t, 2)  # same-version flip: no-op, no error
    assert (Path(t) / "_LATEST").read_text().strip() == "2"
    _write_pointer(t, 3)  # forward flip still lands
    assert (Path(t) / "_LATEST").read_text().strip() == "3"


def test_compact_round_trips_meta_layout_and_collapses_union(
    spark, tmp_path: Path
):
    """VERDICT r8 #1: compaction is maintenance, not a property change.
    It must carry the previous manifest's meta forward, keep the
    partition_by layout, collapse the multi-append dir union to ONE
    dir, and stay partition-aware (one file per Hive dir, never a
    global single-task funnel)."""
    import glob

    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.snapshots import (
        _read_manifest,
        is_compaction,
        snapshot_compact,
    )

    t = str(tmp_path / "tbl")
    props = {"format": "demo", "dial": 7}
    df1 = spark.range(0, 40).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(4)).cast("int").alias("p")
    )
    snapshot_write(df1, t, mode="overwrite", meta=props, partition_by=["p"])
    df2 = spark.range(40, 80).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(4)).cast("int").alias("p")
    )
    snapshot_write(df2, t, meta=props, partition_by=["p"])
    assert len(_read_manifest(t, 2)["dirs"]) == 2  # the union to collapse

    v = snapshot_compact(spark, t)
    m = _read_manifest(t, v)
    assert m["meta"] == props  # properties carried forward verbatim
    assert m["partition_by"] == ["p"]  # layout preserved
    assert len(m["dirs"]) == 1  # union collapsed
    assert is_compaction(t, v) and not is_compaction(t, 2)
    assert sorted(r["k"] for r in snapshot_read(spark, t).collect()) == list(
        range(80)
    )
    # partition-aware rewrite: exactly one file per Hive partition dir
    (data_rel,) = m["dirs"]
    for pdir in sorted(Path(f"{t}/{data_rel}").glob("p=*")):
        files = glob.glob(f"{pdir}/*.parquet")
        assert len(files) == 1, (pdir, files)
    # and a post-compaction partitioned APPEND is accepted
    df3 = spark.range(80, 90).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(4)).cast("int").alias("p")
    )
    snapshot_write(df3, t, meta=props, partition_by=["p"])
    assert snapshot_read(spark, t).count() == 90


def test_empty_partitioned_append_does_not_brick_reads(spark, tmp_path: Path):
    """ADVICE r8: a partitionBy write of ZERO rows emits a dir holding
    only _SUCCESS; reads must tolerate it (an empty daily batch is
    legitimate) instead of failing UNABLE_TO_INFER_SCHEMA forever."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(2)).cast("int").alias("p")
    )
    snapshot_write(df, t, mode="overwrite", partition_by=["p"])
    snapshot_write(df.filter(F.lit(False)), t, partition_by=["p"])  # empty
    assert snapshot_read(spark, t).count() == 8  # not bricked
    snapshot_write(
        spark.range(8, 10).select(
            F.col("id").alias("k"),
            F.pmod("id", F.lit(2)).cast("int").alias("p"),
        ),
        t,
        partition_by=["p"],
    )
    assert snapshot_read(spark, t).count() == 10


def test_table_of_only_empty_commits_reads_as_empty(spark, tmp_path: Path):
    """Degenerate corner of the fileless-dir tolerance: every referenced
    dir is fileless — the read surfaces the manifest's recorded schema
    with zero rows instead of an unreadable scan."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(2)).cast("int").alias("p")
    )
    snapshot_write(df.filter(F.lit(False)), t, mode="overwrite", partition_by=["p"])
    got = snapshot_read(spark, t)
    assert got.count() == 0
    assert set(got.columns) == {"k", "p"}


def test_snapshot_write_cas_expected_version(spark, tmp_path: Path):
    """expected_version turns the commit into a compare-and-swap: a
    stale precondition raises SnapshotConflictError BEFORE any data
    write, and a fresh one commits exactly once."""
    from bike_data_flow_spark.operators.snapshots import (
        SnapshotConflictError,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")]), t, expected_version=0)  # fresh
    with pytest.raises(SnapshotConflictError, match="expected version"):
        snapshot_write(_df(spark, [(2, "b")]), t, expected_version=0)
    snapshot_write(_df(spark, [(2, "b")]), t, expected_version=1)
    assert current_version(t) == 2
    assert {r["k"] for r in snapshot_read(spark, t).collect()} == {1, 2}


def test_snapshot_merge_preserves_layout_and_meta(spark, tmp_path: Path):
    """MERGE INTO must round-trip the table's partition_by and meta,
    exactly like compaction — a merge changes rows, never properties
    (the pre-r9 spelling silently de-partitioned the table)."""
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.snapshots import (
        _read_manifest,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    props = {"format": "dim_table", "dial": 3}
    df = spark.range(0, 12).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.pmod("id", F.lit(3)).cast("int").alias("p"),
    )
    snapshot_write(df, t, mode="overwrite", meta=props, partition_by=["p"])

    src = spark.createDataFrame(
        [(1, "UPDATED", 1), (100, "NEW", 2)], "k int, v string, p int"
    )
    v = snapshot_merge(spark, t, src, ["k"])
    m = _read_manifest(t, v)
    assert m["partition_by"] == ["p"]  # layout survived the merge
    assert m["meta"] == props  # properties survived the merge
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, t).collect()}
    assert rows[1] == "UPDATED" and rows[100] == "NEW" and len(rows) == 13
    # the preserved layout still prunes
    pruned = snapshot_read(spark, t).filter(F.col("p") == 2)
    assert {r["k"] for r in pruned.collect()} == {2, 5, 8, 11, 100}
    # and a post-merge partitioned append is still accepted
    snapshot_write(
        spark.createDataFrame([(200, "A", 0)], "k int, v string, p int"),
        t,
        meta=props,
        partition_by=["p"],
    )
    assert snapshot_read(spark, t).count() == 14


def test_stream_sink_into_partitioned_table(spark, tmp_path: Path):
    """The streaming snapshot sink must be able to target a
    PRE-EXISTING Hive-layout table: appends adopt the table's recorded
    layout (pre-r9 every batch was refused by the mixed-layout guard),
    pruning keeps working, and the txn fence still holds."""
    from pyspark.sql import functions as F

    from bike_data_flow_spark.streaming.snapshot_sink import (
        commit_batch,
        write_stream_snapshots,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(0, 6).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.pmod("id", F.lit(2)).cast("int").alias("p"),
    )
    snapshot_write(base, t, mode="overwrite", partition_by=["p"])

    src = tmp_path / "src"
    src.mkdir()
    for i in (10, 11):
        spark.createDataFrame(
            [(i, f"s{i}", i % 2)], "k int, v string, p int"
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("k int, v string, p int").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = write_stream_snapshots(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {r["k"] for r in snapshot_read(spark, t).collect()}
    assert got == {0, 1, 2, 3, 4, 5, 10, 11}
    # layout survived and still prunes
    from bike_data_flow_spark.operators.snapshots import _read_manifest

    assert _read_manifest(t, current_version(t))["partition_by"] == ["p"]
    odd = {r["k"] for r in snapshot_read(spark, t).filter(F.col("p") == 1).collect()}
    assert odd == {1, 3, 5, 11}
    # replay fence still holds on the partitioned path
    from bike_data_flow_spark.streaming.snapshot_sink import _app_id

    app = _app_id(str(tmp_path / "ckpt"))
    before = current_version(t)
    assert commit_batch(
        spark.createDataFrame([(99, "dup", 1)], "k int, v string, p int"),
        0, t, app,
    ) is False
    assert current_version(t) == before


def test_snapshot_compact_zorder_clusters_files(spark, tmp_path: Path):
    """OPTIMIZE ZORDER: after compact(zorder_by=[x, y]), each output
    file covers a NARROW range of BOTH dimensions (parquet footer
    min/max become selective for predicates on either column), rows
    are untouched, and the commit still reads as a compaction."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.snapshots import (
        _read_manifest,
        is_compaction,
        snapshot_compact,
    )

    t = str(tmp_path / "tbl")
    n = 4096
    # two correlated-ish dimensions over a grid — the shape zorder serves
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.xxhash64("id"), F.lit(1000))).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)))
        .cast("double")
        .alias("y"),
    )
    snapshot_write(df, t, mode="overwrite", meta={"format": "facts"})

    v = snapshot_compact(spark, t, target_files=8, zorder_by=["x", "y"])
    m = _read_manifest(t, v)
    assert is_compaction(t, v)
    assert m["maintenance"]["zorder_by"] == ["x", "y"]
    assert m["meta"] == {"format": "facts"}  # properties survive
    got = snapshot_read(spark, t)
    assert got.count() == n and "_zkey" not in got.columns

    (data_rel,) = m["dirs"]
    files = sorted(glob.glob(f"{t}/{data_rel}/*.parquet"))
    assert len(files) == 8

    def spans(col):
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            mn = min(
                md.row_group(i).column(
                    [c for c in range(md.num_columns)
                     if md.row_group(i).column(c).path_in_schema == col][0]
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            mx = max(
                md.row_group(i).column(
                    [c for c in range(md.num_columns)
                     if md.row_group(i).column(c).path_in_schema == col][0]
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append(mx - mn)
        return out

    # zordered files each cover a strict sub-range of BOTH dims: with
    # 8 files over 2 dims, expect per-file span ~ half the global
    # range per dim on average; assert a conservative 0.8 bound
    for col in ("x", "y"):
        per_file = spans(col)
        assert sum(per_file) / len(per_file) < 0.8 * 1000, (col, per_file)


def test_partition_column_type_round_trips(spark, tmp_path: Path):
    """Hive directory-name inference must not leak into the table's
    schema: a STRING partition column holding date-like values reads
    back as STRING (the committed type), across appends and time
    travel — while int partition columns stay cast-free so their
    predicates keep pushing down as PartitionFilters."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "k int, dt string"
    )
    snapshot_write(df, t, mode="overwrite", partition_by=["dt"])
    got = snapshot_read(spark, t)
    assert dict(got.dtypes)["dt"] == "string"  # not inferred DATE
    assert {r["dt"] for r in got.collect()} == {"2024-01-01", "2024-01-02"}
    # still string after an append creates the multi-dir union path
    snapshot_write(
        spark.createDataFrame([(3, "2024-01-03")], "k int, dt string"),
        t,
        partition_by=["dt"],
    )
    got = snapshot_read(spark, t)
    assert dict(got.dtypes)["dt"] == "string"
    assert got.filter(got.dt == "2024-01-02").count() == 1
    assert dict(snapshot_read(spark, t, version=1).dtypes)["dt"] == "string"


def test_append_omitting_a_column_keeps_it_in_the_table(spark, tmp_path: Path):
    """The manifest records the TABLE schema: an append without an
    existing column keeps that column, and the append's rows read it
    as NULL."""
    from bike_data_flow_spark.operators.snapshots import _read_manifest

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a", 1.5)], "k int, v string, score double"), t)
    snapshot_write(_df(spark, [(2, "b")]), t)  # no score
    assert [f["name"] for f in _read_manifest(t, 2)["schema"]["fields"]] == [
        "k", "v", "score",
    ]
    rows = {r["k"]: r["score"] for r in snapshot_read(spark, t).collect()}
    assert rows == {1: 1.5, 2: None}


def test_append_with_a_changed_column_type_is_refused(spark, tmp_path: Path):
    """An append whose type for an existing column differs from the
    table schema is refused before the data write: no data dir, no
    manifest, and the table still reads. Nullability alone is no
    change, and a lossless widening (int into a bigint column) is cast
    to the table's type."""
    import os

    t = str(tmp_path / "tbl")
    snapshot_write(_df(spark, [(1, "a")], "k bigint, v string"), t)
    with pytest.raises(ValueError, match="v: table string, append integer"):
        snapshot_write(_df(spark, [(2, 7)], "k bigint, v int"), t)
    assert current_version(t) == 1
    assert len(os.listdir(f"{t}/data")) == 1
    assert sorted(os.listdir(f"{t}/_snapshots")) == ["v1.json"]
    snapshot_write(_df(spark, [(3, "c")], "k int not null, v string"), t)
    got = snapshot_read(spark, t)
    assert dict(got.dtypes) == {"k": "bigint", "v": "string"}
    assert {r["k"] for r in got.collect()} == {1, 3}


def test_read_starts_no_job_and_matches_merged_read(spark, tmp_path: Path):
    """Reading with the manifest schema builds the frame without a
    Spark job (a footer-merging read starts one per dir), and returns
    the same rows and columns as a mergeSchema read of the same dirs,
    across five `_shard`-partitioned versions with an added column."""
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.snapshots import _read_manifest

    t = str(tmp_path / "tbl")
    for v in range(5):
        df = spark.range(v * 10, v * 10 + 10).select(
            F.col("id").alias("k"),
            F.pmod("id", F.lit(3)).cast("int").alias("_shard"),
        )
        if v >= 3:
            df = df.withColumn("score", F.col("k") * 0.5)
        snapshot_write(df, t, partition_by=["_shard"])

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    got = snapshot_read(spark, t)
    assert sched.nextJobId() - before == 0

    merged = None
    for d in _read_manifest(t, 5)["dirs"]:
        part = spark.read.option("mergeSchema", "true").parquet(f"{t}/{d}")
        merged = part if merged is None else merged.unionByName(
            part, allowMissingColumns=True
        )
    assert sorted(got.schema.fields, key=lambda f: f.name) == sorted(
        merged.schema.fields, key=lambda f: f.name
    )
    cols = sorted(got.columns)
    assert sorted(got.select(cols).collect()) == sorted(
        merged.select(cols).collect()
    )
    assert got.count() == 50
