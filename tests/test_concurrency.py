"""Commit-conflict CAS, orphan-manifest GC, sidecar self-heal and
stale-lock recovery.

Reference analog: the processing_history "already started" checks
(clinvar_ingest/cloud/bigquery/processing_history.py:193-226) guard the
reference against double-processing; here the same hazard is two lake
writers racing one pointer, handled Iceberg-style (CAS with conflict
error) instead of silently last-swap-wins.
"""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource, synthetic_change_log
from clinvar_ingest_spark.sources.change_log import OffsetRange
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import CommitConflictError, SnapshotTable

TS = dt.datetime(2020, 1, 1)

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, text string, op string"
    )


def test_concurrent_commit_raises_conflict(spark, tmp_table_dir):
    """Two writers plan from snapshot N; the second swap must fail,
    not silently discard the first commit's data and HWM."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))

    # writer B reads the table at snapshot 1 ...
    writer_b = SnapshotTable(spark, tmp_table_dir, "url", 8)
    stale_manifest = writer_b.current_manifest()
    # ... writer A commits snapshot 2 in the meantime
    t.merge_upsert(_batch(spark, [("u2", TS, 2, "v1", "insert")]))
    # ... writer B's commit against the stale parent must CAS-fail
    with pytest.raises(CommitConflictError):
        writer_b._commit(
            {}, SCHEMA, {}, stale_manifest["snapshot_id"],
            {"n_rows": 0}, parent_name=stale_manifest["_name"],
        )
    # writer A's data survived
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2"}


def test_orphan_manifest_never_surfaces_in_time_travel(spark, tmp_table_dir):
    """A manifest written but never pointer-swapped (torn commit) shares
    snapshot_id with the next real commit; read_at must resolve through
    the committed parent chain. Commits never sweep: the orphan stays
    until vacuum_orphans removes it."""
    import json

    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))

    # forge an orphan with the NEXT snapshot id (what a torn commit leaves)
    orphan = {
        "snapshot_id": t.snapshot_id() + 1,
        "parent_id": t.snapshot_id(),
        "parent_name": t._read_ptr(),
        "key_col": "url", "n_buckets": 8,
        "schema": t.current_manifest()["schema"],
        "buckets": {}, "properties": {}, "stats": {"n_rows": 0},
        "read_mode": "plain",
    }
    orphan_name = "m-00000002-deadbeef.json"
    with open(os.path.join(tmp_table_dir, "_manifests", orphan_name), "w") as f:
        json.dump(orphan, f)

    # the real snapshot 2 commits afterwards
    t.merge_upsert(_batch(spark, [("u2", TS, 2, "v2", "insert")]))

    # time travel to snapshot 2 returns the COMMITTED one (has u1+u2),
    # never the empty orphan
    rows = {r["url"] for r in t.read_at(2).collect()}
    assert rows == {"u1", "u2"}
    # the successful commit left the orphan in place
    mdir = os.path.join(tmp_table_dir, "_manifests")
    assert orphan_name in os.listdir(mdir)
    # history walks the parent chain: create, batch1, batch2
    assert len(t.history()) == 3
    # vacuum_orphans sweeps it: only the committed chain remains
    t.vacuum_orphans()
    assert sorted(os.listdir(mdir)) == sorted(t.history())
    assert {r["url"] for r in t.read_at(2).collect()} == {"u1", "u2"}


def test_ensure_sidecars_rebuilds_lost_lineage(spark, tmp_path):
    """Crash after the atomic commit but before the sidecar write must
    not lose lineage forever: ensure_sidecars rebuilds from the manifest
    chain + log replay, and verify_lineage goes green again."""
    path = str(tmp_path / "t")
    tbl = SnapshotTable(spark, path, "url", 8).create(PAGES)
    src = ChangeLogSource(synthetic_change_log(spark, 600, n_urls=100))
    pipe = IngestPipeline(spark, src, tbl)
    pipe.run_batch(OffsetRange(-1, 299), log_end_seq=599)
    pipe.run_batch(OffsetRange(299, 599), log_end_seq=599)
    assert pipe.verify_lineage()["ok"]

    # simulate the crash: batch 1's sidecars vanish post-commit
    shutil.rmtree(f"{path}/_lineage/batch=1")
    shutil.rmtree(f"{path}/_metrics/batch=1")
    assert not pipe.verify_lineage()["ok"]

    healed = pipe.ensure_sidecars()
    assert healed == [1]
    audit = pipe.verify_lineage()
    assert audit["ok"], audit["problems"]

    # the skipped-batch path heals too (idempotent; nothing missing now)
    rep = pipe.run_batch(OffsetRange(-1, 299), log_end_seq=599)
    assert rep.skipped


def test_stale_lock_from_dead_writer_is_broken(spark, tmp_table_dir):
    """A writer SIGKILLed between lock creation and release must not
    wedge the table: the next commit detects the dead pid (or an
    over-TTL mtime) and breaks the lock instead of raising."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))

    lock = os.path.join(tmp_table_dir, "_commit.lock")
    # a pid that is certainly dead: fork a child that exits immediately
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    with open(lock, "w") as f:
        f.write(str(pid))
    # fresh mtime + dead pid → broken by the liveness probe
    t.merge_upsert(_batch(spark, [("u2", TS, 2, "v1", "insert")]))
    assert {r["url"] for r in t.read().collect()} == {"u1", "u2"}
    assert not os.path.exists(lock)

    # unreadable foreign lock, mtime past TTL → broken by age
    with open(lock, "w") as f:
        f.write("not-a-pid")
    old = os.stat(lock).st_mtime - 3600
    os.utime(lock, (old, old))
    t.merge_upsert(_batch(spark, [("u3", TS, 3, "v1", "insert")]))
    assert t.read().count() == 3
    assert not os.path.exists(lock)


def test_live_lock_still_blocks_commit(spark, tmp_table_dir):
    """A FRESH lock held by a live pid (this process) must still make a
    concurrent commit wait and fail — stale-breaking must not turn the
    lock into a no-op."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    lock = os.path.join(tmp_table_dir, "_commit.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    try:
        with pytest.raises(CommitConflictError):
            t._acquire_lock(wait=0.5)
    finally:
        os.unlink(lock)


def test_stale_break_verifies_inode_and_restores_live_lock(spark, tmp_path):
    """ADVICE r3 TOCTOU: if the 'stale' lock was replaced by a LIVE
    writer's fresh lock between the staleness check and the break, the
    break must not steal it — inode mismatch aborts (and a mid-rename
    steal is restored)."""
    import os

    from pyspark.sql import types as T

    from clinvar_ingest_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("seq", T.LongType())])
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 2).create(schema)
    lock = os.path.join(t.path, "_commit.lock")

    # dead-holder stale lock, then REPLACED by a live writer before the
    # breaker runs (simulates the race): break must be a no-op
    with open(lock, "w") as f:
        f.write("999999999")
    os.utime(lock, (0, 0))                      # ancient -> stale
    stale_ino = os.stat(lock).st_ino
    os.unlink(lock)                             # holder 'released'
    with open(lock, "w") as f:                  # live writer re-acquired
        f.write(str(os.getpid()))
    live_ino = os.stat(lock).st_ino
    t._break_stale_lock(lock, stale_ino)
    assert os.path.exists(lock)
    assert os.stat(lock).st_ino == live_ino     # untouched

    # matching inode + genuinely stale -> broken
    os.unlink(lock)
    with open(lock, "w") as f:
        f.write("999999999")
    os.utime(lock, (0, 0))
    t._break_stale_lock(lock, os.stat(lock).st_ino)
    assert not os.path.exists(lock)


def test_release_lock_checks_ownership(spark, tmp_path):
    """A TTL-broken slow writer must not unlink its successor's lock."""
    import os

    from pyspark.sql import types as T

    from clinvar_ingest_spark.tables import SnapshotTable

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("seq", T.LongType())])
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 2).create(schema)
    lock = os.path.join(t.path, "_commit.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid() + 12345))       # someone else's lock
    t._release_lock(lock)
    assert os.path.exists(lock)                 # NOT removed
    with open(lock, "w") as f:
        f.write(str(os.getpid()))               # ours
    t._release_lock(lock)
    assert not os.path.exists(lock)


def test_racing_pipeline_cannot_commit_a_fenced_range(
    spark, tmp_path, monkeypatch
):
    """The HWM fence and the merge's CAS read ONE manifest: when another
    pipeline commits the same range after this batch passed its fence,
    this batch's commit fails instead of applying the range twice, and
    its retry is fenced off."""
    path = str(tmp_path / "t")
    log = synthetic_change_log(spark, 600, n_urls=100)
    SnapshotTable(spark, path, "url", 8).create(PAGES)
    pipe_a = IngestPipeline(
        spark, ChangeLogSource(log), SnapshotTable(spark, path, "url", 8)
    )
    pipe_b = IngestPipeline(
        spark, ChangeLogSource(log), SnapshotTable(spark, path, "url", 8)
    )
    pipe_a.run_batch(OffsetRange(-1, 299), log_end_seq=599)

    merge_a = pipe_a.target.merge_upsert

    def racing_merge(*args, **kwargs):
        # B commits the range between A's fence and A's merge
        assert not pipe_b.run_batch(OffsetRange(299, 599), log_end_seq=599).skipped
        return merge_a(*args, **kwargs)

    monkeypatch.setattr(pipe_a.target, "merge_upsert", racing_merge)
    with pytest.raises(CommitConflictError):
        pipe_a.run_batch(OffsetRange(299, 599), log_end_seq=599)
    monkeypatch.undo()

    t = pipe_a.target
    batch_ids = [
        t._load_manifest(n)["properties"].get("batch_id") for n in t.history()
    ]
    assert batch_ids.count(1) == 1
    assert pipe_a.run_batch(OffsetRange(299, 599), log_end_seq=599).skipped


def test_batch_commit_parses_head_once(spark, tmp_path, monkeypatch):
    """A non-bootstrap batch parses its head manifest once: the fence,
    the plan and the commit share it, the parent is not re-read to carry
    the evolution log forward, and the commit walks no chain (orphan
    manifests wait for vacuum_orphans)."""
    path = str(tmp_path / "t")
    tbl = SnapshotTable(spark, path, "url", 8).create(PAGES)
    log = synthetic_change_log(spark, 600, n_urls=100)
    pipe = IngestPipeline(spark, ChangeLogSource(log), tbl)
    pipe.run_batch(OffsetRange(-1, 299), log_end_seq=599)

    loads = []
    orig = SnapshotTable._load_manifest

    def counting(self, name):
        loads.append(name)
        return orig(self, name)

    monkeypatch.setattr(SnapshotTable, "_load_manifest", counting)
    pipe.run_batch(OffsetRange(299, 599), log_end_seq=599)
    monkeypatch.undo()
    assert len(loads) == 1
