"""Branch refs (Iceberg branch analog, tables.py): named heads that
advance through the same commit CAS as main, isolated from main reads,
GC-rooted until dropped/fast-forwarded, published via fast-forward only
when main is an ancestor. Every write path (merge, DML, compact) works
on a branch view because head resolution is branch-aware."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.tables import CommitConflictError

from tests.test_tables import TS, _batch, _mk


def test_branch_commits_isolated_then_fast_forward(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.create_branch("dev")
    dev = t.branch("dev")
    dev.merge_upsert(
        _batch(spark, [("u2", TS, 2, "v2", "insert")])
    )
    dev.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 3, "v1b", "update")])
    )
    # main untouched by branch commits
    assert {r["url"]: r["text"] for r in t.read().collect()} == {"u1": "v1"}
    assert {r["url"]: r["text"] for r in dev.read().collect()} == {
        "u1": "v1b",
        "u2": "v2",
    }
    sid = t.fast_forward("dev")
    assert sid == 3
    with pytest.raises(ValueError):
        t.branch("dev")  # fast-forward dropped the ref
    assert {r["url"]: r["text"] for r in t.read().collect()} == {
        "u1": "v1b",
        "u2": "v2",
    }


def test_fast_forward_refused_on_divergence(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.create_branch("dev")
    t.branch("dev").merge_upsert(
        _batch(spark, [("u2", TS, 2, "v2", "insert")])
    )
    # main advances independently -> branch no longer fast-forwardable
    t.merge_upsert(_batch(spark, [("u3", TS, 3, "v3", "insert")]))
    with pytest.raises(CommitConflictError):
        t.fast_forward("dev")
    t.drop_branch("dev")
    with pytest.raises(ValueError):
        t.branch("dev")
    assert set(r["url"] for r in t.read().collect()) == {"u1", "u3"}


def test_branch_dml_compact_and_time_travel(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    rows = [(f"u{i}", TS, i, f"v{i}", "insert") for i in range(20)]
    t.merge_upsert(_batch(spark, rows))
    t.create_branch("fix")
    fix = t.branch("fix")
    fix.delete_where(F.col("seq") < 10)
    fix.compact()
    assert t.read().count() == 20          # main keeps all rows
    assert fix.read().count() == 10
    # branch-only snapshots time-travel on the branch view
    assert fix.read_at(1).count() == 20
    assert fix.read_at(2).count() == 10


def test_branch_manifests_are_gc_roots(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.create_branch("dev")
    dev = t.branch("dev")
    dev.merge_upsert(_batch(spark, [("u2", TS, 2, "v2", "insert")]))
    t.merge_upsert(_batch(spark, [("u3", TS, 3, "v3", "insert")]))
    assert {r["url"] for r in dev.read().collect()} == {"u1", "u2"}
    # vacuum on main keeps branch manifests and files — branch heads
    # are roots; after drop, they are orphans
    assert t.vacuum_orphans()["removed"] == 0
    assert {r["url"] for r in dev.read().collect()} == {"u1", "u2"}
    mdir = os.path.join(tmp_table_dir, "_manifests")
    assert len(os.listdir(mdir)) == len(t.history()) + 1
    t.drop_branch("dev")
    assert t.vacuum_orphans()["removed"] > 0
    assert len(os.listdir(mdir)) == len(t.history())


def test_branch_from_snapshot_and_expiry_guard(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.merge_upsert(_batch(spark, [("u2", TS, 2, "v2", "insert")]))
    t.create_branch("old", snapshot_id=1)
    assert {r["url"] for r in t.branch("old").read().collect()} == {"u1"}
    with pytest.raises(ValueError):
        t.vacuum_orphans(keep_snapshots=1)
    with pytest.raises(ValueError):
        t.create_branch("old")  # duplicate name refused


def test_purge_key_covers_branch_only_commits(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.create_branch("dev")
    dev = t.branch("dev")
    dev.merge_upsert(_batch(spark, [("gdpr", TS, 2, "pii", "insert")]))
    res = t.purge_key("gdpr")
    assert res.rows_removed >= 1
    assert dev.read().filter(F.col("url") == "gdpr").count() == 0
    with pytest.raises(ValueError):
        dev.purge_key("u1")  # maintenance runs on main


def test_branch_guard_rails(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    t.create_branch("dev")
    dev = t.branch("dev")
    with pytest.raises(ValueError):
        dev.branch("dev")  # no nested branch views
    with pytest.raises(ValueError):
        dev.create_branch("x")
    with pytest.raises(ValueError):
        t.branch("nope")
    t.drop_branch("dev")
    with pytest.raises(ValueError):
        dev.read()  # dangling view fails loudly
