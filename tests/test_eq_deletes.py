"""Equality deletes (Iceberg v2 delta DELETE): delete_where(mode=
"delta") rewrites nothing — matching keys land in small delete files
and reads anti-join rows from OLDER files against them, so later
(re)writes of the same key survive. compact() folds the delete files
away and returns reads to join-free scans.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.tables import SnapshotTable

TS = dt.datetime(2020, 1, 1)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _mk(spark, path, **kw):
    return SnapshotTable(spark, path, key_col="url", n_buckets=4, **kw).create(
        SCHEMA
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, text string, op string"
    )


def _ts(s):
    return TS + dt.timedelta(seconds=s)


def _data_files(t):
    return sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )


def test_delta_delete_rewrites_nothing_and_filters_reads(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(10)
    ]))
    files_before = _data_files(t)
    sid_pre = t.snapshot_id()

    res = t.delete_where(F.col("seq") % 2 == 0, mode="delta")
    assert res is not None and res.n_deletes == 5
    assert _data_files(t) == files_before          # ZERO rewrites
    assert len(t.current_manifest()["delete_files"]) >= 1

    urls = {r["url"] for r in t.read().select("url").collect()}
    assert urls == {f"u{i}" for i in range(10) if i % 2 == 1}
    # time travel before the delete still serves every row
    assert t.read_at(sid_pre).count() == 10
    # no matches -> None, no commit
    assert t.delete_where(F.col("seq") > 999, mode="delta") is None
    with pytest.raises(ValueError, match="unknown delete mode"):
        t.delete_where(F.col("seq") > 0, mode="nope")


def test_delta_delete_reinsert_survives_and_tombstones_kept(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        ("a", _ts(1), 1, "a1", "update"),
        ("b", _ts(2), 2, "b1", "update"),
        ("c", _ts(3), 3, None, "delete"),   # stored tombstone
    ]))
    t.delete_where(F.lit(True), mode="delta")  # delete every live row
    assert t.read().count() == 0
    # the tombstone is NOT eq-deleted: a late stale event must not
    # resurrect key c
    dead = t.read(include_deleted=True).filter(F.col("_deleted"))
    assert [r["url"] for r in dead.collect()] == ["c"]
    t.merge_upsert(_batch(spark, [("c", _ts(1), 0, "stale", "update")]))
    assert "c" not in {r["url"] for r in t.read().collect()}

    # rows written AFTER the delete commit survive (fsid >= del sid)
    t.merge_upsert(_batch(spark, [("a", _ts(9), 9, "a2", "update")]))
    rows = {r["url"]: r["text"] for r in t.read().collect()}
    assert rows == {"a": "a2"}


def test_delta_delete_on_mor_and_compaction_folds(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(8)
    ]), merge_mode="mor")
    t.merge_upsert(_batch(spark, [
        ("u1", _ts(21), 21, "v1b", "update"),
    ]), merge_mode="mor")
    t.delete_where(F.col("seq") % 4 == 0, mode="delta")   # u0, u4 (u1's
    # winner is seq 21; its superseded version seq 1 doesn't match)
    expect = {"u1": "v1b", "u2": "v2", "u3": "v3", "u5": "v5",
              "u6": "v6", "u7": "v7"}
    assert {r["url"]: r["text"] for r in t.read().collect()} == expect

    # a post-delete MoR update re-inserts u0
    t.merge_upsert(_batch(spark, [("u0", _ts(30), 30, "v0b", "update")]),
                   merge_mode="mor")
    expect["u0"] = "v0b"
    assert {r["url"]: r["text"] for r in t.read().collect()} == expect

    # compaction folds the delete files away; state is unchanged and
    # the manifest carries no delete entries anymore
    t.compact()
    assert t.current_manifest().get("delete_files", []) == []
    assert {r["url"]: r["text"] for r in t.read().collect()} == expect
    # join-free again: the read plan has no Join node
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_vacuum_tombstones_drops_delete_files(spark, tmp_table_dir):
    """vacuum_tombstones rewrites every row through overwrite(), so the
    new head names no equality-delete file and reads plan no anti-join;
    the visible rows are unchanged."""
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(20)
    ]))
    t.delete_where(F.col("seq") < 5, mode="delta")
    before = sorted((r["url"], r["text"]) for r in t.read().collect())
    assert len(before) == 15

    t.vacuum_tombstones(_ts(0))
    assert not t.current_manifest().get("delete_files")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    assert sorted((r["url"], r["text"]) for r in t.read().collect()) == before


def test_chained_delta_deletes_and_vacuum_keeps_delete_files(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(6)
    ]))
    t.delete_where(F.col("seq") == 0, mode="delta")
    t.delete_where(F.col("seq") == 1, mode="delta")
    assert {r["url"] for r in t.read().collect()} == {"u2", "u3", "u4", "u5"}

    swept = t.vacuum_orphans()
    # delete files are GC roots — state still correct after the sweep
    assert {r["url"] for r in t.read().collect()} == {"u2", "u3", "u4", "u5"}
    assert swept["removed"] == 0 or t.read().count() == 4


def test_delta_update_appends_and_masks(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(6)
    ]))
    files_before = _data_files(t)
    sid_pre = t.snapshot_id()

    res = t.update_where(
        F.col("seq") % 2 == 0,
        {"text": F.concat(F.col("text"), F.lit("!"))},
        mode="delta",
    )
    assert res is not None and res.n_upserts == 3
    # old files untouched, new delta files appended
    assert set(files_before) < set(_data_files(t))
    rows = {r["url"]: r["text"] for r in t.read().collect()}
    assert rows == {
        "u0": "v0!", "u1": "v1", "u2": "v2!",
        "u3": "v3", "u4": "v4!", "u5": "v5",
    }
    assert t.read().count() == 6          # exactly one version per key
    assert t.read_at(sid_pre).count() == 6  # time travel: pre-update

    # chained delta update composes (second masks the first's copies)
    t.update_where(F.col("seq") == 0, {"text": F.lit("zero")}, mode="delta")
    rows = {r["url"]: r["text"] for r in t.read().collect()}
    assert rows["u0"] == "zero" and rows["u2"] == "v2!"
    assert t.read().count() == 6

    # compaction folds deltas + delete files; values keep
    t.compact()
    assert t.current_manifest().get("delete_files", []) == []
    assert {r["url"]: r["text"] for r in t.read().collect()} == rows

    # no matches -> None; guards
    assert t.update_where(F.col("seq") > 99, {"text": F.lit("x")},
                          mode="delta") is None
    with pytest.raises(ValueError, match="bucketing key"):
        t.update_where(F.lit(True), {"url": F.lit("x")}, mode="delta")
    with pytest.raises(ValueError, match="unknown update mode"):
        t.update_where(F.lit(True), {"text": F.lit("x")}, mode="bad")


def test_pruned_read_pushes_bucket_filter_into_delete_scan(spark, tmp_table_dir):
    """A bucket-pruned read must not scan the whole delete key set: the
    bucket filter reaches the delete-file parquet scan as a pushed
    predicate (the bucket column is stored in the delete file for
    exactly this)."""
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        (f"u{i}", _ts(i), i, f"v{i}", "update") for i in range(12)
    ]))
    t.delete_where(F.col("seq") % 3 == 0, mode="delta")
    some_bucket = int(next(iter(t.current_manifest()["buckets"])))
    plan = (
        t.read(buckets=[some_bucket])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(_bucket" in plan or "EqualTo(_bucket" in plan, plan[:4000]
