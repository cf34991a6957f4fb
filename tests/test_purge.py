"""GDPR key purge (tables.py purge_key): the key must vanish from the
head, every historical snapshot, tags, and MoR deltas — while every
other row, the snapshot chain, stats, and time travel stay intact."""

import datetime as dt
import os

import pyarrow.parquet as pq
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


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, text string, op string"
    )


def _mk(spark, path, merge_mode="cow", n_buckets=4):
    t = SnapshotTable(spark, path, "url", n_buckets).create(SCHEMA)
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS, 1, "one v1", "insert"),
                ("u2", TS, 2, "two v1", "insert"),
                ("u3", TS, 3, "three v1", "insert"),
            ],
        ),
        merge_mode=merge_mode,
    )
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS + dt.timedelta(1), 4, "one v2", "update"),
                ("u4", TS, 5, "four v1", "insert"),
            ],
        ),
        merge_mode=merge_mode,
    )
    return t


def _urls_at(t, sid):
    return sorted(
        r["url"] for r in t.read_at(sid).select("url").collect()
    )


def test_purge_removes_key_from_all_snapshots(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    sids = sorted(t._load_manifest(n)["snapshot_id"] for n in t.history())
    res = t.purge_key("u1")
    assert res.rows_removed >= 2  # v1 + v2 images
    assert res.manifests_updated >= 2
    # gone from head and every historical snapshot
    for sid in sids[1:]:
        assert "u1" not in _urls_at(t, sid)
    # everyone else intact, with values preserved
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"u2": "two v1", "u3": "three v1", "u4": "four v1"}


def test_purge_scrubs_bytes_on_disk(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.purge_key("u1")
    data_root = os.path.join(t.path, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for fn in files:
            with open(os.path.join(dirpath, fn), "rb") as f:
                assert b"one v1" not in f.read()  # the purged payload
    # audit log carries a hash, never the key
    m = t.current_manifest()
    assert m.get("purges") and "u1" not in str(m["purges"])


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_purge_adjusts_stats_exactly(spark, tmp_table_dir, merge_mode):
    """The head's row-count stat (MoR: the raw ``n_rows_raw``) and its
    per-bucket totals drop by exactly the purged rows and still match
    the files' footers."""
    key = "n_rows_raw" if merge_mode == "mor" else "n_rows"
    t = _mk(spark, tmp_table_dir, merge_mode=merge_mode)
    before = int(t.current_manifest()["stats"][key])
    res = t.purge_key("u2")
    m = t.current_manifest()
    after = int(m["stats"][key])
    assert after == before - 1
    assert res.rows_removed >= 1
    footers = {
        b: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        for b, fs in m["buckets"].items()
    }
    assert m["bucket_rows"] == footers
    assert after == sum(footers.values())


def test_purge_mor_deltas(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, merge_mode="mor")
    t.purge_key("u1")
    assert "u1" not in {r["url"] for r in t.read().collect()}
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"u2": "two v1", "u3": "three v1", "u4": "four v1"}


def test_purge_absent_key_is_noop(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    files_before = sorted(
        f for m in [t.current_manifest()] for fs in m["buckets"].values()
        for f in fs
    )
    res = t.purge_key("nope")
    assert (res.rows_removed, res.files_rewritten, res.files_dropped) == (
        0, 0, 0,
    )
    files_after = sorted(
        f for m in [t.current_manifest()] for fs in m["buckets"].values()
        for f in fs
    )
    assert files_before == files_after


def test_purge_tombstoned_key_including_marker(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(
        _batch(spark, [("u3", TS + dt.timedelta(2), 6, None, "delete")])
    )
    t.purge_key("u3")
    # the tombstone row itself is physical data about the key: gone
    assert "u3" not in {
        r["url"] for r in t.read(include_deleted=True).collect()
    }
