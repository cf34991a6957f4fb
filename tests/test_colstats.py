"""Per-file min/max column-stats sidecar (tables.py): the Iceberg
manifest file-stats analog — range predicates skip whole files whose
[min, max] interval can't overlap. CDC data is time-correlated
("recent rows live in recent files"), so a warc_ts/seq range scan
should touch only the matching commit epochs."""

import datetime as dt
import os

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


def _split_urls_by_bucket(spark, n_buckets, lo_buckets, n_each=30):
    """Candidate urls split into (group in lo_buckets, group not in)
    using the table's own bucket transform."""
    cands = spark.createDataFrame(
        [(f"https://x.org/p{i}",) for i in range(400)], "url string"
    ).select(
        "url",
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    )
    rows = cands.collect()
    a = [r["url"] for r in rows if r["b"] in lo_buckets][:n_each]
    b = [r["url"] for r in rows if r["b"] not in lo_buckets][:n_each]
    assert len(a) == n_each and len(b) == n_each
    return a, b


def _mk_two_epoch_table(spark, path, n_buckets=8):
    """Batch 1 (seq 0..29) lands only in buckets 0-3, batch 2
    (seq 100..129, +1 day) only in buckets 4-7 — so per-file seq and
    warc_ts ranges are disjoint across the two commits."""
    t = SnapshotTable(spark, path, key_col="url", n_buckets=n_buckets).create(
        SCHEMA
    )
    a, b = _split_urls_by_bucket(spark, n_buckets, {0, 1, 2, 3})
    t.merge_upsert(
        _batch(spark, [(u, TS, i, f"a{i}", "insert") for i, u in enumerate(a)])
    )
    t.merge_upsert(
        _batch(
            spark,
            [
                (u, TS + dt.timedelta(days=1), 100 + i, f"b{i}", "insert")
                for i, u in enumerate(b)
            ],
        )
    )
    return t


def test_stats_prune_skips_disjoint_files(spark, tmp_table_dir):
    t = _mk_two_epoch_table(spark, tmp_table_dir)
    t.build_column_stats(["seq", "warc_ts"])
    m = t.current_manifest()
    all_files = {os.path.basename(f) for f in t._files(m)}

    kept = t.stats_prune_files("seq", 100, 200)
    assert kept is not None and kept and kept < all_files  # real pruning
    got = {r["seq"] for r in t.range_scan("seq", 100, 200).collect()}
    want = {
        r["seq"]
        for r in t.read().filter(F.col("seq").between(100, 200)).collect()
    }
    assert got == want and len(want) == 30

    # timestamp bounds prune the other epoch
    kept_ts = t.stats_prune_files("warc_ts", None, TS)
    assert kept_ts is not None and kept_ts < all_files
    n = t.range_scan("warc_ts", None, TS).count()
    assert n == 30

    # one-sided + empty-result ranges
    assert t.range_scan("seq", lo=100).count() == 30
    assert t.stats_prune_files("seq", 5000, 6000) == set()
    assert t.range_scan("seq", 5000, 6000).count() == 0


def test_stats_fallback_without_sidecar(spark, tmp_table_dir):
    t = _mk_two_epoch_table(spark, tmp_table_dir)
    # no sidecar yet: prune unavailable, scan still correct
    assert t.stats_prune_files("seq", 0, 10) is None
    assert t.range_scan("seq", 100, 130).count() == 30
    t.build_column_stats(["seq"])
    assert t.stats_prune_files("seq", 0, 10) is not None
    # a NEW commit outdates the sidecar: prune degrades to none again
    t.merge_upsert(
        _batch(spark, [("https://y.org/new", TS, 999, "n", "insert")])
    )
    assert t.stats_prune_files("seq", 0, 10) is None
    assert t.range_scan("seq", 999, 999).count() == 1
    # column not covered by the sidecar
    t.build_column_stats(["seq"])
    assert t.stats_prune_files("warc_ts", None, TS) is None


def test_stats_all_null_files_skipped(spark, tmp_table_dir):
    n_buckets = 8
    t = SnapshotTable(
        spark, tmp_table_dir, key_col="url", n_buckets=n_buckets
    ).create(SCHEMA)
    a, b = _split_urls_by_bucket(spark, n_buckets, {0, 1, 2, 3}, n_each=10)
    # group A: text all-null; group B: text populated
    t.merge_upsert(
        _batch(spark, [(u, TS, i, None, "insert") for i, u in enumerate(a)])
    )
    t.merge_upsert(
        _batch(
            spark,
            [(u, TS, 100 + i, f"b{i}", "insert") for i, u in enumerate(b)],
        )
    )
    t.build_column_stats(["text"])
    kept = t.stats_prune_files("text", "a", "z")
    m = t.current_manifest()
    all_files = {os.path.basename(f) for f in t._files(m)}
    assert kept is not None and kept < all_files  # all-null files skipped
    assert t.range_scan("text", "a", "z").count() == 10


def test_stats_guard_mor_and_eq_deletes(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, key_col="url", n_buckets=4).create(
        SCHEMA
    )
    t.merge_upsert(
        _batch(spark, [(f"u{i}", TS, i, "x", "insert") for i in range(20)]),
        merge_mode="mor",
    )
    with pytest.raises(ValueError):
        t.build_column_stats(["seq"])
    # range_scan never prunes on MoR — still correct
    assert t.range_scan("seq", 5, 9).count() == 5
    # compact folds the deltas; stats become buildable
    t.compact()
    t.build_column_stats(["seq"])
    assert t.range_scan("seq", 5, 9).count() == 5


def test_stats_tombstones_widen_not_leak(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, key_col="url", n_buckets=4).create(
        SCHEMA
    )
    t.merge_upsert(
        _batch(spark, [(f"u{i}", TS, i, "x", "insert") for i in range(10)])
    )
    t.merge_upsert(
        _batch(spark, [("u3", TS + dt.timedelta(days=1), 50, None, "delete")])
    )
    t.build_column_stats(["seq"])
    # the tombstone's seq=50 widened its file's bounds, but the read
    # still filters it: no deleted row leaks out of a covering range
    got = {r["url"] for r in t.range_scan("seq", 0, 100).collect()}
    assert "u3" not in got and len(got) == 9

