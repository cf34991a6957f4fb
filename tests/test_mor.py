"""Merge-on-read mode: append-only deltas, LWW at read, compact folds.

The scale path for uniform update keys (SCALE.md): no per-batch
rewrite; correctness must be indistinguishable from copy-on-write.
"""

import datetime as dt

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource, synthetic_change_log
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import (
    BUCKET_COL,
    DELETED_COL,
    SnapshotTable,
    bucket_expr,
)

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

N = 1200


def _pipe(spark, path, mode):
    tbl = SnapshotTable(spark, path, "url", 8).create(PAGES)
    src = ChangeLogSource(synthetic_change_log(spark, N, n_urls=150))
    return IngestPipeline(spark, src, tbl, merge_mode=mode)


def _state(pipe):
    return sorted(
        (r["url"], r["seq"], r["text"], r["lang"])
        for r in pipe.current_state().collect()
    )


def test_mor_equals_cow(spark, tmp_path):
    cow = _pipe(spark, str(tmp_path / "cow"), "cow")
    cow.run_to_end(span=300)
    mor = _pipe(spark, str(tmp_path / "mor"), "mor")
    mor.run_to_end(span=300)
    assert _state(cow) == _state(mor)

    # MoR never rewrote: batch-1 base files still listed verbatim, file
    # counts grow per batch
    m = mor.target.current_manifest()
    assert m["read_mode"] == "lww"
    assert any(len(f) >= 3 for f in m["buckets"].values())
    first = None
    for name in mor.target.history():
        import json

        mm = json.load(open(f"{mor.target.path}/_manifests/{name}"))
        if mm["snapshot_id"] == 1:
            first = mm
    for b, files in first["buckets"].items():
        assert set(files) <= set(m["buckets"][b])


def test_mor_compact_resolves_to_plain(spark, tmp_path):
    mor = _pipe(spark, str(tmp_path / "mor"), "mor")
    mor.run_to_end(span=300)
    before = _state(mor)
    res = mor.target.compact()
    assert res is not None
    m = mor.target.current_manifest()
    assert m["read_mode"] == "plain"
    assert all(len(f) == 1 for f in m["buckets"].values())
    assert _state(mor) == before
    # further MoR batches on the compacted table flip it back to lww
    src2 = ChangeLogSource(synthetic_change_log(spark, 2 * N, n_urls=150))
    mor2 = IngestPipeline(
        spark, src2, SnapshotTable(spark, str(tmp_path / "mor"), "url", 8),
        merge_mode="mor",
    )
    mor2.run_to_end(span=N)
    assert mor2.target.current_manifest()["read_mode"] == "lww"
    # and the combined history equals a pure-cow replay of the full log
    ref = SnapshotTable(spark, str(tmp_path / "ref"), "url", 8).create(PAGES)
    refp = IngestPipeline(spark, src2, ref, merge_mode="cow")
    refp.run_to_end(span=N)
    assert _state(mor2) == _state(refp)


def test_mor_resume_and_fencing(spark, tmp_path):
    path = str(tmp_path / "t")
    p1 = _pipe(spark, path, "mor")
    from clinvar_ingest_spark.sources.change_log import OffsetRange

    p1.run_batch(OffsetRange(-1, 500), log_end_seq=N - 1)
    p2 = IngestPipeline(
        spark, p1.source, SnapshotTable(spark, path, "url", 8), merge_mode="mor"
    )
    assert p2.global_hwm() == 500
    p2.run_to_end(span=400)
    assert p2.run_batch(OffsetRange(-1, 500)).skipped
    full = _pipe(spark, str(tmp_path / "full"), "mor")
    full.run_to_end(span=N)
    assert _state(p2) == _state(full)


def test_mor_schema_evolution(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), "url", 8).create(
        T.StructType([f for f in PAGES.fields if f.name != "lang"])
    )
    old = synthetic_change_log(spark, 400, n_urls=80, with_lang=False)
    new = synthetic_change_log(spark, 800, n_urls=80, with_lang=True).filter(
        "seq >= 400"
    )
    IngestPipeline(spark, ChangeLogSource(old), tbl, merge_mode="mor").run_to_end(
        span=400
    )
    assert "lang" not in [f.name for f in tbl.schema().fields]
    p2 = IngestPipeline(spark, ChangeLogSource(new), tbl, merge_mode="mor")
    p2.run_to_end(span=400)
    assert "lang" in [f.name for f in tbl.schema().fields]
    rows = p2.current_state().collect()
    for r in rows:
        if r["seq"] >= 400:
            assert r["lang"] is not None
        else:
            assert r["lang"] is None  # old delta files read back with NULL


# -- what each commit path carries forward on a merge-on-read table ---
_ROWS_DDL = "url string, warc_ts timestamp, seq long, text string, op string"


def _mor_table(spark, path):
    """A MoR table with deltas over a CoW base, tombstones and one
    pending equality-delete file."""
    ts = dt.datetime(2020, 1, 1)
    t = SnapshotTable(spark, path, "url", 8).create(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("seq", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )

    def rows(lo, hi, seq0, op="insert"):
        return spark.createDataFrame(
            [
                (f"u{i}", ts + dt.timedelta(seconds=seq0 + i), seq0 + i,
                 f"t{seq0 + i}", op)
                for i in range(lo, hi)
            ],
            _ROWS_DDL,
        )

    t.merge_upsert(rows(0, 30, 0))
    t.merge_upsert(rows(10, 40, 100), merge_mode="mor")
    t.merge_upsert(rows(0, 3, 200, op="delete"), merge_mode="mor")
    t.delete_where(F.col("url") == "u20", mode="delta")
    return t


def _footer_bucket_rows(m):
    return {
        b: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        for b, fs in m["buckets"].items()
    }


_META_OPS = {
    "rename_column": lambda t: t.rename_column("text", "body"),
    "add_column": lambda t: t.add_column("extra", "string", default="d"),
    "delete_where_delta": lambda t: t.delete_where(
        F.col("url") == "u25", mode="delta"
    ),
}


@pytest.mark.parametrize("op", sorted(_META_OPS))
def test_metadata_commit_on_mor_keeps_files_stats_and_read_mode(
    spark, tmp_path, op
):
    """A commit that writes no data file copies the parent's file lists,
    stats (MoR's raw ``n_rows_raw`` count, read without any footer),
    read mode, sort order and pending equality deletes forward."""
    t = _mor_table(spark, str(tmp_path / "t"))
    parent = t.current_manifest()
    assert parent["read_mode"] == "lww" and "n_rows_raw" in parent["stats"]
    before = sorted(r["url"] for r in t.read().collect())

    res = _META_OPS[op](t)

    m = t.current_manifest()
    assert m["snapshot_id"] == parent["snapshot_id"] + 1
    assert m["read_mode"] == "lww"
    assert m["order_cols"] == parent["order_cols"]
    assert m["stats"] == parent["stats"]
    assert m["buckets"] == parent["buckets"]
    assert m["bucket_rows"] == parent["bucket_rows"] == _footer_bucket_rows(m)
    assert sum(m["bucket_rows"].values()) == m["stats"]["n_rows_raw"]
    assert m["delete_files"][: len(parent["delete_files"])] == (
        parent["delete_files"]
    )
    # a MoR table records no resolved row count: the result says so
    # with -1, the same on every metadata-only path
    assert res.n_rows_after == -1
    assert res.touched_buckets == [] and res.n_upserts == 0
    after = sorted(r["url"] for r in t.read().collect())
    if op == "delete_where_delta":
        assert res.n_deletes == 1
        assert len(m["delete_files"]) > len(parent["delete_files"])
        assert after == [u for u in before if u != "u25"]
    else:
        assert res.n_deletes == 0
        assert m["delete_files"] == parent["delete_files"]
        assert after == before


_REWRITE_OPS = {
    "overwrite": lambda t: t.overwrite(
        t.read(include_deleted=True).drop(BUCKET_COL)
    ),
    "vacuum_tombstones": lambda t: t.vacuum_tombstones(dt.datetime(2021, 1, 1)),
}


@pytest.mark.parametrize("op", sorted(_REWRITE_OPS))
def test_full_rewrite_of_mor_table_commits_plain_with_footer_count(
    spark, tmp_path, op
):
    t = _mor_table(spark, str(tmp_path / "t"))
    live = sorted(r["url"] for r in t.read().collect())

    res = _REWRITE_OPS[op](t)

    m = t.current_manifest()
    assert m["read_mode"] == "plain"
    assert m["bucket_rows"] == _footer_bucket_rows(m)
    footer = sum(m["bucket_rows"].values())
    assert res.n_rows_after == footer == m["stats"]["n_rows"]
    assert res.touched_buckets == sorted(int(b) for b in m["buckets"])
    assert sorted(r["url"] for r in t.read().collect()) == live
    if op == "vacuum_tombstones":
        assert footer == len(live)  # every tombstone was dropped


def test_overwrite_creates_missing_table_with_write_job_only(spark, tmp_path):
    """overwrite() on a path with no table commits snapshot 0, and runs
    no Spark job besides its bucket write (row counts come from the
    writer, not from a count() over the written files)."""
    df = spark.createDataFrame(
        [(f"u{i}", dt.datetime(2020, 1, 1), i, "x", "insert") for i in range(20)],
        _ROWS_DDL,
    ).drop("op")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        return len(tracker.getJobIdsForGroup(group)), out

    probe = SnapshotTable(spark, str(tmp_path / "probe"), "url", 4)
    wide = df.withColumn(BUCKET_COL, bucket_expr("url", 4)).withColumn(
        DELETED_COL, F.lit(False)
    )
    write_jobs, _ = jobs("probe-write", lambda: probe._write_buckets(wide, 0))

    t = SnapshotTable(spark, str(tmp_path / "new"), "url", 4)
    n_jobs, res = jobs("overwrite", lambda: t.overwrite(df))
    assert n_jobs == write_jobs
    assert res.snapshot_id == 0
    assert res.n_rows_after == res.n_upserts == 20
    assert t.current_manifest()["stats"] == {"n_rows": 20}
    assert t.current_manifest()["parent_name"] is None
