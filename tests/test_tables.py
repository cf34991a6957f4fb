"""SnapshotTable: snapshot isolation, bucket-pruned merge, evolution.

Reference analogs: CTAS + LWW dedup (create_tables.py:161-286),
schema_version stamping (config.py:49), processing_history fencing.
"""

import datetime as dt
import json
import os

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


def _batch(spark, rows, with_lang=False):
    ddl = "url string, warc_ts timestamp, seq long, text string, op string"
    if with_lang:
        ddl += ", lang string"
    return spark.createDataFrame(rows, ddl)


def _mk(spark, path):
    return SnapshotTable(spark, path, key_col="url", n_buckets=8).create(SCHEMA)


def test_merge_insert_update_delete(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS, 1, "v1", "insert"),
                ("u2", TS, 2, "v1", "insert"),
            ],
        )
    )
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS + dt.timedelta(1), 3, "v2", "update"),
                ("u2", TS + dt.timedelta(1), 4, None, "delete"),
                ("u3", TS, 5, "v1", "insert"),
            ],
        )
    )
    got = {r["url"]: r["text"] for r in t.read().collect()}
    assert got == {"u1": "v2", "u3": "v1"}
    # tombstone retained in storage
    dead = t.read(include_deleted=True).filter(F.col("_deleted")).collect()
    assert [r["url"] for r in dead] == ["u2"]


def test_stale_update_loses_to_stored_tombstone(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(5), 1, None, "delete")]))
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(2), 2, "old", "update")]))
    assert t.read().count() == 0
    # but a genuinely newer update resurrects
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(9), 3, "new", "update")]))
    assert [r["text"] for r in t.read().collect()] == ["new"]


def test_merge_rewrites_only_touched_buckets(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    rows = [(f"u{i}", TS, i, "x", "insert") for i in range(50)]
    t.merge_upsert(_batch(spark, rows))
    m1 = t.current_manifest()
    res = t.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 99, "y", "update")])
    )
    m2 = t.current_manifest()
    assert len(res.touched_buckets) == 1
    tb = str(res.touched_buckets[0])
    for b, files in m2["buckets"].items():
        if b == tb:
            assert files != m1["buckets"][b]
        else:
            # untouched buckets carry the SAME physical files forward
            assert files == m1["buckets"][b]


def test_schema_evolution_additive(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    assert "lang" not in [f.name for f in t.schema().fields]
    t.merge_upsert(
        _batch(spark, [("u2", TS, 2, "v1", "insert", "en")], with_lang=True)
    )
    got = {r["url"]: r["lang"] for r in t.read().collect()}
    # old rows read back with NULL for the evolved column
    assert got == {"u1": None, "u2": "en"}
    assert "lang" in [f.name for f in t.schema().fields]


def test_time_travel_and_snapshot_isolation(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    s1 = t.snapshot_id()
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(1), 2, "v2", "update")]))
    assert [r["text"] for r in t.read_at(s1).filter(~F.col("_deleted")).collect()] == ["v1"]
    assert [r["text"] for r in t.read().collect()] == ["v2"]


def test_properties_commit_atomically_with_data(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(
        _batch(spark, [("u1", TS, 1, "v1", "insert")]),
        properties={"global_hwm": 1},
    )
    with open(os.path.join(tmp_table_dir, "_ptr")) as f:
        name = f.read().strip()
    with open(os.path.join(tmp_table_dir, "_manifests", name)) as f:
        m = json.load(f)
    assert m["properties"]["global_hwm"] == 1


def test_vacuum_tombstones(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, None, "delete"),
                                  ("u2", TS + dt.timedelta(10), 2, "v", "insert")]))
    assert t.read(include_deleted=True).count() == 2
    t.vacuum_tombstones(TS + dt.timedelta(5))
    assert t.read(include_deleted=True).filter(F.col("_deleted")).count() == 0
    assert [r["url"] for r in t.read().collect()] == ["u2"]


def test_direct_writer_roundtrips_timestamps_and_binary(spark, tmp_table_dir):
    """The direct (pyarrow) writer must round-trip every column type the
    pages schema uses bit-exactly — timestamps in particular: cross-batch
    LWW compares STORED warc_ts against new events, so a shifted or
    NTZ-mangled timestamp would silently corrupt merge ordering."""
    import datetime as dt

    from pyspark.sql import types as T

    from clinvar_ingest_spark.tables import SnapshotTable

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ])
    t = SnapshotTable(spark, tmp_table_dir, "url", 4).create(schema)
    ts = dt.datetime(2021, 6, 30, 23, 59, 59, 123456)
    t.merge_upsert(
        spark.createDataFrame(
            [("u1", ts, 7, b"\x00\xffbin", "x", "insert")],
            "url string, warc_ts timestamp, seq long, html binary, "
            "text string, op string",
        )
    )
    row = t.read().collect()[0]
    assert row["warc_ts"] == ts  # microsecond-exact
    assert bytes(row["html"]) == b"\x00\xffbin"
    assert t.schema()["warc_ts"].dataType.typeName() == "timestamp"
    # and the stored value participates correctly in a later LWW merge
    t.merge_upsert(
        spark.createDataFrame(
            [("u1", ts - dt.timedelta(seconds=1), 8, None, "stale", "update")],
            "url string, warc_ts timestamp, seq long, html binary, "
            "text string, op string",
        )
    )
    assert t.read().collect()[0]["text"] == "x"  # older ts lost LWW


def test_merge_into_clauses(spark, tmp_table_dir):
    """General MERGE INTO: matched-delete beats matched-update, update
    expressions see both sides, unmatched source rows insert, and a
    stored tombstone is replaced by the insert clause."""
    import pytest

    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS, 1, "old1", "insert"),
                ("u2", TS, 2, "old2", "insert"),
                ("u3", TS, 3, "old3", "insert"),
                ("u4", TS, 4, "old4", "delete"),  # stored tombstone
            ],
        )
    )
    src = spark.createDataFrame(
        [
            ("u1", TS, 10, "new1"),   # matched -> update
            ("u2", TS, 11, "drop"),   # matched + delete predicate
            ("u4", TS, 12, "back4"),  # tombstoned -> insert replaces
            ("u9", TS, 13, "new9"),   # unmatched -> insert
        ],
        "url string, warc_ts timestamp, seq long, text string",
    )
    t.merge_into(
        src,
        when_matched_update={
            "text": F.concat_ws("+", F.col("t.text"), F.col("s.text")),
            "seq": F.col("s.seq"),
        },
        when_matched_delete=F.col("s.text") == "drop",
    )
    state = {
        r["url"]: (r["seq"], r["text"])
        for r in t.read().select("url", "seq", "text").collect()
    }
    assert state == {
        "u1": (10, "old1+new1"),
        "u3": (3, "old3"),
        "u4": (12, "back4"),
        "u9": (13, "new9"),
    }
    # duplicate source keys are refused
    dup = src.union(src.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_into(dup)


def test_merge_into_prunes_buckets(spark, tmp_table_dir):
    """Buckets holding no source key keep their exact files."""
    t = _mk(spark, tmp_table_dir)
    rows = [(f"u{i}", TS, i, f"v{i}", "insert") for i in range(40)]
    t.merge_upsert(_batch(spark, rows))
    before = {b: tuple(f) for b, f in t.current_manifest()["buckets"].items()}
    src = spark.createDataFrame(
        [("u1", TS, 99, "edit")],
        "url string, warc_ts timestamp, seq long, text string",
    )
    res = t.merge_into(src, when_matched_update={"text": F.col("s.text")})
    after = {b: tuple(f) for b, f in t.current_manifest()["buckets"].items()}
    touched = set(str(b) for b in res.touched_buckets)
    assert len(touched) == 1
    for b, files in before.items():
        if b not in touched:
            assert after[b] == files  # untouched bucket: identical files
    assert t.read().filter(F.col("url") == "u1").collect()[0]["text"] == "edit"


def test_merge_into_insert_only_and_empty(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, seq long, text string"
    )
    assert t.merge_into(empty) is None
    src = spark.createDataFrame(
        [("u1", TS, 5, "ignored"), ("u2", TS, 6, "v2")],
        "url string, warc_ts timestamp, seq long, text string",
    )
    t.merge_into(src, when_not_matched_insert=True)  # no matched clauses
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"u1": "v1", "u2": "v2"}


def test_rollback_restores_state_metadata_only(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    rows = [(f"u{i}", TS, i, "good", "insert") for i in range(20)]
    t.merge_upsert(_batch(spark, rows))
    good_sid = t.snapshot_id()
    good_buckets = t.current_manifest()["buckets"]
    # corrupt via row DML, then a bad merge
    t.update_where(F.col("seq") % 3 == 0, {"text": F.lit("CORRUPTED")})
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(2), 99, "bad", "update")]))
    bad_sid = t.snapshot_id()
    assert "CORRUPTED" in {r["text"] for r in t.read().collect()}

    res = t.rollback_to(good_sid)
    # a NEW commit (history preserved), carrying the target's exact files
    assert res.snapshot_id == bad_sid + 1
    assert t.snapshot_id() == res.snapshot_id
    assert t.current_manifest()["buckets"] == good_buckets
    assert {r["text"] for r in t.read().collect()} == {"good"}
    # the abandoned snapshots stay time-travelable
    bad = t.read_at(bad_sid).filter(~F.col("_deleted"))
    assert "CORRUPTED" in {r["text"] for r in bad.collect()}
    # and the table keeps working after rollback
    t.merge_upsert(_batch(spark, [("u1", TS + dt.timedelta(3), 100, "v2", "update")]))
    got = {r["url"]: r["text"] for r in t.read().collect()}
    assert got["u1"] == "v2" and got["u2"] == "good"


def test_rollback_reverts_schema_evolution(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    pre = t.snapshot_id()
    t.rename_column("text", "body")
    assert "body" in [f.name for f in t.schema().fields]
    t.rollback_to(pre)
    names = [f.name for f in t.schema().fields]
    assert "text" in names and "body" not in names
    assert t.current_manifest().get("renames", []) == []
    assert [r["text"] for r in t.read().collect()] == ["v1"]


def test_rollback_rejects_bad_targets(spark, tmp_table_dir):
    import pytest

    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))
    with pytest.raises(ValueError):
        t.rollback_to(t.snapshot_id())  # already there
    with pytest.raises(ValueError):
        t.rollback_to(99999)  # never committed


def test_manifest_without_bucket_rows_is_counted_once_from_footers(
    spark, tmp_table_dir
):
    """A head manifest written before per-bucket row totals existed:
    the next commit counts its buckets from the footers and records the
    totals, so every later commit sums them again."""
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(
        _batch(spark, [(f"u{i}", TS, i, "v1", "insert") for i in range(12)])
    )
    head = t.current_manifest()
    legacy = {k: v for k, v in head.items() if k != "bucket_rows"}
    t._rewrite_manifest(legacy)

    res = t.merge_upsert(
        _batch(
            spark,
            [("u1", TS, 20, "v2", "update"), ("u30", TS, 21, "v1", "insert")],
        ),
        merge_mode="mor",
    )
    m = t.current_manifest()
    footers = {
        b: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        for b, fs in m["buckets"].items()
    }
    assert m["bucket_rows"] == footers
    assert res.n_rows_after == m["stats"]["n_rows_raw"] == 14
