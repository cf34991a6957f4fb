"""Snapshot-diff changelog operator (changes_between).

Reference analog: cross-release temporal tables built by the reference's
post-process (cloud/bigquery/stored_procedures.py:30-36) — "what changed
this release" — as an Iceberg changelog-scan analog.
"""

import datetime as dt

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


def _batch(spark, rows, extra=""):
    ddl = "url string, warc_ts timestamp, seq long, text string, op string"
    return spark.createDataFrame(rows, ddl + extra)


def test_changes_between_insert_update_delete(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS, 1, "v1", "insert"),
                ("u2", TS, 2, "v1", "insert"),
                ("u3", TS, 3, "v1", "insert"),
            ],
        )
    )  # snapshot 1
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS + dt.timedelta(1), 4, "v2", "update"),
                ("u2", TS + dt.timedelta(1), 5, None, "delete"),
                ("u4", TS, 6, "v1", "insert"),
            ],
        )
    )  # snapshot 2
    got = {
        r["url"]: (r["change_op"], r["before"], r["after"])
        for r in t.changes_between(1, 2).collect()
    }
    assert set(got) == {"u1", "u2", "u4"}  # u3 untouched → absent
    assert got["u1"][0] == "update"
    assert got["u1"][1]["text"] == "v1" and got["u1"][2]["text"] == "v2"
    assert got["u2"][0] == "delete" and got["u2"][2] is None
    assert got["u4"][0] == "insert" and got["u4"][1] is None


def test_changes_between_skips_rewritten_but_identical_rows(spark, tmp_table_dir):
    """A compaction (or a co-resident key's rewrite) changes a bucket's
    file list without changing rows — those rows must not show up."""
    t = SnapshotTable(spark, tmp_table_dir, "url", n_buckets=1).create(SCHEMA)
    # two merge-on-read merges of disjoint keys: bucket 0 holds 2 files
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]), merge_mode="mor")
    t.merge_upsert(_batch(spark, [("u2", TS, 2, "v1", "insert")]), merge_mode="mor")
    assert len(t.current_manifest()["buckets"]["0"]) == 2  # snapshot 2
    t.compact()  # snapshot 3: same rows, new file list
    assert len(t.current_manifest()["buckets"]["0"]) == 1
    assert t.changes_between(2, 3).count() == 0
    # but a real change in the shared bucket still surfaces alone
    t.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 3, "v2", "update")])
    )  # snapshot 4
    rows = t.changes_between(3, 4).collect()
    assert [(r["url"], r["change_op"]) for r in rows] == [("u1", "update")]


def test_changes_between_schema_evolution(spark, tmp_table_dir):
    """Diff across an additive-evolution boundary: the old side reads
    the new column as NULL in `before`."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(_batch(spark, [("u1", TS, 1, "v1", "insert")]))  # snap 1
    t.merge_upsert(
        _batch(
            spark,
            [("u1", TS + dt.timedelta(1), 2, "v2", "update", "en")],
            extra=", lang string",
        )
    )  # snap 2: adds lang column
    row = t.changes_between(1, 2).collect()[0]
    assert row["change_op"] == "update"
    assert row["before"]["lang"] is None
    assert row["after"]["lang"] == "en"


def test_changes_between_prunes_to_changed_buckets(spark, tmp_table_dir):
    """The diff plan must scan only buckets whose manifest file lists
    differ — asserted on the scan's input files, not just the result."""
    t = SnapshotTable(spark, tmp_table_dir, "url", n_buckets=32).create(SCHEMA)
    many = [(f"u{i}", TS, i, "v1", "insert") for i in range(200)]
    t.merge_upsert(_batch(spark, many))  # snapshot 1: ~all 32 buckets
    t.merge_upsert(
        _batch(spark, [("u7", TS + dt.timedelta(1), 999, "v2", "update")])
    )  # snapshot 2: ONE bucket rewritten
    ma, mb = t.manifest_at(1), t.manifest_at(2)
    changed = [
        bk for bk in set(ma["buckets"]) | set(mb["buckets"])
        if ma["buckets"].get(bk) != mb["buckets"].get(bk)
    ]
    assert len(changed) == 1
    diff = t.changes_between(1, 2)
    # plan-level: the union of both sides' scans reads only the changed
    # bucket's files (2 snapshots × 1 bucket), never the other 31
    n_input_files = len(diff.inputFiles())
    per_bucket = len(ma["buckets"][changed[0]]) + len(mb["buckets"][changed[0]])
    assert n_input_files == per_bucket
    assert [(r["url"], r["change_op"]) for r in diff.collect()] == [
        ("u7", "update")
    ]


def test_changes_between_on_merge_on_read_table(spark, tmp_table_dir):
    """Snapshot diff across MoR delta commits: read() LWW-resolves each
    side, so the diff sees logical state, not raw delta files."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(
        _batch(spark, [("u1", TS, 1, "v1", "insert"),
                       ("u2", TS, 2, "v1", "insert")]),
        merge_mode="mor",
    )  # snapshot 1
    t.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 3, "v2", "update"),
                       ("u2", TS + dt.timedelta(1), 4, None, "delete")]),
        merge_mode="mor",
    )  # snapshot 2: appended deltas only
    got = {
        r["url"]: r["change_op"] for r in t.changes_between(1, 2).collect()
    }
    assert got == {"u1": "update", "u2": "delete"}


def test_change_feed_row_images(spark, tmp_table_dir):
    """Delta-CDF shape: updates emit pre+post images, insert/delete one
    image each, all stamped with the target commit version and
    flattened to top-level row columns."""
    t = SnapshotTable(spark, tmp_table_dir, "url", 8).create(SCHEMA)
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS, 1, "v1", "insert"),
                ("u2", TS, 2, "v1", "insert"),
                ("u3", TS, 3, "v1", "insert"),
            ],
        )
    )  # snapshot 1
    t.merge_upsert(
        _batch(
            spark,
            [
                ("u1", TS + dt.timedelta(1), 4, "v2", "update"),
                ("u2", TS + dt.timedelta(1), 5, None, "delete"),
                ("u4", TS, 6, "v1", "insert"),
            ],
        )
    )  # snapshot 2
    rows = t.change_feed(1, 2).collect()
    assert all(r["_commit_version"] == 2 for r in rows)
    got = {(r["url"], r["_change_type"]): (r["seq"], r["text"]) for r in rows}
    assert got == {
        ("u1", "update_preimage"): (1, "v1"),
        ("u1", "update_postimage"): (4, "v2"),
        ("u2", "delete"): (2, "v1"),
        ("u4", "insert"): (6, "v1"),
    }
