"""Row lineage (_row_id): Iceberg-v3-style stable per-row ids.

Birth = the sequence of the event that first created the row; updates
preserve the id, delete-then-reinsert assigns a new one, tombstones
carry NULL. Assigned inside merge_upsert's key-partitioned window pass
(no extra shuffle) — see tables.py _lineage_cols for the
sequential-apply equivalence argument.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.tables import ROW_ID_COL, SnapshotTable

TS = dt.datetime(2020, 1, 1)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _mk(spark, path):
    return SnapshotTable(spark, path, key_col="url", n_buckets=8).create(
        SCHEMA, row_lineage=True
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, text string, op string"
    )


def _ts(s):
    return TS + dt.timedelta(seconds=s)


def _ids(t):
    return {
        r["url"]: r[ROW_ID_COL]
        for r in t.read().select("url", ROW_ID_COL).collect()
    }


def test_insert_update_delete_reinsert(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        ("a", _ts(1), 1, "a1", "update"),
        ("b", _ts(2), 2, "b1", "update"),
    ]))
    assert _ids(t) == {"a": 1, "b": 2}

    # update preserves the id
    t.merge_upsert(_batch(spark, [("a", _ts(3), 3, "a2", "update")]))
    assert _ids(t) == {"a": 1, "b": 2}

    # delete -> tombstone carries NULL
    t.merge_upsert(_batch(spark, [("b", _ts(4), 4, None, "delete")]))
    assert _ids(t) == {"a": 1}
    dead = t.read(include_deleted=True).filter(F.col("_deleted"))
    assert [r[ROW_ID_COL] for r in dead.collect()] == [None]

    # reinsert after delete -> NEW id (the rebirth event's seq)
    t.merge_upsert(_batch(spark, [("b", _ts(5), 5, "b2", "update")]))
    assert _ids(t) == {"a": 1, "b": 5}


def test_in_batch_delete_reinsert_and_order(spark, tmp_table_dir):
    """One batch holding the whole life cycle: id = first live event
    after the LAST delete, all computed in a single merge."""
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [
        ("k", _ts(1), 1, "v1", "update"),
        ("k", _ts(2), 2, None, "delete"),
        ("k", _ts(3), 3, "v3", "update"),
        ("k", _ts(4), 4, "v4", "update"),
        # out-of-order arrival inside the batch must not matter
        ("j", _ts(6), 6, "j2", "update"),
        ("j", _ts(5), 5, "j1", "update"),
    ]))
    assert _ids(t) == {"k": 3, "j": 5}


def test_stale_late_event_never_rewrites_id(spark, tmp_table_dir):
    """A late event older than the stored mark is skipped (sequential-
    apply semantics): it neither changes state nor the row id."""
    t = _mk(spark, tmp_table_dir)
    t.merge_upsert(_batch(spark, [("a", _ts(10), 10, "new", "update")]))
    t.merge_upsert(_batch(spark, [("a", _ts(3), 3, "stale", "update")]))
    rows = t.read().select("url", "text", ROW_ID_COL).collect()
    assert [(r["url"], r["text"], r[ROW_ID_COL]) for r in rows] == [
        ("a", "new", 10)
    ]
    # stale DELETE is skipped too
    t.merge_upsert(_batch(spark, [("a", _ts(4), 4, None, "delete")]))
    assert _ids(t) == {"a": 10}


def test_untouched_keys_in_touched_buckets_keep_ids(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, key_col="url", n_buckets=1).create(
        SCHEMA, row_lineage=True
    )
    t.merge_upsert(_batch(spark, [
        ("a", _ts(1), 1, "a1", "update"),
        ("b", _ts(2), 2, "b1", "update"),
    ]))
    # bucket 0 is rewritten for b's update; a must keep its id
    t.merge_upsert(_batch(spark, [("b", _ts(3), 3, "b2", "update")]))
    assert _ids(t) == {"a": 1, "b": 2}


def test_guards(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    b = _batch(spark, [("a", _ts(1), 1, "x", "update")])
    with pytest.raises(ValueError, match="CoW"):
        t.merge_upsert(b, merge_mode="mor")
    with pytest.raises(ValueError, match="window"):
        t.merge_upsert(b, dedup_strategy="max_by")
    with pytest.raises(ValueError, match="engine-assigned"):
        t.merge_upsert(b.withColumn(ROW_ID_COL, F.lit(7)))
    with pytest.raises(ValueError, match="assigned by the engine"):
        SnapshotTable(spark, tmp_table_dir + "2", key_col="url").create(
            T.StructType(
                list(SCHEMA.fields) + [T.StructField(ROW_ID_COL, T.LongType())]
            ),
            row_lineage=True,
        )
    # _row_id is rename-protected
    with pytest.raises(ValueError):
        t.rename_column(ROW_ID_COL, "rid")


def test_lineage_replay_idempotent(spark, tmp_table_dir):
    """Re-applying the same batch (exactly-once retry path) leaves ids
    unchanged — the stored rows win the no-applied-delete case."""
    t = _mk(spark, tmp_table_dir)
    b1 = _batch(spark, [
        ("a", _ts(1), 1, "a1", "update"),
        ("b", _ts(2), 2, None, "delete"),
        ("b", _ts(3), 3, "b1", "update"),
    ])
    t.merge_upsert(b1)
    before = _ids(t)
    t.merge_upsert(b1)  # replay
    assert _ids(t) == before == {"a": 1, "b": 3}
