"""Shallow clone: zero-copy table clone, GC safety, ownership guards,
and shallow→deep materialization.

Reference analogs: the release-mirroring copy of clinvar_ingest
(a new BigQuery dataset per release referencing the same ingested
payloads) re-expressed as a Delta SHALLOW CLONE / Iceberg
snapshot-ref table over this engine's manifest store.
"""

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
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


def _mk(spark, path, rows):
    t = SnapshotTable(spark, str(path), key_col="url", n_buckets=8).create(
        SCHEMA
    )
    t.merge_upsert(_batch(spark, rows))
    return t


def _state(t):
    return {r["url"]: (r["seq"], r["text"]) for r in t.read().collect()}


def _footer_bucket_rows(m):
    return {
        b: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        for b, fs in m["buckets"].items()
    }


def _data_files(path):
    out = []
    for dirpath, _d, files in os.walk(os.path.join(str(path), "data")):
        out.extend(os.path.join(dirpath, f) for f in files)
    return out


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    src = _mk(
        spark,
        tmp_path / "src",
        [
            ("u1", TS, 1, "a", "insert"),
            ("u2", TS, 2, "b", "insert"),
            ("u3", TS, 3, "c", "insert"),
        ],
    )
    clone = src.shallow_clone(str(tmp_path / "clone"))
    # metadata-only: not one data byte under the clone dir
    assert _data_files(tmp_path / "clone") == []
    assert _state(clone) == _state(src)
    # snapshot numbering continues from the source head
    assert clone.snapshot_id() == src.snapshot_id()

    # diverge both sides independently
    clone.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 9, "CLONE", "update")])
    )
    src.merge_upsert(
        _batch(spark, [("u2", TS + dt.timedelta(1), 8, "SRC", "update")])
    )
    assert _state(clone)["u1"] == (9, "CLONE")
    assert _state(clone)["u2"] == (2, "b")  # untouched by src write
    assert _state(src)["u1"] == (1, "a")  # untouched by clone write
    assert _state(src)["u2"] == (8, "SRC")
    # the clone's new files land under its OWN data dir
    assert _data_files(tmp_path / "clone")


def test_shallow_clone_preserves_rename_epochs(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", [("u1", TS, 1, "old-bytes", "insert")])
    src.rename_column("text", "body")
    clone = src.shallow_clone(str(tmp_path / "clone"))
    rows = clone.read().collect()
    assert [r["body"] for r in rows] == ["old-bytes"]
    # and a post-clone rename on the clone resolves pre-clone files too
    clone.rename_column("body", "content")
    assert [r["content"] for r in clone.read().collect()] == ["old-bytes"]


def test_source_vacuum_keeps_clone_referenced_files(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", [("u1", TS, 1, "v1", "insert")])
    clone = src.shallow_clone(str(tmp_path / "clone"))
    before = _state(clone)
    # source rewrites everything past the clone point…
    src.merge_upsert(
        _batch(spark, [("u1", TS + dt.timedelta(1), 2, "v2", "update")])
    )
    src.compact()
    # …and expires history down to the head: the clone-time files are
    # now referenced by NO source manifest, only by the clone
    stats = src.vacuum_orphans(keep_snapshots=1)
    assert stats["kept"] >= 1
    assert _state(clone) == before  # Delta breaks here; we must not
    # once the clone is dropped, the same vacuum sweeps those files
    clone.drop()
    stats2 = src.vacuum_orphans(keep_snapshots=1)
    assert stats2["removed"] >= 1
    assert src.clones() == []


def test_ownership_guards(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", [("u1", TS, 1, "v1", "insert")])
    clone = src.shallow_clone(str(tmp_path / "clone"))
    with pytest.raises(ValueError, match="clones"):
        src.purge_key("u1")
    with pytest.raises(ValueError, match="clones"):
        src.drop()
    with pytest.raises(ValueError, match="materialize"):
        clone.purge_key("u1")


def test_materialize_restores_ownership(spark, tmp_path):
    src = _mk(
        spark,
        tmp_path / "src",
        [("u1", TS, 1, "v1", "insert"), ("u2", TS, 2, "v2", "insert")],
    )
    clone = src.shallow_clone(str(tmp_path / "clone"))
    before = _state(clone)
    assert clone.materialize() is not None
    assert clone.materialize() is None  # idempotent: nothing foreign left
    assert _state(clone) == before
    # the copies carry the source's per-bucket row totals unchanged
    m = clone.current_manifest()
    assert m["bucket_rows"] == src.current_manifest()["bucket_rows"]
    assert m["bucket_rows"] == _footer_bucket_rows(m)
    assert _data_files(tmp_path / "clone")  # bytes now owned locally
    # registry cleared → source ownership ops work again…
    assert src.clones() == []
    src.purge_key("u1")
    assert "u1" not in _state(src)
    # …and the clone survives the source being dropped entirely
    src.drop()
    assert _state(clone) == before
    # purge now works on the self-contained clone too
    clone.purge_key("u2")
    assert "u2" not in _state(clone)
    m = clone.current_manifest()
    assert m["bucket_rows"] == _footer_bucket_rows(m)
    assert sum(m["bucket_rows"].values()) == m["stats"]["n_rows"]


def test_mor_merge_into_materialized_clone_opens_no_footer(
    spark, tmp_path, monkeypatch
):
    """A commit counts rows from the manifest's per-bucket totals: a
    merge-on-read merge into a materialized clone — whose copied files
    no writer in this process ever counted — opens no parquet footer
    and records the exact raw row count."""
    src = _mk(
        spark,
        tmp_path / "src",
        [("u1", TS, 1, "v1", "insert"), ("u2", TS, 2, "v2", "insert")],
    )
    clone = src.shallow_clone(str(tmp_path / "clone"))
    clone.materialize()

    def _no_footer(*_args, **_kwargs):
        raise AssertionError("the commit opened a parquet footer")

    with monkeypatch.context() as mp:
        mp.setattr(pq, "ParquetFile", _no_footer)
        res = clone.merge_upsert(
            _batch(
                spark,
                [
                    ("u1", TS + dt.timedelta(days=1), 3, "v1b", "update"),
                    ("u3", TS, 4, "v3", "insert"),
                ],
            ),
            merge_mode="mor",
        )
    m = clone.current_manifest()
    assert m["read_mode"] == "lww"
    assert res.n_rows_after == m["stats"]["n_rows_raw"] == 4
    assert m["bucket_rows"] == _footer_bucket_rows(m)
    assert _state(clone) == {"u1": (3, "v1b"), "u2": (2, "v2"), "u3": (4, "v3")}


def test_clone_of_unmaterialized_clone_refused(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", [("u1", TS, 1, "v1", "insert")])
    a = src.shallow_clone(str(tmp_path / "a"))
    # A still references src's files: a grandchild would register with
    # A but point at src, invisible to src's GC — refused
    with pytest.raises(ValueError, match="materialize"):
        a.shallow_clone(str(tmp_path / "b"))
    a.materialize()
    b = a.shallow_clone(str(tmp_path / "b"))
    assert _state(b) == _state(a)


def test_materialize_covers_branch_chains(spark, tmp_path):
    src = _mk(spark, tmp_path / "src", [("u1", TS, 1, "v1", "insert")])
    clone = src.shallow_clone(str(tmp_path / "clone"))
    clone.create_branch("audit")
    clone.merge_upsert(
        _batch(spark, [("u2", TS, 2, "v2", "insert")])
    )
    before_main = _state(clone)
    before_branch = {
        r["url"]: r["text"] for r in clone.branch("audit").read().collect()
    }
    clone.materialize()
    assert src.clones() == []
    src.drop()
    # both the main chain AND the branch chain survive the source drop
    assert _state(clone) == before_main
    after_branch = {
        r["url"]: r["text"] for r in clone.branch("audit").read().collect()
    }
    assert after_branch == before_branch == {"u1": "v1"}
