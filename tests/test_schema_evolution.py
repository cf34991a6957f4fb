"""Full schema evolution: metadata-only rename/widen/add (Iceberg-style,
beyond the additive evolution the merge already does)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.tables import SnapshotTable

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def _batch(spark, lo, n, day, text_col="text"):
    return spark.createDataFrame(
        [(f"https://s/{lo+i}", dt.datetime(2024, 1, day), lo + i,
          f"{text_col} {lo+i}", "en", "update") for i in range(n)],
        f"url string, warc_ts timestamp, seq long, {text_col} string, "
        "lang string, op string",
    )


def test_rename_is_metadata_only_and_read_resolves_epochs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(SCHEMA)
    t.merge_upsert(_batch(spark, 0, 20, 1))
    files_before = sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )
    sid_pre = t.snapshot_id()

    t.rename_column("text", "body")
    # metadata-only: the data files are EXACTLY the same ones
    files_after = sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )
    assert files_after == files_before

    # post-rename writes use the new name; reads resolve both epochs
    t.merge_upsert(_batch(spark, 100, 10, 2, text_col="body"))
    rows = {r["seq"]: r["body"] for r in t.read().collect()}
    assert rows[5] == "text 5" and rows[105] == "body 105"
    assert len(rows) == 30

    # time travel BEFORE the rename serves the old column name
    old_df = t.read_at(sid_pre)
    assert "text" in old_df.columns and "body" not in old_df.columns

    # chained rename survives compaction (compacted files carry the
    # newest names; older epochs still resolve)
    t.rename_column("body", "content")
    t.compact()
    rows = {r["seq"]: r["content"] for r in t.read().collect()}
    assert rows[5] == "text 5" and len(rows) == 30

    # guards
    with pytest.raises(ValueError, match="cannot rename"):
        t.rename_column("url", "u2")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("lang", "content")


def test_changes_between_across_rename(spark, tmp_path):
    """A renamed column diffs as the SAME column across the rename
    (older side mapped forward); a rename-only commit reports zero row
    changes."""
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(SCHEMA)
    t.merge_upsert(_batch(spark, 0, 10, 1))
    sid0 = t.snapshot_id()
    t.rename_column("text", "body")
    sid1 = t.snapshot_id()
    assert t.changes_between(sid0, sid1).count() == 0

    t.merge_upsert(_batch(spark, 5, 10, 2, text_col="body"))
    sid2 = t.snapshot_id()
    ch = {r["url"]: r["change_op"] for r in t.changes_between(sid0, sid2).collect()}
    assert sum(op == "insert" for op in ch.values()) == 5
    assert sum(op == "update" for op in ch.values()) == 5
    row = t.changes_between(sid0, sid2).filter(
        "change_op = 'update'"
    ).first()
    # before/after both expose the CURRENT name for the renamed column
    assert "body" in row["before"].asDict() and "body" in row["after"].asDict()
    assert row["before"]["body"].startswith("text ")
    assert row["after"]["body"].startswith("body ")


def test_stale_bucket_count_heals_from_manifest(spark, tmp_path):
    """The manifest owns the bucket count (fixed at create): a reader
    constructed with a stale n_buckets heals from the manifest, so its
    merges bucket consistently with the stored layout."""
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, "url", 16).create(SCHEMA)
    t.merge_upsert(_batch(spark, 0, 30, 1))

    t2 = SnapshotTable(spark, path, "url", 4)
    t2.current_manifest()
    assert t2.n_buckets == 16
    # keys 20..29 update in place, 30..34 are new
    t2.merge_upsert(_batch(spark, 20, 15, 2))
    assert t2.current_manifest()["n_buckets"] == 16
    rows = t2.read(include_deleted=True).select(
        "url", "seq", F.col("_bucket").alias("b"),
        F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("want"),
    ).collect()
    assert sorted(r["seq"] for r in rows) == list(range(35))
    assert all(r["b"] == r["want"] for r in rows)


def test_rename_source_names_cannot_be_reintroduced(spark, tmp_path):
    """ADVICE r4 (high): after rename text->body, pre-rename files still
    store bytes under 'text'. A later batch (or rename) re-introducing
    'text' would make _schema_at_write map two current columns onto one
    stored name — every read of the snapshot would then fail with
    COLUMN_ALREADY_EXISTS. The commit must be refused up front, while
    the table is still readable."""
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(SCHEMA)
    t.merge_upsert(_batch(spark, 0, 10, 1))
    t.rename_column("text", "body")

    # additive evolution re-adding the historical source name: refused
    src = _batch(spark, 50, 5, 2, text_col="body")
    bad = src.withColumn("text", src["body"])
    with pytest.raises(ValueError, match="rename source"):
        t.merge_upsert(bad)
    # renaming another column ONTO the historical source name: refused
    with pytest.raises(ValueError, match="rename source"):
        t.rename_column("lang", "text")
    # table still fully readable after all refusals
    assert t.read().count() == 10


def test_file_write_sid_is_anchored_to_data_dir(spark, tmp_path):
    """ADVICE r4: a workdir whose PATH contains an sNNNNNNNN- segment
    must not hijack rename-epoch resolution for every data file."""
    trap = tmp_path / "s20240101-run"
    trap.mkdir()
    t = SnapshotTable(spark, str(trap / "t"), "url", 4).create(SCHEMA)
    t.merge_upsert(_batch(spark, 0, 10, 1))
    # direct unit check: the trap segment is ignored, the data-dir
    # segment wins
    f = next(iter(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    ))
    assert "s20240101-run" in f
    assert t._file_write_sid(f) == t.snapshot_id()
    # end-to-end: rename-epoch resolution still reads pre-rename files
    # under their stored name
    t.rename_column("text", "body")
    t.merge_upsert(_batch(spark, 100, 5, 2, text_col="body"))
    rows = {r["seq"]: r["body"] for r in t.read().collect()}
    assert rows[5] == "text 5" and rows[104] == "body 104"


# ---------------------------------------------------------------- widening

WSCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("score", T.FloatType()),
])


def _wbatch(spark, lo, cnt, day, n_type="int", f_type="float"):
    return spark.createDataFrame(
        [(f"https://s/{lo+i}", dt.datetime(2024, 1, day), lo + i,
          lo + i, float(lo + i) / 2, "update") for i in range(cnt)],
        f"url string, warc_ts timestamp, seq long, n {n_type}, "
        f"score {f_type}, op string",
    )


def test_widen_is_metadata_only_and_reads_cast(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 20, 1))
    files_before = sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )
    sid_pre = t.snapshot_id()

    t.widen_column("n", "long")
    t.widen_column("score", T.DoubleType())
    files_after = sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )
    assert files_after == files_before  # zero files rewritten

    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    assert dict(df.dtypes)["score"] == "double"
    rows = {r["seq"]: (r["n"], r["score"]) for r in df.collect()}
    assert rows[7] == (7, 3.5) and len(rows) == 20

    # post-widen batch already wide; BOTH epochs resolve in one read
    t.merge_upsert(_wbatch(spark, 100, 10, 2, n_type="long", f_type="double"))
    rows = {r["seq"]: r["n"] for r in t.read().collect()}
    assert rows[5] == 5 and rows[105] == 105 and len(rows) == 30

    # a producer still sending the NARROW type keeps working (union
    # coercion inside the merge)
    t.merge_upsert(_wbatch(spark, 200, 5, 3))
    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.count() == 35

    # time travel before the widen serves the narrow type
    assert dict(t.read_at(sid_pre).dtypes)["n"] == "int"


def test_widen_chained_with_rename_and_compaction(spark, tmp_path):
    """rename(n->count) THEN widen(count) and widen-then-rename both
    resolve: the reverse walk matches the widen's recorded name at its
    sid. Compaction folds everything to the newest schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 10, 1))
    t.rename_column("n", "count")
    t.widen_column("count", "long")
    t.merge_upsert(_wbatch(spark, 100, 5, 2).withColumnRenamed("n", "count"))
    rows = {r["seq"]: r["count"] for r in t.read().collect()}
    assert rows[3] == 3 and rows[102] == 102 and len(rows) == 15
    assert dict(t.read().dtypes)["count"] == "bigint"

    # widen then rename on the OTHER column
    t.widen_column("score", "double")
    t.rename_column("score", "quality")
    rows = {r["seq"]: r["quality"] for r in t.read().collect()}
    assert rows[3] == 1.5 and len(rows) == 15

    t.compact()
    df = t.read()
    assert dict(df.dtypes)["count"] == "bigint"
    assert dict(df.dtypes)["quality"] == "double"
    assert df.count() == 15


def test_widen_guards(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("url", "long")          # key col
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("n", "int")             # not a promotion
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("seq", "double")        # long->double is lossy
    with pytest.raises(ValueError, match="no column"):
        t.widen_column("nope", "long")
    with pytest.raises(ValueError, match="unknown type"):
        t.widen_column("n", "decimal(10,2)")


def test_changes_between_across_widen(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 10, 1))
    s1 = t.snapshot_id()
    t.widen_column("n", "long")
    s2 = t.snapshot_id()
    # widen-only commit: zero row changes
    assert t.changes_between(s1, s2).count() == 0
    # a real update across the widen boundary still diffs as an update
    t.merge_upsert(_wbatch(spark, 0, 1, 5, n_type="long", f_type="float"))
    ch = t.changes_between(s1, t.snapshot_id()).collect()
    assert len(ch) == 1 and ch[0]["change_op"] == "update"


# ------------------------------------------------------- defaulted adds

def test_add_column_with_default_is_metadata_only(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 10, 1))
    files_before = sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    )
    sid_pre = t.snapshot_id()

    t.add_column("rank", "int", default=7)
    assert sorted(
        f for fs in t.current_manifest()["buckets"].values() for f in fs
    ) == files_before  # zero rewrites

    # pre-add rows read the INITIAL DEFAULT (filled in the plan)
    rows = {r["seq"]: r["rank"] for r in t.read().collect()}
    assert set(rows.values()) == {7} and len(rows) == 10

    # post-add writes store real values; both epochs resolve together
    t.merge_upsert(
        _wbatch(spark, 100, 5, 2).withColumn(
            "rank", (F.col("seq") % 3).cast("int")
        )
    )
    rows = {r["seq"]: r["rank"] for r in t.read().collect()}
    assert rows[3] == 7 and rows[102] == 102 % 3 and len(rows) == 15

    # a post-add batch OMITTING the column writes NULL (additive
    # contract), not the default — initial-default only back-fills
    t.merge_upsert(_wbatch(spark, 200, 3, 3))
    rows = {r["seq"]: r["rank"] for r in t.read().collect()}
    assert rows[201] is None and rows[3] == 7

    # time travel before the add has no such column
    assert "rank" not in t.read_at(sid_pre).columns


def test_add_column_composes_with_rename_and_widen(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 6, 1))
    t.add_column("rank", "int", default=2)
    t.rename_column("rank", "grade")
    t.widen_column("grade", "long")
    t.merge_upsert(
        _wbatch(spark, 100, 4, 2).withColumn(
            "grade", F.col("seq") + F.lit(5_000_000_000)
        )
    )
    df = t.read()
    assert dict(df.dtypes)["grade"] == "bigint"
    rows = {r["seq"]: r["grade"] for r in df.collect()}
    assert rows[1] == 2 and rows[101] == 101 + 5_000_000_000


def test_add_column_guards_and_changes_between(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 4).create(WSCHEMA)
    t.merge_upsert(_wbatch(spark, 0, 8, 1))
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("n", "int")
    with pytest.raises(ValueError, match="plain scalar"):
        t.add_column("meta", "string", default=["x"])

    s1 = t.snapshot_id()
    t.add_column("rank", "int", default=9)
    # add-only commit: zero row changes (older side fills the default)
    assert t.changes_between(s1, t.snapshot_id()).count() == 0
    t.merge_upsert(
        _wbatch(spark, 0, 1, 5)
        .withColumn("rank", F.lit(1).cast("int"))
    )
    ch = t.changes_between(s1, t.snapshot_id()).collect()
    assert len(ch) == 1 and ch[0]["change_op"] == "update"
    assert ch[0]["before"]["rank"] == 9 and ch[0]["after"]["rank"] == 1
