"""applyInPandasWithState LWW change-feed: final emissions == batch LWW."""

from pyspark.sql import types as T

from clinvar_ingest_spark.operators.dedup import lww_dedup
from clinvar_ingest_spark.sources import synthetic_change_log
from clinvar_ingest_spark.streaming.stateful import lww_change_feed

SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_change_feed_converges_to_batch_lww(spark, tmp_path):
    log = synthetic_change_log(spark, 600, n_urls=80)
    log_dir = str(tmp_path / "log")
    log.repartition(4).write.mode("overwrite").parquet(log_dir)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches → state
        .parquet(log_dir)
    )
    out_dir = str(tmp_path / "out")
    q = (
        lww_change_feed(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()

    feed = spark.read.parquet(out_dir)
    # the LAST emission per key must equal the batch LWW winner
    last = lww_dedup(feed, ("url",), ("warc_ts", "seq"), strategy="max_by")
    got = {r["url"]: (r["seq"], r["op"]) for r in last.collect()}
    want = {
        r["url"]: (r["seq"], r["op"])
        for r in lww_dedup(log, ("url",), ("warc_ts", "seq")).collect()
    }
    assert got == want
    # transitions are well-formed
    kinds = {r["transition"] for r in feed.select("transition").distinct().collect()}
    assert kinds <= {"created", "updated", "deleted"}
    assert "created" in kinds
    # stale micro-batches (file-ordered, not seq-ordered) emit nothing:
    # emissions per key ≤ number of micro-batches, and strictly fewer
    # emissions than events (the state machine dedups)
    assert feed.count() < 600


def test_state_gc_evicts_and_blocks_resurrection(spark, tmp_path):
    """With watermark+retention: (1) a key whose winner aged past the
    watermark is EVICTED (state store bounded, 'expired' audit row);
    (2) a late-arriving STALE event for the evicted key is dropped by
    the watermark and cannot resurrect the deleted winner."""
    import datetime as dt
    import os

    D = dt.datetime
    files = [
        # batch 1: 'old' gets deleted at 10:00; 'live' created at 10:00
        [("old", D(2024, 1, 1, 10, 0), 1, "delete"),
         ("live", D(2024, 1, 1, 10, 0), 2, "update")],
        # batch 2: 'live' advances event time to 12:00 → watermark moves
        # to 11:50 (10 min delay), far past old's 10:00+60s retention
        [("live", D(2024, 1, 1, 12, 0), 3, "update")],
        # batch 3: nudge event time again so the timeout fires, plus a
        # LATE STALE event for 'old' (09:00 < watermark) — must be dropped
        [("live", D(2024, 1, 1, 12, 30), 4, "update"),
         ("old", D(2024, 1, 1, 9, 0), 0, "update")],
    ]
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for i, rows in enumerate(files):
        p = str(log_dir / f"b{i}.parquet")
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, seq long, op string"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        # file stream processes oldest-mtime first → force batch order
        for dirpath, _d, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(dirpath, f), (1000 + i, 1000 + i))
        os.utime(p, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir) + "/*")
    )
    out_dir = str(tmp_path / "out")
    q = (
        lww_change_feed(stream, watermark="10 minutes", retention="11 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()

    feed = spark.read.parquet(out_dir).collect()
    by_url = {}
    for r in sorted(feed, key=lambda r: (r["warc_ts"] or D(1970, 1, 1))):
        by_url.setdefault(r["url"], []).append(r["transition"])
    # 'old': deleted, then expired by GC — and NEVER re-created by the
    # late stale event
    assert by_url["old"] == ["deleted", "expired"], by_url
    # 'live' survives normally
    assert by_url["live"][0] == "created"
    assert "expired" not in by_url["live"]


def test_change_feed_on_rocksdb_state_store(spark, tmp_path):
    """VERDICT r3 #8: the stream_change_feed gate must run unchanged on
    the RocksDB state store provider (the 10^9-active-keys scale path)
    and produce the identical LWW convergence; progress metrics prove
    RocksDB actually backed the state."""
    import json

    from clinvar_ingest_spark.streaming.stateful import ROCKSDB_STATE_CONF

    log = synthetic_change_log(spark, 600, n_urls=80)
    log_dir = str(tmp_path / "log")
    log.repartition(4).write.mode("overwrite").parquet(log_dir)

    old = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    try:
        for k, v in ROCKSDB_STATE_CONF.items():
            spark.conf.set(k, v)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
        )
        out_dir = str(tmp_path / "out")
        q = (
            lww_change_feed(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
        q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert any("rocksdb" in json.dumps(p).lower() for p in progress), (
        "no RocksDB metrics in stream progress — provider not active"
    )
    feed = spark.read.parquet(out_dir)
    last = lww_dedup(feed, ("url",), ("warc_ts", "seq"), strategy="max_by")
    got = {r["url"]: (r["seq"], r["op"]) for r in last.collect()}
    want = {
        r["url"]: (r["seq"], r["op"])
        for r in lww_dedup(
            spark.read.parquet(log_dir), ("url",), ("warc_ts", "seq")
        ).collect()
    }
    assert got == want

