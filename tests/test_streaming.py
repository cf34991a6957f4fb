"""Streaming dedup-at-ingest (``streaming/dedup.py``): first event per
content fingerprint wins, across micro-batch boundaries."""


def test_stream_exact_dedup_first_wins_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based ingest dedup: the first
    event per content fingerprint survives — including across
    micro-batch boundaries (state persists between batches) — and the
    streaming result equals the batch first-wins window twin."""
    import datetime as dt
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.streaming.dedup import stream_exact_dedup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # batch 0: A twice (in-batch dup), B once
        (0, 1, t0, "A"),
        (0, 2, t0 + dt.timedelta(minutes=1), "A"),
        (0, 3, t0 + dt.timedelta(minutes=2), "B"),
        # batch 1: A again (cross-batch dup), C new
        (1, 4, t0 + dt.timedelta(minutes=3), "A"),
        (1, 5, t0 + dt.timedelta(minutes=4), "C"),
        # batch 2: B again, D new
        (2, 6, t0 + dt.timedelta(minutes=5), "B"),
        (2, 7, t0 + dt.timedelta(minutes=6), "D"),
    ]
    df = spark.createDataFrame(
        rows, "b int, seq long, warc_ts timestamp, content string"
    )
    log_dir = str(tmp_path / "log")
    for i in range(3):
        p = os.path.join(log_dir, f"b{i}.parquet")
        (
            df.filter(F.col("b") == i)
            .drop("b")
            .repartition(1)
            .sortWithinPartitions("warc_ts", "seq")
            .write.mode("overwrite")
            .parquet(p)
        )
        for dirpath, _d, fs in os.walk(p):
            for fn in fs:
                os.utime(os.path.join(dirpath, fn), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema("seq long, warc_ts timestamp, content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir + "/*")
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream_exact_dedup(
            stream, fingerprint_cols=("content",), watermark="1 hour"
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()
    got = {
        r["content"]: r["seq"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {"A": 1, "B": 3, "C": 5, "D": 7}
    # batch twin: first by (batch, warc_ts, seq) per content
    w = Window.partitionBy("content").orderBy("b", "warc_ts", "seq")
    twin = {
        r["content"]: r["seq"]
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == twin
