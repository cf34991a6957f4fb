"""Custom stateful streaming operator: per-key LWW version tracker.

``applyInPandasWithState`` keeps one (warc_ts, seq, op) record per url
in the state store and emits a row whenever a batch CHANGES a key's
winner — i.e. a streaming change-feed of the LWW state, arbitrary
stateful logic the built-in aggregations can't express (the emitted
row depends on the state transition, not just the aggregate value).

This complements the other streaming operators:
* watermarked window aggs (windows.py) — bounded-state rollups,
* dedup-at-ingest (dedup.py) — first-wins content dedup,
* applyInPandasWithState (here) — custom per-key state machines.

State is Arrow-batched per group.

State GC (always-on tails): with ``watermark=``, the stream gets an
event-time watermark and every key arms an ``EventTimeTimeout`` at
``winner_ts + retention``. When the watermark passes it, the key's
state is dropped and one ``transition='expired'`` row is emitted (a GC
audit feed), so the state store is bounded by the active-key window
instead of growing with every url ever seen. Safety against
resurrection: choose ``retention`` ≥ the watermark delay — any event
STALER than an evicted winner is then necessarily older than the
watermark and is dropped by Spark before reaching the operator, so a
deleted key cannot be revived by late stale data (asserted in tests).
A genuinely NEWER event for an expired key simply re-creates it, which
is correct LWW behavior.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        # created|updated|deleted|expired
        T.StructField("transition", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("warc_ts_us", T.LongType()),  # epoch micros (state-store safe)
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
    ]
)


def _make_track(retention_ms: int | None):
    def _track(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        url = key[0]
        if state.hasTimedOut:
            # watermark passed winner_ts + retention: evict, emit audit row
            ts_us, seq, op = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "url": [url],
                    "warc_ts": [pd.Timestamp(ts_us, unit="us")],
                    "seq": [seq],
                    "op": [op],
                    "transition": ["expired"],
                }
            )
            return
        if state.exists:
            ts_us, seq, op = state.get
        else:
            ts_us, seq, op = -1, -1, None

        # Vectorized per-batch argmax: the LWW winner is the lexicographic
        # max of (warc_ts, seq). Sorting the (small, per-key) pandas frame
        # once and taking the last row stays columnar — no per-row Python.
        best_ts, best_seq, best_op = ts_us, seq, op
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = pdf.sort_values(["warc_ts", "seq"], kind="stable").iloc[-1]
            r_ts = int(top["warc_ts"].value // 1000)  # ns → µs
            if (r_ts, int(top["seq"])) > (best_ts, best_seq):
                best_ts, best_seq, best_op = r_ts, int(top["seq"]), top["op"]

        def _arm_timeout() -> None:
            if retention_ms is None:
                return
            # must exceed the current watermark or Spark rejects it; a
            # target already behind the watermark fires next batch
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(best_ts // 1000 + retention_ms, wm + 1))

        if (best_ts, best_seq) == (ts_us, seq):
            # batch contained only stale versions — no transition, but
            # keep the eviction clock armed for this key
            if state.exists:
                _arm_timeout()
            return
        state.update((best_ts, best_seq, best_op))
        _arm_timeout()

        if best_op == "delete":
            transition = "deleted"
        elif op is None or op == "delete":
            transition = "created"
        else:
            transition = "updated"
        yield pd.DataFrame(
            {
                "url": [url],
                "warc_ts": [pd.Timestamp(best_ts, unit="us")],
                "seq": [best_seq],
                "op": [best_op],
                "transition": [transition],
            }
        )

    return _track


def lww_change_feed(
    stream: DataFrame,
    watermark: str | None = None,
    retention: str | None = None,
) -> DataFrame:
    """Streaming change-feed: one row per (key, micro-batch) whose LWW
    winner changed. Input needs (url, warc_ts, seq, op) columns.

    ``watermark``: event-time delay spec (e.g. ``"10 minutes"``) on
    ``warc_ts``; enables state GC. ``retention``: how long after a
    key's winner timestamp its state is kept (e.g. ``"1 hour"``);
    defaults to the watermark delay — never pass a retention shorter
    than the watermark delay, or late stale events could re-create
    evicted keys."""
    src = stream.select("url", "warc_ts", "seq", "op")
    if watermark is None:
        return src.groupBy("url").applyInPandasWithState(
            _make_track(None),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    retention_ms = _interval_ms(retention if retention is not None else watermark)
    return (
        src.withWatermark("warc_ts", watermark)
        .groupBy("url")
        .applyInPandasWithState(
            _make_track(retention_ms),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def _interval_ms(spec: str) -> int:
    """Parse the subset of interval syntax watermarks use: '<n> <unit>'."""
    parts = spec.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNITS_MS:
        raise ValueError(f"can't parse interval {spec!r} (want e.g. '10 minutes')")
    return int(float(parts[0]) * _UNITS_MS[parts[1].lower()])


# Always-on tails at 10^9 active keys outgrow the default (HDFS-backed)
# state store provider, which keeps every key's state in executor heap
# maps and snapshots whole files per checkpoint. The RocksDB provider
# spills state to executor-local disk with bounded memory, and changelog
# checkpointing uploads per-batch deltas instead of full snapshots —
# both are exactly the knobs a 100-TB deployment sets. Pass to
# ``get_spark(extra_conf=ROCKSDB_STATE_CONF)`` (or spark.conf.set before
# the query starts; the provider is read at query start).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}

