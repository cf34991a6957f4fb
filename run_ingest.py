#!/usr/bin/env python
"""CLI runner: tail a change log into a snapshot table.

Reference analog: the ``clinvar-ingest`` console script + workflow job
(clinvar_ingest/main.py:63-69, cli.py:5-71, misc/bin/workflow.py).
Deploy shape: ``spark-submit --py-files clinvar_ingest_spark.zip
run_ingest.py --log PATH --table PATH [--span N]`` — on a cluster the
same file runs unchanged; only ``--master`` moves to spark-submit.

Examples (sandbox):
    python run_ingest.py --log /tmp/log --table /tmp/pages --span 1000000
    python run_ingest.py --table /tmp/pages --status
    python run_ingest.py --table /tmp/pages --compact --vacuum-before 2020-09-20
"""

from __future__ import annotations

import argparse
import json
import sys


def pages_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("seq", T.LongType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--log", help="change-log location (parquet)")
    ap.add_argument("--table", required=True, help="snapshot table root")
    ap.add_argument("--span", type=int, default=1_000_000,
                    help="events per micro-batch")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--master", default=None)
    ap.add_argument("--status", action="store_true",
                    help="print table/pipeline status and exit")
    ap.add_argument("--audit", action="store_true",
                    help="run the lineage audit and exit")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--vacuum-before", metavar="TS",
                    help="GC tombstones with warc_ts older than TS")
    ap.add_argument("--vacuum-orphans", action="store_true",
                    help="GC data files unreachable from the manifest chain")
    ap.add_argument("--expire-keep", type=int, metavar="N",
                    help="with --vacuum-orphans: expire all but newest N snapshots")
    ap.add_argument("--changes", nargs=2, type=int, metavar=("FROM", "TO"),
                    help="print the snapshot-diff changelog between two snapshots")
    ap.add_argument("--dlq", action="store_true",
                    help="quarantine malformed events (null key/seq, unknown "
                         "op) to <table>/_dlq instead of failing the batch")
    args = ap.parse_args(argv)

    from clinvar_ingest_spark.session import get_spark
    from clinvar_ingest_spark.sources import ChangeLogSource
    from clinvar_ingest_spark.streaming import IngestPipeline
    from clinvar_ingest_spark.tables import SnapshotTable

    spark = get_spark("run_ingest", master=args.master)
    tbl = SnapshotTable(spark, args.table, key_col="url", n_buckets=args.n_buckets)
    if not tbl.exists():
        tbl.create(pages_schema())

    if args.status:
        props = tbl.properties()
        print(json.dumps({
            "snapshot_id": tbl.snapshot_id(),
            "global_hwm": props.get("global_hwm", -1),
            "batch_id": props.get("batch_id", -1),
            "hwm_by_part": props.get("hwm_by_part", {}),
            "stats": (tbl.current_manifest() or {}).get("stats"),
        }))
        return 0
    if args.compact:
        res = tbl.compact()
        print(json.dumps({"compacted": bool(res),
                          "buckets": res.touched_buckets if res else []}))
        return 0
    if args.vacuum_orphans:
        print(json.dumps(tbl.vacuum_orphans(keep_snapshots=args.expire_keep)))
        return 0
    if args.changes:
        from pyspark.sql import functions as F

        diff = tbl.changes_between(args.changes[0], args.changes[1])
        for row in diff.select(
            "url", "change_op",
            F.col("before.seq").alias("seq_before"),
            F.col("after.seq").alias("seq_after"),
        ).toLocalIterator():
            print(json.dumps(row.asDict()))
        return 0
    if args.vacuum_before:
        res = tbl.vacuum_tombstones(args.vacuum_before)
        print(json.dumps({"vacuumed": True, "n_rows": res.n_rows_after}))
        return 0

    if not args.log:
        print("--log is required to ingest", file=sys.stderr)
        return 2
    src = ChangeLogSource(spark.read.parquet(args.log))
    pipe = IngestPipeline(spark, src, tbl, dlq=args.dlq)

    if args.audit:
        print(json.dumps(pipe.verify_lineage()))
        return 0

    reports = pipe.run_to_end(span=args.span)
    for r in reports:
        print(json.dumps({
            "batch_id": r.batch_id, "lo": r.lo, "hi": r.hi,
            "skipped": r.skipped, "snapshot_id": r.snapshot_id,
            "n_upserts": r.n_upserts, "n_deletes": r.n_deletes,
            "n_dead": r.n_dead,
            "events_per_sec": round(r.events_per_sec, 1),
        }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ".")
    raise SystemExit(main())
