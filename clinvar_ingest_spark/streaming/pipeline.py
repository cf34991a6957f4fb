"""The end-to-end ingest pipeline: log tail → extract → LWW merge → commit.

Reference lifecycle parity (SURVEY.md §3): workflow.py's
checkpoint-begin → copy/parse → checkpoint-end becomes

    plan offset range   (ready-work query, processing_history.py:596-696)
    fencing check       (check_started_exists, processing_history.py:193-226)
    batch = log(lo,hi]  (Kafka offset replay, read-topic.py:37-81)
    extract text        (parse step, vectorized Arrow UDF)
    merge_upsert        (CTAS + window-rank LWW, create_tables.py:161-286)
    commit w/ HWM props (write_finished, processing_history.py:431-489)
    lineage + metrics   (parsed_files JSON lineage, progress logger)

Exactly-once: the HWM lives in the *same atomic commit* as the data
(snapshot properties), so a crash between any two steps either replays
a batch that was never visible (idempotent merge) or skips a batch the
fencing sees as done. Resuming from any checkpoint reproduces the full
replay byte-for-byte (tested in tests/test_pipeline.py).

A batch runs start to finish on the caller's thread, one step after
another; all parallelism lives inside the Spark jobs it submits.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinvar_ingest_spark.functions.extract import extract_text
from clinvar_ingest_spark.sources.change_log import ChangeLogSource, OffsetRange
from clinvar_ingest_spark.tables import SnapshotTable, _atomic_write, bucket_expr


@dataclass
class BatchReport:
    batch_id: int
    lo: int
    hi: int
    skipped: bool
    snapshot_id: int | None = None
    n_upserts: int = 0
    n_deletes: int = 0
    wall_sec: float = 0.0
    events_per_sec: float = 0.0
    n_dead: int = 0


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source: ChangeLogSource,
        target: SnapshotTable,
        merge_mode: str = "cow",
        derived: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
        dlq: bool = False,
    ):
        self.spark = spark
        self.source = source
        self.target = target
        # Dead-letter queue: with dlq=True every batch routes rows that
        # fail the validity rules into parquet under <target>/_dlq/
        # batch=<id>/ (with a per-row `_reason`) BEFORE the merge, so a
        # malformed producer record (null key, unknown op, null seq)
        # can neither poison the LWW state nor kill the pipeline — the
        # Kafka/Debezium DLQ contract. Exactly-once composes with the
        # HWM fence: a fenced (already-committed) batch never rewrites
        # its DLQ dir; a replayed UNcommitted batch overwrites the same
        # dir idempotently.
        self.dlq = dlq
        self.merge_mode = merge_mode
        # normalization fan-out (reference disassemble → entity tables,
        # parse.py:232-252): name → derivation over the pages state,
        # refreshed after every applied batch into <table>__<name>
        self.derived = derived or {}

    # ------------------------------------------------------------ transform
    @staticmethod
    def default_transform(winners: DataFrame) -> DataFrame:
        """html → text via the Arrow-vectorized extractor, applied to
        FINAL merge winners only: rows arriving from the stored target
        already carry text (coalesce keeps it — byte-identical, never
        re-extracted); batch winners extract once; tombstones have NULL
        html and stay NULL.

        The UDF input is masked with ``when(text IS NULL, html)``:
        Spark evaluates a Python UDF in its own ArrowEvalPython node
        BEFORE the coalesce projection, so an unmasked ``extract(html)``
        ships EVERY winner's html into Python and re-extracts stored
        winners whose result coalesce then discards. The mask makes the
        JVM send NULL for already-extracted rows — same output
        byte-for-byte (coalesce keeps the stored text either way), but
        only rows that NEED extraction cross the JVM→Python boundary
        (guide §4.1: pass only the columns/bytes the function needs).
        Measured on the CoW 8-batch leg: stored winners are ~40-60% of
        each later batch's merge input, all previously re-extracted."""
        return winners.withColumn(
            "text",
            F.coalesce(
                F.col("text"),
                extract_text(
                    F.when(F.col("text").isNull(), F.col("html"))
                ),
            ),
        )

    # ------------------------------------------------------------ dlq
    def invalid_reason(self):
        """NULL for valid rows, else the FIRST failing rule's name
        (precedence: null_key, null_seq, bad_op) — one codegen
        when-chain, no Python."""
        return (
            F.when(F.col(self.target.key_col).isNull(), F.lit("null_key"))
            .when(F.col(self.source.seq_col).isNull(), F.lit("null_seq"))
            .when(
                ~F.col("op").isin("insert", "update", "delete"),
                F.lit("bad_op"),
            )
        )

    def dead_letters(self) -> DataFrame:
        """Every quarantined row across batches, with `_reason` and the
        `batch` partition column. Raises (no files to infer a schema
        from) when nothing was ever quarantined — empty batch dirs are
        pruned at write time."""
        return self.spark.read.option(
            "basePath", f"{self.target.path}/_dlq"
        ).parquet(f"{self.target.path}/_dlq/batch=*")

    # ------------------------------------------------------------ state
    def global_hwm(self) -> int:
        return int(self.target.properties().get("global_hwm", -1))

    def last_batch_id(self) -> int:
        return int(self.target.properties().get("batch_id", -1))

    def checkpoints(self) -> dict[str, int]:
        return dict(self.target.properties().get("hwm_by_part", {}))

    # ------------------------------------------------------------ sidecars
    _SIDE_SCHEMAS = {
        "lineage": [
            ("batch_id", "int64"), ("part", "int32"), ("seq_lo", "int64"),
            ("seq_hi", "int64"), ("snapshot_id", "int64"), ("n_rows", "int64"),
        ],
        "metrics": [
            ("batch_id", "int64"), ("n_events", "int64"), ("wall_sec", "float64"),
            ("events_per_sec", "float64"), ("lag_events", "int64"),
        ],
    }

    def _side_write(self, kind: str, batch_id: int, rows: list[dict]):
        """Sidecar rows are a handful per batch — written driver-side via
        pyarrow (a Spark job for 4 rows costs seconds of scheduling).
        Layout stays Spark-readable parquet, idempotent per batch_id."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{self.target.path}/_{kind}/batch={batch_id}"
        os.makedirs(path, exist_ok=True)
        pa_types = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64()}
        fields = self._SIDE_SCHEMAS[kind]
        table = pa.table(
            {name: pa.array([r[name] for r in rows], type=pa_types[typ])
             for name, typ in fields}
        )
        pq.write_table(table, f"{path}/part-0.parquet")

    @staticmethod
    def _sidecar_rows(
        batch_id: int, part_ranges: list[dict], snapshot_id: int,
        wall: float, lag: int,
    ) -> dict[str, list[dict]]:
        """The lineage rows (one per source partition) and the metrics
        row of one committed batch, keyed by sidecar kind."""
        n_events = sum(pr["n_rows"] for pr in part_ranges)
        return {
            "lineage": [
                {"batch_id": batch_id, "part": pr["part"],
                 "seq_lo": pr["seq_lo"], "seq_hi": pr["seq_hi"],
                 "snapshot_id": snapshot_id, "n_rows": pr["n_rows"]}
                for pr in part_ranges
            ],
            "metrics": [
                {"batch_id": batch_id, "n_events": n_events,
                 "wall_sec": wall,
                 "events_per_sec": n_events / wall if wall > 0 else 0.0,
                 "lag_events": lag}
            ],
        }

    def ensure_sidecars(self) -> list[int]:
        """Self-heal sidecars: rebuild lineage/metrics rows for any
        committed batch whose sidecar files are missing (crash after the
        atomic snapshot commit but before the sidecar write).

        The manifest chain is the source of truth: each ingest commit's
        properties carry (batch_id, global_hwm), so a missing batch's
        offset range is (parent's global_hwm, own global_hwm] and its
        per-partition lineage rows are recomputed by replaying that
        range from the log — the same deterministic scan the original
        batch ran. Recovered metrics rows carry wall_sec=0 (the original
        timing is gone); lag is recomputed against the current log end.
        Returns the healed batch_ids."""
        commits = []  # (batch_id, lo, hi, snapshot_id) per ingest commit
        prev_hwm, prev_bid = -1, -1
        for m in reversed(list(self.target._chain())):
            props = m.get("properties", {})
            bid = int(props.get("batch_id", -1))
            hwm = int(props.get("global_hwm", -1))
            if bid > prev_bid:
                commits.append((bid, prev_hwm, hwm, m["snapshot_id"]))
            prev_hwm, prev_bid = max(hwm, prev_hwm), max(bid, prev_bid)
        healed = []
        end = self.source.max_seq()
        for bid, lo, hi, snap in commits:
            lineage_ok = os.path.exists(
                f"{self.target.path}/_lineage/batch={bid}/part-0.parquet"
            )
            metrics_ok = os.path.exists(
                f"{self.target.path}/_metrics/batch={bid}/part-0.parquet"
            )
            if lineage_ok and metrics_ok:
                continue
            prs = self.source.part_ranges(self.source.batch(OffsetRange(lo, hi)))
            side = self._sidecar_rows(bid, prs, snap, 0.0, end - hi)
            for kind, ok in (("lineage", lineage_ok), ("metrics", metrics_ok)):
                if not ok:
                    self._side_write(kind, bid, side[kind])
            healed.append(bid)
        return healed

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.target.path}/_lineage/batch=*")

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.target.path}/_metrics/batch=*")

    # ------------------------------------------------------------ run
    def _profile_rows(self, raw: DataFrame) -> list:
        """The per-(source partition, target bucket) profile aggregate
        of a batch slice — collected rows (metadata-sized)."""
        part_col, seq_col = self.source.part_col, self.source.seq_col
        return (
            raw.groupBy(
                F.col(part_col),
                bucket_expr(self.target.key_col, self.target.n_buckets).alias(
                    "_b"
                ),
            )
            .agg(
                F.min(seq_col).alias("lo"),
                F.max(seq_col).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("op") != F.lit("delete")).cast("long")).alias("u"),
                F.sum((F.col("op") == F.lit("delete")).cast("long")).alias("d"),
            )
            .collect()
        )

    def run_batch(
        self,
        rng: OffsetRange,
        log_end_seq: int | None = None,
    ) -> BatchReport:
        """Apply one offset range exactly once, every step on the
        caller's thread: fence → DLQ → profile → merge → commit →
        sidecars. Each Spark job is parallel inside; the batch itself
        is serial, like the reference's begin → copy/parse → finish.

        The expensive transform (extraction) runs AFTER the LWW dedup
        inside the merge — only once per surviving key, and only once
        per batch (winners are persisted across the merge's actions).

        The fence, the merge plan and the commit's CAS all use ONE read
        of the head manifest: a commit that lands after the fence makes
        this batch's CAS fail with ``CommitConflictError``, so a range
        can never be committed twice.
        """
        m_cur = self.target.current_manifest()
        props0 = (m_cur or {}).get("properties", {})
        hwm = int(props0.get("global_hwm", -1))
        last_batch_id = int(props0.get("batch_id", -1))
        if rng.hi <= hwm:
            # Fencing: already committed (reference analog: skip-existing
            # copy, workflow.py:211-224; started-row check). A skipped
            # range means a prior run committed it — heal any sidecar
            # rows that crash lost after that commit.
            self.ensure_sidecars()
            return BatchReport(last_batch_id, rng.lo, rng.hi, skipped=True)
        if rng.lo != hwm:
            raise ValueError(
                f"non-contiguous batch: hwm={hwm}, requested lo={rng.lo}"
            )

        from clinvar_ingest_spark.metrics import stage

        t0 = time.monotonic()
        batch_id = last_batch_id + 1
        raw = self.source.batch(rng)

        n_dead = 0
        if self.dlq:
            # quarantine BEFORE profiling/merge: a null key would
            # otherwise reach bucket_expr, and an unknown op would
            # corrupt the upsert/delete split. One extra (filtered)
            # scan per batch, only when dlq is on; the write is
            # idempotent per batch dir under the same HWM fence as the
            # data commit (fenced batches return above, never here).
            from clinvar_ingest_spark.tables import _parquet_rows

            reason = self.invalid_reason()
            dlq_path = f"{self.target.path}/_dlq/batch={batch_id}"
            with stage("batch.dlq"):
                raw.withColumn("_reason", reason).filter(
                    F.col("_reason").isNotNull()
                ).write.mode("overwrite").parquet(dlq_path)
                import glob as _glob

                parts = _glob.glob(f"{dlq_path}/part-*.parquet")
                n_dead = _parquet_rows(parts)
                if not parts:
                    # keep _dlq free of empty (_SUCCESS-only) batch
                    # dirs so dead_letters() always infers a schema
                    import shutil as _shutil

                    _shutil.rmtree(dlq_path, ignore_errors=True)
            raw = raw.filter(reason.isNull())

        # ONE profile job per batch: a single pruned-column scan
        # aggregates per (source partition, target bucket) and the
        # driver derives BOTH the lineage part-ranges AND the merge's
        # touched-bucket/upsert/delete stats from its (|parts|·|buckets|,
        # metadata-sized) result — the merge then runs with precomputed
        # batch_stats, so a batch costs exactly two Spark jobs: profile
        # + merge-write.
        part_col = self.source.part_col
        by_part: dict[int, dict] = {}
        touched: set[int] = set()
        n_up = n_del = 0
        with stage("batch.profile"):
            for r in self._profile_rows(raw):
                touched.add(int(r["_b"]))
                n_up += int(r["u"] or 0)
                n_del += int(r["d"] or 0)
                p = int(r[part_col])
                agg = by_part.setdefault(
                    p,
                    {"part": p, "seq_lo": r["lo"], "seq_hi": r["hi"], "n_rows": 0},
                )
                agg["seq_lo"] = min(agg["seq_lo"], int(r["lo"]))
                agg["seq_hi"] = max(agg["seq_hi"], int(r["hi"]))
                agg["n_rows"] += int(r["n"])
        part_ranges = [by_part[p] for p in sorted(by_part)]
        hwm_by_part = dict(props0.get("hwm_by_part", {}))
        for pr in part_ranges:
            hwm_by_part[str(pr["part"])] = max(
                pr["seq_hi"], hwm_by_part.get(str(pr["part"]), -1)
            )

        with stage("batch.merge"):
            res = self.target.merge_upsert(
                raw.drop(part_col),
                order_cols=("warc_ts", "seq"),
                op_col="op",
                properties={
                    "global_hwm": rng.hi,
                    "batch_id": batch_id,
                    "hwm_by_part": hwm_by_part,
                },
                batch_stats={
                    "touched": sorted(touched),
                    "n_upserts": n_up,
                    "n_deletes": n_del,
                },
                merge_mode=self.merge_mode,
                post_merge_transform=self.default_transform,
                parent=m_cur,
            )
        wall = time.monotonic() - t0

        # Sidecar tables are re-derivable from the manifest chain; their
        # writes are idempotent per batch_id (overwrite of batch=N dir),
        # so a crash between commit and sidecar write self-heals on the
        # next run_batch / ensure_sidecars call.
        with stage("batch.sidecars"):
            end = self.source.max_seq() if log_end_seq is None else log_end_seq
            side = self._sidecar_rows(
                batch_id, part_ranges, res.snapshot_id, wall, end - rng.hi
            )
            for kind, rows in side.items():
                self._side_write(kind, batch_id, rows)
        eps = side["metrics"][0]["events_per_sec"]
        if self.derived:
            self.refresh_derived()
        return BatchReport(
            batch_id, rng.lo, rng.hi, False, res.snapshot_id,
            n_up, n_del, wall, eps, n_dead,
        )

    def refresh_derived(self) -> dict[str, int]:
        """Refresh every derived entity table.

        Plain-callable derivations rewrite from a full state scan
        (materialized-view refresh; one cached scan fans out). An
        :class:`IncrementalDerivation` takes the scale path instead:
        only source buckets whose manifest file lists changed since the
        table's last refresh are re-aggregated (delta-sized per-batch
        work), replacing exactly those buckets' partial-aggregate
        partitions. Both paths are idempotent — re-running after a
        crash recomputes the same buckets because the refresh marker
        only advances after the partials land."""
        from clinvar_ingest_spark.operators.normalize import IncrementalDerivation
        from clinvar_ingest_spark.tables import SnapshotTable

        out = {}
        full = {
            n: fn for n, fn in self.derived.items()
            if not isinstance(fn, IncrementalDerivation)
        }
        for name, spec in self.derived.items():
            if isinstance(spec, IncrementalDerivation):
                out[name] = self._refresh_incremental(name, spec)
        if not full:
            return out
        state = self.current_state().persist()
        try:
            for name, fn in full.items():
                df = fn(state)
                key = df.columns[0]
                tbl = SnapshotTable(
                    self.spark, f"{self.target.path}__{name}", key_col=key,
                    n_buckets=8,
                )
                res = tbl.overwrite(
                    df, properties={"source_snapshot": self.target.snapshot_id()}
                )
                out[name] = res.n_rows_after
        finally:
            state.unpersist()
        return out

    def _partials_dir(self, name: str) -> str:
        return f"{self.target.path}__{name}_partials"

    def _refresh_incremental(self, name: str, spec) -> int:
        """Re-aggregate ONLY the source buckets that changed since this
        derived table's last refresh (manifest diff = the change index,
        same pruning as changes_between). Crash-safe: touched buckets'
        partial partitions are deleted then rewritten, and the marker
        recording the refreshed-through snapshot advances only after
        the write — a crash replays the same delta."""
        import shutil

        from clinvar_ingest_spark.operators.normalize import SRC_BUCKET

        base = self._partials_dir(name)
        data_dir = f"{base}/data"
        marker = f"{base}/_refreshed_at"
        cur = self.target.snapshot_id()
        last = None
        if os.path.exists(marker):
            with open(marker) as f:
                last = int(f.read().strip())
        if last == cur:
            return 0
        if last is None:
            buckets = None  # bootstrap: all buckets
        else:
            ma = self.target.manifest_at(last)
            mb = self.target.current_manifest()
            buckets = sorted(
                int(bk)
                for bk in set(ma["buckets"]) | set(mb["buckets"])
                if ma["buckets"].get(bk) != mb["buckets"].get(bk)
            )
            if not buckets:
                with open(marker, "w") as f:
                    f.write(str(cur))
                return 0
        state_slice = self.target.read(buckets=buckets).withColumnRenamed(
            "_bucket", SRC_BUCKET
        )
        rows = spec.partial(state_slice).repartition(F.col(SRC_BUCKET))
        os.makedirs(base, exist_ok=True)
        if buckets is None:
            rows.write.partitionBy(SRC_BUCKET).mode("overwrite").parquet(data_dir)
        else:
            # replace exactly the touched buckets' partitions: a bucket
            # whose groups all vanished must lose its stale partial too,
            # which dynamic partition overwrite alone would keep
            for b in buckets:
                shutil.rmtree(f"{data_dir}/{SRC_BUCKET}={b}", ignore_errors=True)
            rows.write.partitionBy(SRC_BUCKET).mode("append").parquet(data_dir)
        with open(marker, "w") as f:
            f.write(str(cur))
        return len(buckets) if buckets is not None else self.target.n_buckets

    def derived_table(self, name: str):
        from clinvar_ingest_spark.operators.normalize import IncrementalDerivation
        from clinvar_ingest_spark.tables import SnapshotTable

        spec = self.derived.get(name)
        if isinstance(spec, IncrementalDerivation):
            partials = self.spark.read.parquet(f"{self._partials_dir(name)}/data")
            return spec.final(partials)
        tbl = SnapshotTable(self.spark, f"{self.target.path}__{name}")
        return tbl.read().drop("_bucket", "_deleted")

    def run_to_end(self, span: int, end_seq: int | None = None) -> list[BatchReport]:
        """Tail the log to its end (availableNow semantics), resuming
        from the committed HWM — call it again after a crash and it
        continues where the last atomic commit left off. Batches run
        one after another through :meth:`run_batch`."""
        end = self.source.max_seq() if end_seq is None else end_seq
        return [
            self.run_batch(rng, log_end_seq=end)
            for rng in self.source.plan_batches(self.global_hwm(), end, span)
        ]

    # ------------------------------------------------------------ audit
    def verify_lineage(self) -> dict:
        """Full audit of replay determinism bookkeeping: per source
        partition the lineage ranges must be strictly increasing and
        non-overlapping, their max must equal the committed per-part
        HWM, and every batch must reference a committed snapshot.
        Reference analog: the processing_history consistency checks
        (processing_history.py:406-427, 596-635). It is the incremental
        audit run from an empty cursor, and it leaves the persisted
        cursor untouched."""
        return self._audit_lineage({"audited_through_batch": -1, "last_hi": {}})[0]

    def verify_lineage_incremental(self) -> dict:
        """O(new-batches) lineage audit (SCALE.md: "at scale it becomes
        an incremental check of the last K batches" — this is that
        check; :meth:`verify_lineage` stays the opt-in full audit).

        A cursor sidecar (``_lineage/_audit_cursor.json``) records the
        highest audited batch and the per-partition hi it left each
        partition at. Each call audits ONLY the batches past the
        cursor. The cursor advances only on a clean audit, so a
        detected problem keeps being reported until repaired. At 10^5
        batches this is a handful of tiny reads per call instead of a
        full-table scan."""
        import json as _json

        cur_path = f"{self.target.path}/_lineage/_audit_cursor.json"
        cursor = {"audited_through_batch": -1, "last_hi": {}}
        try:
            with open(cur_path) as f:
                cursor = _json.load(f)
        except (OSError, ValueError):
            pass
        res, advanced = self._audit_lineage(cursor)
        if res["ok"] and res["n_new_batches"]:
            _atomic_write(cur_path, _json.dumps(advanced))
        return res

    def _audit_lineage(self, cursor: dict) -> tuple[dict, dict]:
        """Audit the lineage batches past ``cursor``: read their files
        (driver-side pyarrow, same as the writer — metadata-scale, no
        Spark job), seed the continuity check from the cursor's per-part
        hi, verify the batches' snapshots are committed, and re-check
        the per-part HWM equality. Returns the verdict and the cursor a
        clean audit advances to."""
        import pyarrow.parquet as _pq

        root = f"{self.target.path}/_lineage"
        done = int(cursor["audited_through_batch"])
        last_hi = {int(k): int(v) for k, v in cursor["last_hi"].items()}

        new_bids: list[int] = []
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d.startswith("batch="):
                    bid = int(d.split("=", 1)[1])
                    if bid > done:
                        new_bids.append(bid)
        new_bids.sort()

        problems: list[str] = []
        # the snapshot set is only needed when there is new work
        snaps = {m["snapshot_id"] for m in self.target._chain()} if new_bids else set()
        n_rows = 0
        for bid in new_bids:
            t = _pq.read_table(f"{root}/batch={bid}/part-0.parquet")
            recs = sorted(t.to_pylist(), key=lambda r: (r["part"], r["seq_lo"]))
            n_rows += len(recs)
            for r in recs:
                part, lo, hi = int(r["part"]), int(r["seq_lo"]), int(r["seq_hi"])
                if lo <= last_hi.get(part, -1):
                    problems.append(
                        f"part {part}: range ({lo},{hi}] overlaps previous "
                        f"hi={last_hi[part]} (batch {bid})"
                    )
                if hi < lo:
                    problems.append(f"part {part}: inverted range ({lo},{hi}]")
                if int(r["snapshot_id"]) not in snaps:
                    problems.append(
                        f"batch {bid}: snapshot {r['snapshot_id']} missing"
                    )
                last_hi[part] = max(hi, last_hi.get(part, -1))
        hwm = self.checkpoints()
        for part, hi in last_hi.items():
            if hwm.get(str(part)) != hi:
                problems.append(
                    f"part {part}: lineage max {hi} != checkpoint HWM "
                    f"{hwm.get(str(part))}"
                )
        report = {
            "ok": not problems,
            "problems": problems,
            "n_new_batches": len(new_bids),
            "n_lineage_rows": n_rows,
        }
        advanced = {
            "audited_through_batch": new_bids[-1] if new_bids else done,
            "last_hi": {str(k): v for k, v in last_hi.items()},
        }
        return report, advanced

    # ------------------------------------------------------------ reads
    def current_state(self) -> DataFrame:
        return self.target.read().drop("_bucket", "_deleted")

    def lookup(self, url: str) -> DataFrame:
        """Point lookup with manifest bucket pruning — O(1 bucket) scan.
        The head manifest is read first: it owns the bucket count, which
        a freshly opened table only learns from it."""
        m = self.target.current_manifest()
        key = self.target.key_col
        b = (
            self.spark.range(1).select(F.lit(url).alias(key))
            .select(bucket_expr(key, self.target.n_buckets))
            .collect()[0][0]
        )
        return self.target.read(buckets=[b], snapshot=m).filter(F.col(key) == url)
