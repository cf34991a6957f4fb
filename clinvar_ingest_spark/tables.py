"""Snapshot-isolated lake tables with bucketed copy-on-write MERGE.

In production the engine targets Apache Iceberg (``df.writeTo(t)`` /
``MERGE INTO`` with a ``bucket(url)`` partition transform). The sandbox
has no Iceberg runtime jar, so this module implements the same contract
on plain Parquet + JSON manifests:

* data files are **immutable**; a *snapshot* is a JSON manifest mapping
  ``bucket -> [parquet files]`` (files may live in older snapshots'
  directories — commits never copy untouched buckets) and
  ``bucket -> rows`` (``bucket_rows``, the Iceberg manifest record-count
  analog: every commit derives its row count from it, never from a
  footer),
* the current snapshot is a one-line pointer file swapped atomically
  with ``os.replace`` (same effect as an Iceberg catalog pointer swap),
* a MERGE rewrites **only the buckets touched by the batch** — the
  engine's analog of Iceberg partition-level copy-on-write, which is
  what keeps a 10^10-row target mergeable: a batch touching 1% of key
  space rewrites 1% of files,
* snapshot ``properties`` carry the per-source-partition high-water-mark
  so checkpoint and state commit **atomically** (exactly-once fencing;
  reference analog: processing_history started/finished rows,
  clinvar_ingest/cloud/bigquery/processing_history.py:271-489),
* schemas are versioned in the manifest; additive evolution unions the
  batch schema into the table schema and old files read back with NULLs
  for new columns (reference analog: schema_version stamping,
  clinvar_ingest/config.py:49).
"""

from __future__ import annotations

import dataclasses
import hashlib
import itertools
import json
import os
import re
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.operators.dedup import lww_dedup

_PTR = "_ptr"
_MANIFESTS = "_manifests"
_DATA = "data"
_LOCK = "_commit.lock"
# JSON sidecars at the table root, each read-modify-written under _LOCK
_BRANCHES = "_branches.json"
_CLONES = "_clones.json"
BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"
# the evolution log (renames, widenings, defaulted adds) and equality
# delete files: carried from parent to child manifest by every commit,
# because read() resolves each data file against them
_EVO_KEYS = ("renames", "widens", "adds", "delete_files")
# Iceberg-style type promotion (widen_column): the only allowed
# metadata-only type changes — strictly lossless widenings, so files
# written before the widen are read under their narrow stored type and
# cast in the plan (zero rewrites, exact values).
_WIDEN_OK = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}
_TYPE_BY_NAME = {
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    # DDL-style aliases accepted on input (never stored in the log)
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
}

# Iceberg-v3-style row lineage: a stable per-row id assigned at the
# row's FIRST insert (the birth event's sequence number), preserved
# across updates, and reset only when a delete is followed by a
# re-insert. Stored as a regular column on tables created with
# row_lineage=True; tombstones carry NULL.
ROW_ID_COL = "_row_id"


class CommitConflictError(RuntimeError):
    """Another writer committed between our snapshot read and our commit.

    Iceberg commits are CAS-with-retry on the catalog pointer; this is
    the CAS-failure signal. Callers may retry by re-reading the table
    and re-running their merge (the merge is LWW-idempotent, so a retry
    over the new parent converges to the same state)."""


from clinvar_ingest_spark.metrics import stage as _stage


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic key→bucket assignment (Iceberg bucket-transform analog)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: write a temp file in
    the target's directory, then ``os.replace`` it over the target — a
    reader sees the old content or the new, never a torn file. Pointer
    swaps, manifest rewrites and every JSON sidecar go through here."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _parquet_rows(files: list[str]) -> int:
    """Row count of parquet files written by Spark (equality deletes,
    dead letters), whose writers report no per-file counts — summed
    from the footers. Files this module writes itself carry their
    counts in the manifest's ``bucket_rows`` instead."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _bucket_rows(m: dict[str, Any]) -> dict[int, int]:
    """Manifest ``m``'s per-bucket row totals, int-keyed (every commit
    records them)."""
    return {int(b): int(n) for b, n in m["bucket_rows"].items()}


@dataclass
class CommitResult:
    snapshot_id: int
    manifest_path: str
    touched_buckets: list[int]
    n_upserts: int
    n_deletes: int
    n_rows_after: int
    properties: dict[str, Any] = field(default_factory=dict)


@dataclass
class PurgeResult:
    rows_removed: int
    files_rewritten: int
    files_dropped: int
    manifests_updated: int


class SnapshotTable:
    """A bucketed, snapshot-isolated table keyed by ``key_col``."""

    # branch views (see :meth:`branch`) set an instance attribute; the
    # class default keeps plain instances on the MAIN pointer
    _branch: str | None = None

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "url",
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets

    # ------------------------------------------------------------------ meta
    def _ptr_path(self) -> str:
        return os.path.join(self.path, _PTR)

    def exists(self) -> bool:
        return os.path.exists(self._ptr_path())

    def _load_side(self, name: str, default):
        """JSON sidecar ``name`` at the table root, or ``default`` when it
        is missing or unreadable."""
        try:
            with open(os.path.join(self.path, name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return default

    def _save_side(self, name: str, obj) -> None:
        _atomic_write(os.path.join(self.path, name), json.dumps(obj))

    def _read_main_ptr(self) -> str | None:
        if not self.exists():
            return None
        with open(self._ptr_path()) as f:
            return f.read().strip()

    def _read_ptr(self) -> str | None:
        """Head manifest name — the MAIN pointer, or this view's branch
        head when the instance came from :meth:`branch` (every reader
        and every commit CAS routes through here, which is what makes
        merge/DML/compact/rollback work on a branch unchanged)."""
        if self._branch is not None:
            brs = self._load_side(_BRANCHES, {})
            if self._branch not in brs:
                raise ValueError(
                    f"branch {self._branch!r} does not exist (dropped or "
                    "fast-forwarded)"
                )
            return brs[self._branch]
        return self._read_main_ptr()

    def _load_manifest(self, name: str) -> dict[str, Any]:
        with open(os.path.join(self.path, _MANIFESTS, name)) as f:
            m = json.load(f)
        m["_name"] = name  # in-memory only; _commit builds a fresh dict
        return m

    def _rewrite_manifest(self, m: dict[str, Any]) -> None:
        """Rewrite a committed manifest in place (expiry re-rooting,
        clone materialization, GDPR purge) — atomically, so a crash can
        never leave a truncated manifest on the chain."""
        body = {k: v for k, v in m.items() if k != "_name"}
        _atomic_write(
            os.path.join(self.path, _MANIFESTS, m["_name"]), json.dumps(body)
        )

    def current_manifest(self) -> dict[str, Any] | None:
        name = self._read_ptr()
        if name is None:
            return None
        m = self._load_manifest(name)
        # the MANIFEST owns the bucket count for an existing table: a
        # caller constructing with a stale n_buckets (or the default)
        # would otherwise bucket its batches differently than the
        # stored layout — heal silently, constructor value only seeds
        # create()
        if int(m.get("n_buckets", self.n_buckets)) != self.n_buckets:
            self.n_buckets = int(m["n_buckets"])
        return m

    def snapshot_id(self) -> int:
        m = self.current_manifest()
        return -1 if m is None else m["snapshot_id"]

    def schema(self) -> T.StructType | None:
        m = self.current_manifest()
        if m is None:
            return None
        return T.StructType.fromJson(m["schema"])

    def properties(self) -> dict[str, Any]:
        m = self.current_manifest()
        return {} if m is None else m.get("properties", {})

    def _chain(self) -> Iterator[dict[str, Any]]:
        """Yield the COMMITTED manifests head→root, each parsed once, by
        walking ``parent_name`` links from the current pointer — an
        orphan manifest (crash between manifest write and pointer swap)
        is unreachable from the pointer and never surfaces here, even
        though its snapshot_id collides with the next real commit."""
        name = self._read_ptr()
        while name is not None:
            m = self._load_manifest(name)
            yield m
            name = m["parent_name"]

    def history(self) -> list[str]:
        """Manifest names of committed snapshots, root→current."""
        return [m["_name"] for m in self._chain()][::-1]

    def _walk_manifests(self) -> Iterator[dict[str, Any]]:
        """Yield every manifest reachable from the table's roots — the
        MAIN pointer and the branch heads, whose commits are off the
        main chain — each parsed once, by parent links. Names that fail
        to load are skipped. The one manifest-graph walk: clone
        materialization, GDPR purge and vacuum all read through it."""
        stack = [self._read_main_ptr(), *self._load_side(_BRANCHES, {}).values()]
        seen: set[str | None] = {None}
        while stack:
            name = stack.pop()
            if name in seen:
                continue
            seen.add(name)
            try:
                m = self._load_manifest(name)
            except OSError:
                continue
            yield m
            stack.append(m["parent_name"])

    # ------------------------------------------------------------------ read
    def _files(self, manifest: dict[str, Any], buckets: list[int] | None = None):
        out: list[str] = []
        for b, files in manifest["buckets"].items():
            if buckets is None or int(b) in buckets:
                out.extend(files)
        return out

    def read(
        self,
        buckets: list[int] | None = None,
        snapshot: dict[str, Any] | None = None,
        include_deleted: bool = False,
        resolve: bool = True,
        file_filter: set[str] | None = None,
    ) -> DataFrame:
        """Current state. ``buckets`` prunes to the named buckets only —
        the manifest is the engine's partition-pruning index.

        Tombstone rows (``_deleted = true``) are retained in storage so
        that LWW across batches sees deletes (a late out-of-order older
        update must NOT resurrect a deleted key); they are filtered out
        of reads unless ``include_deleted``.

        A merge-on-read table (``read_mode == 'lww'`` in the manifest:
        delta files appended by ``merge_upsert(merge_mode='mor')``)
        resolves versions at read time with the same LWW dedup; every
        version of a key lives in the same bucket, so the resolve is
        bucket-local and prunes with the same manifest index."""
        m = snapshot or self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        schema = T.StructType.fromJson(m["schema"])
        files = self._files(m, buckets)
        if file_filter is not None:
            # file-level pruning (min/max stats sidecar): caller has
            # already proven the dropped files can't satisfy its
            # predicate; sound only on snapshot-mode reads (range_scan
            # enforces that)
            files = [
                f for f in files if os.path.basename(f) in file_filter
            ]
        renames = m.get("renames", [])
        widens = m.get("widens", [])
        adds = m.get("adds", [])
        if not files:
            df = self.spark.createDataFrame([], schema)
        elif not renames and not widens and not adds:
            df = self.spark.read.schema(schema).parquet(*files)
        else:
            # metadata-only renames/widenings/defaulted adds: each file
            # is read under the column names AND types current AT ITS
            # WRITE SNAPSHOT (parsed from the path's sNNNNNNNN hint),
            # then renamed, cast, and default-filled in the plan —
            # grouped so the whole read stays O(#evolution-epochs)
            # scans, not O(#files)
            groups: dict[tuple, list] = {}
            for f in files:
                ssch, pairs, casts, fills = self._schema_at_write(
                    schema, renames, self._file_write_sid(f), widens, adds
                )
                key = (
                    tuple(pairs),
                    tuple((c, t.typeName()) for c, t in casts),
                    tuple((c, d) for c, d, _ in fills),
                )
                if key not in groups:
                    groups[key] = [ssch, pairs, casts, fills, []]
                groups[key][4].append(f)
            parts = []
            for ssch, pairs, casts, fills, fs in groups.values():
                d = self.spark.read.schema(ssch).parquet(*fs)
                for stored, cur in pairs:
                    d = d.withColumnRenamed(stored, cur)
                for cur, typ in casts:
                    d = d.withColumn(cur, F.col(cur).cast(typ))
                for cur, dflt, typ in fills:
                    d = d.withColumn(cur, F.lit(dflt).cast(typ))
                parts.append(d.select(*schema.names))
            df = parts[0]
            for d in parts[1:]:
                df = df.unionByName(d)
        dels = m.get("delete_files", [])
        if dels and files:
            # equality deletes (Iceberg v2): anti-join rows from files
            # OLDER than each delete commit against the deleted keys.
            # Applied BEFORE the LWW resolve so every stored version of
            # a deleted key goes (Iceberg applies deletes per data file
            # before merge-on-read), and with the tombstone exemption —
            # LWW delete markers are never eq-deleted. The per-row file
            # sid is pure codegen (regexp on input_file_name); the
            # delete side is tiny and broadcastable, and a pruned read
            # pushes the bucket filter into the delete-file scan.
            by_sid: dict[int, list[str]] = {}
            for d in dels:
                by_sid.setdefault(int(d["sid"]), []).append(d["path"])
            dparts = []
            for dsid, dpaths in sorted(by_sid.items()):
                dparts.append(
                    self.spark.read.schema(
                        T.StructType(
                            [
                                T.StructField(
                                    self.key_col, schema[self.key_col].dataType
                                ),
                                T.StructField(BUCKET_COL, T.IntegerType()),
                            ]
                        )
                    )
                    .parquet(*dpaths)
                    .select(
                        F.col(self.key_col).alias("_del_key"),
                        F.col(BUCKET_COL).alias("_del_bucket"),
                    )
                    .withColumn("_del_sid", F.lit(dsid))
                )
            del_df = dparts[0]
            for d in dparts[1:]:
                del_df = del_df.unionByName(d)
            if buckets is not None:
                del_df = del_df.filter(F.col("_del_bucket").isin(list(buckets)))
            df = df.withColumn(
                "_fsid",
                F.regexp_extract(
                    F.input_file_name(), r"/s(\d{8})-[^/]*/", 1
                ).cast("int"),
            )
            cond = (
                (F.col(self.key_col) == F.col("_del_key"))
                & (F.col("_fsid") < F.col("_del_sid"))
                & ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            )
            # no forced broadcast: the delete side is usually tiny and
            # auto-broadcasts off its parquet size, but a bulk delete's
            # key set can be arbitrarily large — the planner must keep
            # the shuffled-anti-join escape hatch
            df = df.join(del_df, cond, "left_anti").drop("_fsid")
        if resolve and m.get("read_mode") == "lww":
            df = lww_dedup(
                df,
                key_cols=(self.key_col,),
                order_cols=m.get("order_cols", ["warc_ts", "seq"]),
                strategy="max_by",
            )
        if not include_deleted and DELETED_COL in df.columns:
            # NB: must run AFTER the LWW resolve — filtering tombstones
            # first would let an older stored update win against them
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return df

    # -- per-file min/max column stats (Iceberg manifest file-stats
    # analog): range predicates skip whole files whose [min, max]
    # can't overlap. The bucket index prunes on the KEY; this prunes
    # RANGES — the CDC shape is time-correlated data ("recent rows live
    # in recent files"), so a warc_ts range scan touches only the
    # matching commit epochs. The sidecar is snapshot-scoped and
    # non-invasive (a new commit has no sidecar until the next build — pruning degrades
    # to none, correctness unaffected; Iceberg folds the same stats
    # into its manifests at write time).
    _COLSTATS_DIR = "_colstats"

    def _colstats_path(self, snapshot_id: int) -> str:
        return os.path.join(
            self.path, self._COLSTATS_DIR, f"s{snapshot_id:08d}.json"
        )

    @staticmethod
    def _stats_encode(v):
        """Canonical order-preserving JSON encoding for stats bounds:
        numerics stay numeric; timestamps/dates become fixed-width ISO
        strings (lexicographic == chronological); strings as-is."""
        import datetime

        if v is None:
            return None
        if isinstance(v, datetime.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, (bool, int, float, str)):
            return v
        raise TypeError(f"column stats: unsupported bound type {type(v)}")

    def build_column_stats(self, cols: list[str]) -> str:
        """Build per-file [min, max] stats over ``cols`` for the CURRENT
        snapshot and persist them as a snapshot-scoped sidecar.

        One distributed pass over the resolved read (so renamed/widened/
        defaulted epochs report bounds under CURRENT column names) with
        tombstones INCLUDED — their values only widen bounds, which
        keeps pruning conservative. The driver receives n_files × 2
        scalars per column, never rows.

        Requires a snapshot-mode table with no pending equality-delete
        files: under MoR deltas a pruned file set could surface a STALE
        LWW version whose winner lives in a pruned file (run
        ``compact()`` first — same precondition Iceberg discharges by
        tracking deletes per data file in its manifests)."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        if m.get("read_mode") == "lww" or m.get("delete_files"):
            raise ValueError(
                "column stats require a compacted snapshot-mode table "
                "(MoR deltas / equality-delete files pending: run "
                "compact() first)"
            )
        files = self._files(m)
        out: dict[str, dict[str, list]] = {}
        if files:
            df = self.read(include_deleted=True).withColumn(
                "_f", F.input_file_name()
            )
            aggs = []
            for i, c in enumerate(cols):
                aggs.append(F.min(c).alias(f"_mn{i}"))
                aggs.append(F.max(c).alias(f"_mx{i}"))
            for r in df.groupBy("_f").agg(*aggs).collect():
                name = os.path.basename(r["_f"].replace("file:", ""))
                out[name] = {
                    c: [
                        self._stats_encode(r[f"_mn{i}"]),
                        self._stats_encode(r[f"_mx{i}"]),
                    ]
                    for i, c in enumerate(cols)
                }
        os.makedirs(
            os.path.join(self.path, self._COLSTATS_DIR), exist_ok=True
        )
        path = self._colstats_path(m["snapshot_id"])
        _atomic_write(path, json.dumps({"cols": list(cols), "files": out}))
        return path

    def stats_prune_files(self, col: str, lo=None, hi=None):
        """Basenames of current-snapshot files that MIGHT hold rows with
        ``lo <= col <= hi`` per the stats sidecar; None when no sidecar
        covers this snapshot+column (caller must scan everything).
        Driver-side interval math over the sidecar only — no Spark job.
        Files unknown to the sidecar are kept (never skip blind); files
        whose stats are [null, null] hold no non-null value, and a range
        predicate can't match null, so they ARE skipped."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        path = self._colstats_path(m["snapshot_id"])
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            side = json.load(fh)
        if col not in side.get("cols", []):
            return None
        lo_e = self._stats_encode(lo)
        hi_e = self._stats_encode(hi)
        kept: set[str] = set()
        stats = side["files"]
        for f in self._files(m):
            name = os.path.basename(f)
            st = stats.get(name)
            if st is None:  # file unknown to sidecar: can't skip
                kept.add(name)
                continue
            mn, mx = st[col]
            if mn is None and mx is None:
                continue  # all-null column: no row matches a range
            if mn != mn or mx != mx:
                # NaN bound (float column containing NaN): Spark's
                # min/max sort NaN largest, so the bounds say nothing
                # about the real values — treat as unknowable and KEEP
                # the file ("stats only SKIP, never answer"; ADVICE r5)
                kept.add(name)
                continue
            if (hi_e is None or mn <= hi_e) and (
                lo_e is None or mx >= lo_e
            ):
                kept.add(name)
        return kept

    def range_scan(self, col: str, lo=None, hi=None) -> DataFrame:
        """Range read ``lo <= col <= hi`` (either bound optional),
        file-pruned via the stats sidecar when one covers the current
        snapshot, falling back to a full scan + filter otherwise. The
        residual filter always applies — stats only SKIP, never
        answer."""
        m = self.current_manifest()
        if m is not None and (
            m.get("read_mode") == "lww" or m.get("delete_files")
        ):
            kept = None  # MoR/eq-deletes: pruning unsound, scan all
        else:
            kept = self.stats_prune_files(col, lo, hi)
        df = self.read(file_filter=kept)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def changes_between(
        self,
        from_id: int,
        to_id: int,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot-diff changelog: what changed between two committed
        snapshots, as (key, change_op, before, after) with
        ``change_op ∈ {insert, update, delete}`` and before/after structs
        of the row's visible columns at each snapshot.

        Reference analog: the cross-release temporal tables the reference
        builds in post-processing (clinvar_ingest/cloud/bigquery/
        stored_procedures.py:30-36, gated at processing_history.py:683-692)
        — "what changed this release" — re-expressed as an Iceberg
        changelog-scan analog over the manifest chain.

        Scale path: the manifest IS the diff index. Only buckets whose
        file lists differ between the two manifests are scanned — a CoW
        commit touching 1% of buckets diffs 1% of the table regardless
        of table size; untouched buckets share identical immutable files
        and cannot contain changes. Within changed buckets the diff is a
        single full-outer shuffle join on the key, sized by the changed
        buckets' rows, not the table. Rows rewritten-but-identical
        (compaction, bucket co-residents of a changed key) are filtered
        by a null-safe struct comparison over ``compare_cols`` (default:
        every shared data column).

        Additive schema evolution between the snapshots is handled:
        columns missing on the older side read as NULL in ``before``.
        """
        ma = self.manifest_at(from_id)
        mb = self.manifest_at(to_id)
        changed = sorted(
            int(bk)
            for bk in set(ma["buckets"]) | set(mb["buckets"])
            if ma["buckets"].get(bk) != mb["buckets"].get(bk)
        )
        a = self.read(buckets=changed, snapshot=ma).drop(BUCKET_COL, DELETED_COL)
        b = self.read(buckets=changed, snapshot=mb).drop(BUCKET_COL, DELETED_COL)
        # renames between the snapshots: map the older side's columns
        # forward (in log order) so a renamed column diffs as the SAME
        # column, not as one dropped + one added; a rename-only commit
        # touches no bucket files, so it correctly reports zero row
        # changes
        evs = sorted(
            [dict(ev, _kind="r") for ev in mb.get("renames", [])]
            + [dict(ev, _kind="w") for ev in mb.get("widens", [])]
            + [dict(ev, _kind="a") for ev in mb.get("adds", [])],
            key=lambda e: int(e["sid"]),
        )
        for ev in evs:
            if not (from_id < int(ev["sid"]) <= to_id):
                continue
            if ev["_kind"] == "r" and ev["from"] in a.columns:
                a = a.withColumnRenamed(ev["from"], ev["to"])
            elif ev["_kind"] == "w" and ev["col"] in a.columns:
                a = a.withColumn(
                    ev["col"], F.col(ev["col"]).cast(_TYPE_BY_NAME[ev["to"]])
                )
            elif ev["_kind"] == "a" and ev["col"] not in a.columns:
                # defaulted add between the snapshots: the older side
                # reads as the initial default, so an add-only commit
                # (and rows untouched since) diffs as zero changes
                a = a.withColumn(
                    ev["col"],
                    F.lit(ev.get("default")).cast(
                        T._parse_datatype_string(ev["type"])
                    ),
                )
        # align schemas (additive evolution: fill the missing side with NULL)
        for f in b.schema.fields:
            if f.name not in a.columns:
                a = a.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in a.schema.fields:
            if f.name not in b.columns:
                b = b.withColumn(f.name, F.lit(None).cast(f.dataType))
        data_cols = [f.name for f in b.schema.fields]
        a = a.select(*data_cols)
        if compare_cols is None:
            compare_cols = [c for c in data_cols if c != self.key_col]
        k = self.key_col
        a_s = a.select(
            F.col(k).alias("_k_a"),
            F.struct(*[F.col(c) for c in data_cols]).alias("before"),
        )
        b_s = b.select(
            F.col(k).alias("_k_b"),
            F.struct(*[F.col(c) for c in data_cols]).alias("after"),
        )
        j = a_s.join(b_s, F.col("_k_a") == F.col("_k_b"), "full_outer")
        op = (
            F.when(F.col("_k_a").isNull(), F.lit("insert"))
            .when(F.col("_k_b").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        differs = ~F.struct(
            *[F.col(f"before.{c}") for c in compare_cols]
        ).eqNullSafe(F.struct(*[F.col(f"after.{c}") for c in compare_cols]))
        return (
            j.select(
                F.coalesce(F.col("_k_a"), F.col("_k_b")).alias(k),
                op.alias("change_op"),
                F.col("before"),
                F.col("after"),
            )
            .filter((F.col("change_op") != "update") | differs)
        )

    def change_feed(
        self,
        from_id: int,
        to_id: int,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-image change feed between two snapshots (Delta CDF /
        Iceberg changelog-scan analog): one row per IMAGE with
        ``_change_type ∈ {insert, delete, update_preimage,
        update_postimage}`` (an update yields two rows) and
        ``_commit_version = to_id``, row columns flattened at the top
        level — the shape downstream incremental consumers subscribe
        to.

        Built directly on :meth:`changes_between`, so it inherits the
        manifest-diff scan (only buckets whose file lists differ are
        read) — the explode into images is a map-side transform, no
        extra shuffle or join.
        """
        ch = self.changes_between(from_id, to_id, compare_cols)
        k = self.key_col
        pair = F.when(
            F.col("change_op") == "insert",
            F.array(
                F.struct(
                    F.col("after").alias("row"), F.lit("insert").alias("ct")
                )
            ),
        ).when(
            F.col("change_op") == "delete",
            F.array(
                F.struct(
                    F.col("before").alias("row"), F.lit("delete").alias("ct")
                )
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.col("before").alias("row"),
                    F.lit("update_preimage").alias("ct"),
                ),
                F.struct(
                    F.col("after").alias("row"),
                    F.lit("update_postimage").alias("ct"),
                ),
            )
        )
        img = ch.select(F.col(k), F.explode(pair).alias("_img"))
        row_fields = [
            f.name
            for f in ch.schema["after"].dataType.fields
            if f.name != k
        ]
        return img.select(
            F.col(k),
            F.col("_img.ct").alias("_change_type"),
            F.lit(int(to_id)).alias("_commit_version"),
            *[F.col(f"_img.row.{c}").alias(c) for c in row_fields],
        )

    def manifest_at(self, snapshot_id: int) -> dict[str, Any]:
        """Resolve a snapshot id through the committed parent chain only
        — an orphan manifest with a colliding id is never returned. The
        walk goes head→root and stops at the target."""
        for m in self._chain():
            if m["snapshot_id"] == snapshot_id:
                return m
        raise ValueError(f"snapshot {snapshot_id} not found in {self.path}")

    def read_at(self, snapshot_id: int) -> DataFrame:
        """Time travel: read the table as of an older snapshot."""
        return self.read(snapshot=self.manifest_at(snapshot_id))

    def rollback_to(self, snapshot_id: int) -> CommitResult:
        """Iceberg ``rollback_to_snapshot`` analog: a METADATA-ONLY
        commit whose content — file lists, row totals, schema, evolution
        log, read mode, sort order, properties (so retention
        settings revert too) — is the target snapshot's, with parent =
        the CURRENT head. No data file is touched or
        rewritten; the abandoned snapshots stay on the committed chain,
        so they remain time-travelable and their files stay GC-safe
        until normal retention expires them. Reference analog: the
        release-replay recovery loop (clinvar-ingest reprocesses a
        release from scratch when a load goes bad,
        clinvar_ingest/api/main.py); here recovery is one pointer-level
        commit instead of a re-ingest."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        if snapshot_id == m["snapshot_id"]:
            raise ValueError(f"already at snapshot {snapshot_id}")
        t = self.manifest_at(snapshot_id)  # committed-chain resolution only
        buckets = {int(b): list(fs) for b, fs in t["buckets"].items()}
        sid, mp = self._commit(
            buckets,
            T.StructType.fromJson(t["schema"]),
            dict(t.get("properties", {})),
            m["snapshot_id"],
            dict(t.get("stats", {})),
            read_mode=t.get("read_mode", "plain"),
            order_cols=t.get("order_cols"),
            parent_name=m["_name"],
            # the TARGET's evolution log verbatim (empty lists included,
            # so a rollback across a rename really reverts it)
            schema_evolution={k: list(t.get(k, [])) for k in _EVO_KEYS},
            bucket_rows=_bucket_rows(t),
        )
        return CommitResult(
            sid, mp, sorted(buckets), 0, 0,
            int(t.get("stats", {}).get("n_rows", -1)),
            dict(t.get("properties", {})),
        )

    # --------------------------------------------------- schema evolution
    _PROTECTED_COLS = (BUCKET_COL, DELETED_COL, ROW_ID_COL)

    def rename_column(self, old: str, new: str) -> CommitResult:
        """METADATA-ONLY column rename (full Iceberg-style schema
        evolution, not just additive): no data file is rewritten. Data
        files keep whatever name was current when they were written;
        the manifest records ``renames: [{sid, from, to}]`` and
        :meth:`read` resolves each file's write-time name from the
        snapshot hint embedded in its path (``.../sNNNNNNNN-*/...``) —
        old files are read under the old name and renamed in the plan.
        The bucketing key and internal columns cannot be renamed (the
        key name feeds ``bucket_expr`` everywhere)."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        schema = T.StructType.fromJson(m["schema"])
        if old == self.key_col or old in self._PROTECTED_COLS:
            raise ValueError(f"cannot rename {old!r}")
        if old not in schema.names:
            raise ValueError(f"no column {old!r}")
        if new in schema.names:
            raise ValueError(f"column {new!r} already exists")
        if new in {r["from"] for r in m.get("renames", [])}:
            raise ValueError(
                f"column name {new!r} is a historical rename source "
                "on this table; reusing it would make pre-rename "
                "files ambiguous — pick a fresh name"
            )
        if old in (m.get("order_cols") or []):
            raise ValueError(f"cannot rename order column {old!r}")
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        log = list(m.get("renames", []))
        log.append({"sid": m["snapshot_id"] + 1, "from": old, "to": new})
        return self._commit_files(
            m, {}, {}, [], schema=new_schema, schema_evolution={"renames": log}
        )

    def add_column(
        self, name: str, dtype, default=None
    ) -> CommitResult:
        """METADATA-ONLY column add with an INITIAL DEFAULT (Iceberg v3
        default-value semantics): rows written BEFORE the add read as
        ``default`` (filled in the plan — no file rewritten), rows
        written after store real values (a batch that omits the column
        still writes NULL, the additive-evolution contract). The add is
        recorded as ``adds: [{sid, col, default, type}]`` and resolved
        per file from its write-snapshot hint, composing with renames
        and widenings in the same reverse walk."""
        if isinstance(dtype, str):
            dtype = (
                _TYPE_BY_NAME[dtype]
                if dtype in _TYPE_BY_NAME
                else T._parse_datatype_string(dtype)
            )
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        schema = T.StructType.fromJson(m["schema"])
        if name in schema.names:
            raise ValueError(f"column {name!r} already exists")
        if name in {r["from"] for r in m.get("renames", [])}:
            raise ValueError(
                f"column name {name!r} is a historical rename source "
                "on this table — use a new column name"
            )
        if default is not None and not isinstance(
            default, (int, float, str, bool)
        ):
            raise ValueError("default must be a plain scalar (or None)")
        new_schema = T.StructType(
            list(schema.fields) + [T.StructField(name, dtype, True)]
        )
        log = list(m.get("adds", []))
        log.append(
            {
                "sid": m["snapshot_id"] + 1,
                "col": name,
                "default": default,
                "type": dtype.simpleString(),
            }
        )
        return self._commit_files(
            m, {}, {}, [], schema=new_schema, schema_evolution={"adds": log}
        )

    def widen_column(self, name: str, new_type) -> CommitResult:
        """METADATA-ONLY type widening (Iceberg type-promotion analog):
        int→bigint, float→double, smallint/tinyint→wider ints. No data
        file is rewritten — files keep their narrow stored type and the
        manifest records ``widens: [{sid, col, from, to}]``; ``read``
        resolves each file's write-time type from its snapshot hint and
        CASTs in the plan (lossless by construction, so values are
        exact). Batches may keep sending the narrow type — the merge's
        union coerces them to the current type.

        The bucketing key cannot be widened: ``bucket_expr`` hashes the
        key's PHYSICAL type, so int→long would re-home every key."""
        if isinstance(new_type, str):
            if new_type not in _TYPE_BY_NAME:
                raise ValueError(f"unknown type {new_type!r}")
            new_type = _TYPE_BY_NAME[new_type]
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        schema = T.StructType.fromJson(m["schema"])
        if name == self.key_col or name in self._PROTECTED_COLS:
            raise ValueError(f"cannot widen {name!r}")
        if name not in schema.names:
            raise ValueError(f"no column {name!r}")
        old_t = schema[name].dataType
        if new_type.typeName() not in _WIDEN_OK.get(old_t.typeName(), ()):
            raise ValueError(
                f"cannot widen {old_t.typeName()} -> {new_type.typeName()}"
                f"; allowed promotions: {_WIDEN_OK}"
            )
        new_schema = T.StructType(
            [
                T.StructField(name, new_type, f.nullable)
                if f.name == name
                else f
                for f in schema.fields
            ]
        )
        log = list(m.get("widens", []))
        log.append(
            {
                "sid": m["snapshot_id"] + 1,
                "col": name,
                "from": old_t.typeName(),
                "to": new_type.typeName(),
            }
        )
        return self._commit_files(
            m, {}, {}, [], schema=new_schema, schema_evolution={"widens": log}
        )

    @staticmethod
    def _file_write_sid(path: str) -> int:
        # Anchor to the segment directly under the table's data dir —
        # a bare search would also match an s########- segment in the
        # user's workdir path (e.g. /tmp/s20240101-run/tbl/...) and
        # resolve every file to that bogus snapshot id.
        mm = re.search(rf"/{_DATA}/s(\d{{8}})-[^/]*/", path)
        if mm:
            return int(mm.group(1))
        # fallback for layouts without a /data/ component: take the
        # LAST match, which is nearest the file and past any workdir
        hits = re.findall(r"/s(\d{8})-", path)
        return int(hits[-1]) if hits else 0

    def _schema_at_write(
        self,
        schema: T.StructType,
        renames: list[dict],
        write_sid: int,
        widens: list[dict] | None = None,
        adds: list[dict] | None = None,
    ) -> tuple[
        T.StructType,
        list[tuple[str, str]],
        list[tuple[str, Any]],
        list[tuple[str, Any, Any]],
    ]:
        """Undo renames, type widenings, AND defaulted column adds newer
        than ``write_sid`` in one reverse walk over the interleaved
        evolution log: returns the schema under which a file of that
        snapshot was written, the (stored, current) name pairs to rename
        after reading, the (current, target_type) casts to apply after
        renaming, and the (current, default, target_type) fills for
        columns that did not exist yet at write time. The walk is
        reverse-sid so an event's column name (recorded at its own sid)
        matches the tracked stored name exactly when the event is
        reached — renames after it have already been undone."""
        # current name -> [stored_name, stored_type, absent, default]
        state = {f.name: [f.name, f.dataType, False, None] for f in schema.fields}
        events = sorted(
            [dict(ev, _kind="r") for ev in renames]
            + [dict(ev, _kind="w") for ev in (widens or [])]
            + [dict(ev, _kind="a") for ev in (adds or [])],
            key=lambda e: int(e["sid"]),
        )
        for ev in reversed(events):
            if int(ev["sid"]) <= write_sid:
                continue
            if ev["_kind"] == "r":
                for sv in state.values():
                    if sv[0] == ev["to"]:
                        sv[0] = ev["from"]
            elif ev["_kind"] == "w":
                for sv in state.values():
                    if sv[0] == ev["col"]:
                        sv[1] = _TYPE_BY_NAME[ev["from"]]
            else:
                for sv in state.values():
                    if sv[0] == ev["col"]:
                        sv[2] = True
                        sv[3] = ev.get("default")
        pairs = [
            (sv[0], cur)
            for cur, sv in state.items()
            if sv[0] != cur and not sv[2]
        ]
        casts = [
            (f.name, f.dataType)
            for f in schema.fields
            if not state[f.name][2]
            and state[f.name][1].typeName() != f.dataType.typeName()
        ]
        fills = [
            (f.name, state[f.name][3], f.dataType)
            for f in schema.fields
            if state[f.name][2]
        ]
        stored_schema = T.StructType(
            [
                T.StructField(state[f.name][0], state[f.name][1], f.nullable)
                for f in schema.fields
                if not state[f.name][2]
            ]
        )
        return stored_schema, pairs, casts, fills

    # ------------------------------------------------------------------ lock
    _LOCK_TTL = 30.0  # break locks whose mtime is older than this

    def _acquire_lock(self, wait: float = 10.0) -> str:
        """Take the table's commit lock, recovering from stale holders.

        The lock file records the holder's pid; a lock is STALE when its
        mtime is older than ``_LOCK_TTL`` (the portable signal — commits
        hold it for milliseconds) or, best-effort on a local FS, when the
        recorded pid is no longer alive. A writer SIGKILLed between lock
        creation and the finally-unlink previously wedged the table
        forever (every commit spun the full wait and raised). Breaking
        goes through :meth:`_break_stale_lock`: a secondary breaker lock
        serializes breakers, and the break is verified by inode so a
        stale lock that was released-and-reacquired by a live writer
        between the staleness check and the rename is restored, not
        stolen (round-3 ADVICE TOCTOU)."""
        lock = os.path.join(self.path, _LOCK)
        deadline = time.monotonic() + wait
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    ino = os.stat(lock).st_ino
                except OSError:
                    continue  # vanished — normal release, retry acquire
                if self._lock_is_stale(lock):
                    self._break_stale_lock(lock, ino)
                    continue
                if time.monotonic() > deadline:
                    raise CommitConflictError(
                        f"commit lock {lock} held >{wait}s by a live "
                        f"writer; concurrent writer wedged or overloaded"
                    ) from None
                time.sleep(0.05)

    def _lock_is_stale(self, lock: str) -> bool:
        try:
            st = os.stat(lock)
        except OSError:
            return False  # vanished — normal release, retry acquire
        if time.time() - st.st_mtime > self._LOCK_TTL:
            return True
        try:
            with open(lock) as f:
                pid = int(f.read().strip() or "0")
        except (OSError, ValueError):
            return False  # unreadable/foreign lock: trust the TTL only
        if pid <= 0 or pid == os.getpid():
            return False
        try:
            os.kill(pid, 0)  # signal 0 = liveness probe
            return False
        except ProcessLookupError:
            return True  # holder died without releasing
        except PermissionError:
            return False  # alive, different user

    def _break_stale_lock(self, lock: str, expect_ino: int) -> None:
        """Break ``lock`` only if it is still the SAME file observed
        stale (inode match), under a secondary breaker lock.

        The breaker serializes contending breakers; the inode re-check
        under it plus the post-rename verification close the round-3
        ADVICE TOCTOU: if the stale holder's lock vanished and a LIVE
        writer re-acquired between the caller's staleness check and the
        rename, the renamed file's inode differs and the live lock is
        restored via ``os.link`` (which refuses to clobber a newer
        lock). The residual window — release + re-acquire + a second
        re-acquire all landing between one fstat pair — needs four
        racing events inside microseconds and is accepted for a
        local-FS lock; a real deployment points the catalog at an
        atomic CAS service (the reference uses BigQuery jobs the same
        way, clinvar_ingest/cloud/bigquery.py)."""
        breaker = lock + ".breaker"
        try:
            fd = os.open(breaker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            # another breaker is active; if ITS holder died, TTL-break
            # it and let the acquire loop re-drive
            try:
                if time.time() - os.stat(breaker).st_mtime > self._LOCK_TTL:
                    os.unlink(breaker)
            except OSError:
                pass
            return
        try:
            try:
                st = os.stat(lock)
            except OSError:
                return  # already gone
            if st.st_ino != expect_ino or not self._lock_is_stale(lock):
                return  # replaced by a fresh lock, or no longer stale
            grave = lock + f".stale-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lock, grave)
            except OSError:
                return
            try:
                if os.stat(grave).st_ino == expect_ino:
                    os.unlink(grave)  # broke the verified-stale lock
                else:
                    # raced a release+reacquire: grave holds a LIVE
                    # writer's lock — put it back
                    try:
                        os.link(grave, lock)
                    except OSError:
                        pass
                    os.unlink(grave)
            except OSError:
                pass
        finally:
            try:
                os.unlink(breaker)
            except OSError:
                pass

    def _release_lock(self, lock: str) -> None:
        """Release only if still the owner: a TTL-broken slow writer
        must not unlink the lock a successor legitimately holds."""
        try:
            with open(lock) as f:
                owner = int(f.read().strip() or "0")
        except (OSError, ValueError):
            return
        if owner == os.getpid():
            try:
                os.unlink(lock)
            except OSError:
                pass

    # ----------------------------------------------------------------- write
    def _commit(
        self,
        buckets: dict[int, list[str]],
        schema: T.StructType,
        properties: dict[str, Any],
        parent: int,
        stats: dict[str, Any],
        read_mode: str = "plain",
        order_cols: list[str] | None = None,
        parent_name: str | None = None,
        schema_evolution: dict[str, Any] | None = None,
        bucket_rows: dict[int, int] | None = None,
    ) -> tuple[int, str]:
        """Commit = CAS on the pointer (Iceberg catalog analog).

        ``bucket_rows`` holds the row total of each bucket in
        ``buckets``; only a commit with no buckets may omit it.
        ``schema_evolution`` is the manifest's whole evolution log
        (:data:`_EVO_KEYS`): the caller carries it from the parent.

        The swap itself is atomic (``os.replace``); conflict detection
        makes it a compare-and-swap: under a short-lived lock file we
        re-read the pointer and fail with :class:`CommitConflictError`
        if it no longer names the parent manifest this commit was
        planned against — two concurrent writers (ingest racing a
        compaction, say) can both *plan* from snapshot N but only one
        commits N+1; the loser must re-read and retry. Manifests written
        by a commit that crashed pre-swap are orphans: unreachable from
        the pointer chain, never read, and swept by
        :meth:`vacuum_orphans`."""
        os.makedirs(os.path.join(self.path, _MANIFESTS), exist_ok=True)
        sid = parent + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "parent_name": parent_name,
            "key_col": self.key_col,
            "n_buckets": self.n_buckets,
            "schema": schema.jsonValue(),
            "buckets": {str(b): f for b, f in sorted(buckets.items())},
            "bucket_rows": {
                str(b): n for b, n in sorted((bucket_rows or {}).items())
            },
            "properties": properties,
            "stats": stats,
            "read_mode": read_mode,
        }
        if order_cols:
            manifest["order_cols"] = list(order_cols)
        if schema_evolution:
            manifest.update(schema_evolution)
        name = f"m-{sid:08d}-{uuid.uuid4().hex[:8]}.json"
        mpath = os.path.join(self.path, _MANIFESTS, name)
        lock = self._acquire_lock()
        try:
            current = self._read_ptr()
            if current != parent_name:
                raise CommitConflictError(
                    f"snapshot pointer moved: planned against "
                    f"{parent_name!r} but pointer now names {current!r} "
                    f"— re-read the table and retry the merge"
                )
            with open(mpath, "w") as f:
                json.dump(manifest, f)
            if self._branch is not None:
                # branch commit: the CAS above already compared against
                # the branch head (branch-aware _read_ptr); advance the
                # branch ref, never the main pointer
                brs = self._load_side(_BRANCHES, {})
                brs[self._branch] = name
                self._save_side(_BRANCHES, brs)
            else:
                _atomic_write(self._ptr_path(), name)  # the commit point
        finally:
            self._release_lock(lock)
        return sid, mpath

    # -- branch refs (Iceberg branch analog) ---------------------------
    # A branch is a named head in _branches.json that advances through
    # the SAME _commit CAS as main (compare-and-swap against the branch
    # head, under the table lock). Every snapshot-producing write ends
    # in _commit_files (rollback_to in _commit), and every reader and
    # writer resolves its head through the branch-aware _read_ptr, so
    # the whole write surface works on a branch with zero extra code:
    # Iceberg's branch semantics, but uniform across the whole engine.
    # Write-audit-publish is a branch too: create it, commit the batch
    # on its view, audit that view, then fast_forward (publish) or
    # drop_branch (abort) — Iceberg's own WAP runs on branches.

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create branch ``name`` at the current MAIN head (or at a
        historical ``snapshot_id``). Returns the branch head snapshot
        id. The branch head is a root of :meth:`vacuum_orphans` until
        the branch is dropped or fast-forwarded."""
        if self._branch is not None:
            raise ValueError("create_branch must run on the main table")
        lock = self._acquire_lock()
        try:
            brs = self._load_side(_BRANCHES, {})
            if name in brs:
                raise ValueError(f"branch {name!r} already exists")
            if snapshot_id is None:
                head = self._read_main_ptr()
                if head is None:
                    raise ValueError(f"table {self.path} does not exist")
            else:
                head = self.manifest_at(snapshot_id)["_name"]
            brs[name] = head
            self._save_side(_BRANCHES, brs)
            return self._load_manifest(head)["snapshot_id"]
        finally:
            self._release_lock(lock)

    def branch(self, name: str) -> "SnapshotTable":
        """A view of this table whose head is branch ``name``: reads,
        time travel, and every write path operate on the branch."""
        import copy

        if self._branch is not None:
            raise ValueError("already a branch view; branch from main")
        if name not in self._load_side(_BRANCHES, {}):
            raise ValueError(f"branch {name!r} does not exist")
        view = copy.copy(self)
        view._branch = name
        return view

    def drop_branch(self, name: str) -> None:
        """Delete the branch ref — the abort half of write-audit-publish;
        its exclusive manifests/files become orphans (swept by
        :meth:`vacuum_orphans`). A failed audit must
        end here: a live branch pins its files and makes
        ``vacuum_orphans(keep_snapshots=)`` refuse to expire."""
        lock = self._acquire_lock()
        try:
            brs = self._load_side(_BRANCHES, {})
            if name not in brs:
                raise ValueError(f"branch {name!r} does not exist")
            brs.pop(name)
            self._save_side(_BRANCHES, brs)
        finally:
            self._release_lock(lock)

    def fast_forward(self, name: str) -> int:
        """Publish branch ``name``: move the MAIN pointer to the branch
        head and drop the ref. Requires main to be an ANCESTOR of (or
        equal to) the branch head — the Iceberg fast-forward contract;
        if main advanced independently the branch has diverged and the
        caller must replay/rebase instead (CommitConflictError)."""
        lock = self._acquire_lock()
        try:
            brs = self._load_side(_BRANCHES, {})
            if name not in brs:
                raise ValueError(f"branch {name!r} does not exist")
            head = brs[name]
            cur = self._read_main_ptr()
            n: str | None = head
            ok = False
            while n is not None:
                if n == cur:
                    ok = True
                    break
                try:
                    n = self._load_manifest(n)["parent_name"]
                except OSError:
                    break
            if not ok:
                raise CommitConflictError(
                    f"branch {name!r} does not descend from the current "
                    f"main head {cur!r} — main advanced since the branch "
                    "was created; replay the branch commits instead"
                )
            if head != cur:
                _atomic_write(self._ptr_path(), head)
            brs.pop(name)
            self._save_side(_BRANCHES, brs)
            return self._load_manifest(head)["snapshot_id"]
        finally:
            self._release_lock(lock)

    # -- shallow clone (Delta SHALLOW CLONE / Iceberg snapshot-ref
    # table analog): a NEW table whose root manifest references the
    # source's data files by absolute path — zero bytes copied. Both
    # tables then diverge independently (every write path commits new
    # files under its OWN data dir). Unlike Delta — where VACUUM on the
    # source silently breaks clones — the source keeps a clone registry
    # and its GC treats clone-reachable files as referenced; ownership
    # ops (purge_key, drop) refuse while foreign references exist, and
    # materialize() converts shallow→deep to restore full ownership.
    def clones(self) -> list[str]:
        """Registered shallow-clone paths whose table still exists
        (dropped clones self-deregister on the next read/vacuum)."""
        return [
            p
            for p in self._load_side(_CLONES, [])
            if os.path.exists(os.path.join(p, _PTR))
        ]

    def _data_root(self) -> str:
        return os.path.realpath(os.path.join(self.path, _DATA))

    def _foreign_files(self, manifests: list[dict[str, Any]]) -> list[str]:
        """Referenced data files living OUTSIDE this table's data dir
        (non-empty exactly while a shallow clone is un-materialized)."""
        root = self._data_root() + os.sep
        out = set()
        for m in manifests:
            for files in m["buckets"].values():
                for f in files:
                    if not os.path.realpath(f).startswith(root):
                        out.add(f)
            for d in m.get("delete_files", []):
                if not os.path.realpath(d["path"]).startswith(root):
                    out.add(d["path"])
        return sorted(out)

    def shallow_clone(self, dst_path: str) -> "SnapshotTable":
        """Create a zero-copy clone of the current snapshot at
        ``dst_path``: one root manifest referencing the source's files,
        written under the source commit lock so a concurrent
        vacuum/expiry cannot sweep the referenced files mid-clone. The
        clone's snapshot numbering CONTINUES from the source's current
        id, so the write-epoch hints embedded in inherited file paths
        (``s{sid}-``) stay strictly older than any future clone commit
        and rename-epoch schema resolution keeps working unchanged.

        Scale: metadata-only — O(#files) manifest JSON on the driver,
        no Spark job, no data movement; cloning a 100 TB table costs
        the same as cloning a 100 MB one."""
        lock = self._acquire_lock()
        try:
            m = self.current_manifest()
            if m is None:
                raise ValueError(f"table {self.path} does not exist")
            if self._branch is not None:
                raise ValueError(
                    "clone from the main table (fast-forward the branch "
                    "first)"
                )
            clone = SnapshotTable(
                self.spark,
                dst_path,
                key_col=self.key_col,
                n_buckets=int(m.get("n_buckets", self.n_buckets)),
            )
            if clone.exists():
                raise ValueError(f"table {dst_path} already exists")
            # a clone of an UN-materialized clone would reference the
            # grandparent's files while registering only with the
            # parent — the grandparent's GC can't see it. Refuse until
            # the chain is flattened.
            if self._foreign_files([m]):
                raise ValueError(
                    "this table still references files it does not own "
                    "(it is an un-materialized shallow clone) — call "
                    "materialize() before cloning it"
                )
            sid = int(m["snapshot_id"])
            manifest: dict[str, Any] = {
                "snapshot_id": sid,
                "parent_id": -1,
                "parent_name": None,
                "key_col": self.key_col,
                "n_buckets": int(m.get("n_buckets", self.n_buckets)),
                "schema": m["schema"],
                "buckets": {
                    b: [os.path.realpath(f) for f in files]
                    for b, files in m["buckets"].items()
                },
                "bucket_rows": {
                    str(b): n for b, n in sorted(_bucket_rows(m).items())
                },
                "properties": {
                    **m.get("properties", {}),
                    "cloned_from": os.path.realpath(self.path),
                    "clone_src_snapshot_id": sid,
                },
                "stats": dict(m.get("stats", {})),
                "read_mode": m.get("read_mode", "plain"),
            }
            if m.get("order_cols"):
                manifest["order_cols"] = list(m["order_cols"])
            for k in _EVO_KEYS:
                if m.get(k):
                    manifest[k] = m[k]
            os.makedirs(os.path.join(dst_path, _MANIFESTS), exist_ok=True)
            name = f"m-{sid:08d}-{uuid.uuid4().hex[:8]}.json"
            with open(os.path.join(dst_path, _MANIFESTS, name), "w") as f:
                json.dump(manifest, f)
            _atomic_write(clone._ptr_path(), name)
            registry = self._load_side(_CLONES, [])
            real_dst = os.path.realpath(dst_path)
            if real_dst not in registry:
                registry.append(real_dst)
                self._save_side(_CLONES, registry)
            return clone
        finally:
            self._release_lock(lock)

    def materialize(self) -> CommitResult | None:
        """Convert a shallow clone into a self-contained table: copy
        every FOREIGN-referenced data file into this table's own data
        dir (preserving the original ``s{sid}-`` epoch dir name so
        write-epoch schema resolution is untouched) and commit a
        manifest with the paths swapped. Files already owned are not
        touched; returns ``None`` when nothing is foreign.

        Driver-side byte copy here (local FS); on a real cluster this
        step is a distributed file copy (one task per file) with the
        same path arithmetic — the manifest swap is identical."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        # ALL reachable manifests — branch chains reference files
        # too; remapping only the main chain would deregister while
        # they still point at the source
        foreign = set(self._foreign_files(list(self._walk_manifests())))
        if not foreign:
            return None
        root = self._data_root()
        mapping: dict[str, str] = {}
        for f in sorted(foreign):
            real = os.path.realpath(f)
            # keep .../data/s{sid}-*/file.parquet tail; fall back to the
            # last two path components for layouts without a data dir
            mm = re.search(rf"/{_DATA}/(s\d{{8}}-[^/]*/.+)$", real)
            tail = mm.group(1) if mm else "/".join(real.split("/")[-2:])
            dst = os.path.join(root, tail)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(dst):
                shutil.copyfile(real, dst)
            mapping[f] = dst
        lock = self._acquire_lock()
        try:
            # re-resolve every reachable manifest under the lock and
            # swap paths IN PLACE (same shape as purge_key's remap):
            # history, branches, and time travel all become
            # self-contained, not just the head
            head = self._read_ptr()
            for mm_ in self._walk_manifests():
                changed = False
                for b, files in mm_["buckets"].items():
                    nf = [mapping.get(f, f) for f in files]
                    if nf != files:
                        mm_["buckets"][b] = nf
                        changed = True
                for d in mm_.get("delete_files", []):
                    np_ = mapping.get(d["path"], d["path"])
                    if np_ != d["path"]:
                        d["path"] = np_
                        changed = True
                if changed:
                    self._rewrite_manifest(mm_)
            cur = self._load_manifest(head)
            # deregister from the source's clone registry — ownership
            # is now local, the source may GC/purge freely
            src = cur.get("properties", {}).get("cloned_from")
            if src and os.path.isdir(src):
                try:
                    src_tbl = SnapshotTable(
                        self.spark, src, key_col=self.key_col
                    )
                    # the registry is read-modify-write: take the
                    # SOURCE's lock (registration in shallow_clone
                    # holds it too). Lock order is always
                    # clone-then-source, so no cycle.
                    slock = src_tbl._acquire_lock()
                    try:
                        reg = src_tbl._load_side(_CLONES, [])
                        me = os.path.realpath(self.path)
                        if me in reg:
                            reg.remove(me)
                            src_tbl._save_side(_CLONES, reg)
                    finally:
                        src_tbl._release_lock(slock)
                except OSError:
                    pass
        finally:
            self._release_lock(lock)
        n = int(cur.get("stats", {}).get("n_rows", -1))
        return CommitResult(
            int(cur["snapshot_id"]),
            os.path.join(self.path, _MANIFESTS, head),
            [],
            0,
            0,
            n,
            cur.get("properties", {}),
        )

    def create(
        self,
        schema: T.StructType,
        properties: dict[str, Any] | None = None,
        row_lineage: bool = False,
    ):
        """``row_lineage=True`` adds the ``_row_id`` column (Iceberg v3
        row-lineage analog): every live row carries the sequence number
        of the event that FIRST created it, stable across updates and
        reset only by delete-then-reinsert. Assigned by ``merge_upsert``
        (window strategy, CoW) — batches must never supply it."""
        if self.exists():
            raise ValueError(f"table {self.path} already exists")
        props = dict(properties or {})
        extra = []
        if row_lineage:
            if ROW_ID_COL in schema.names:
                raise ValueError(
                    f"{ROW_ID_COL} is assigned by the engine; remove it "
                    "from the user schema"
                )
            extra.append(T.StructField(ROW_ID_COL, T.LongType()))
            props["row_lineage"] = "true"
        if BUCKET_COL not in schema.names:
            extra.append(T.StructField(BUCKET_COL, T.IntegerType()))
        if DELETED_COL not in schema.names:
            extra.append(T.StructField(DELETED_COL, T.BooleanType()))
        if extra:
            schema = T.StructType(list(schema.fields) + extra)
        os.makedirs(self.path, exist_ok=True)
        self._commit({}, schema, props, parent=-1, stats={"n_rows": 0})
        return self

    def _write_buckets(
        self, df: DataFrame, snapshot_hint: int,
        sort_by: list[str] | None = None,
    ) -> tuple[dict[int, list[str]], dict[int, int]]:
        """Write df (already carrying BUCKET_COL) as one file per bucket.
        Returns the new files and the rows written, both by bucket —
        the counts :meth:`_commit_files` records as ``bucket_rows``.

        A DIRECT write, the Iceberg-writer shape: the explicit
        repartition on BUCKET_COL puts a bucket wholly in one task,
        which streams its Arrow batches inside ``mapInArrow`` into
        per-bucket pyarrow ParquetWriters at their FINAL paths (unique
        uuid names) and returns (bucket, path, n_rows) rows; there is
        no ``_temporary`` staging, no task/job commit renames, no
        output-dir listing. Visibility is controlled by the manifest
        commit alone — a crashed or speculatively-retried task leaves
        an orphan file that no manifest references (GC'd by
        maintenance), exactly Iceberg's contract. Measured: the Hadoop
        committer costs ~2s per 64-dir partitioned write regardless of
        data volume — pure serial driver/rename overhead that sits on
        every batch's Amdahl floor; the direct write cuts it to ~1s.
        """
        out_dir = os.path.join(
            self.path, _DATA, f"s{snapshot_hint:08d}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(out_dir, exist_ok=True)

        def _write(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            writers: dict[int, Any] = {}
            paths: dict[int, str] = {}
            n_rows_by_bucket: dict[int, int] = {}
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                for b in pc.unique(tbl[BUCKET_COL]).to_pylist():
                    sub = tbl.filter(pc.equal(tbl[BUCKET_COL], b))
                    if b not in writers:
                        p = os.path.join(
                            out_dir, f"b{b:05d}-{uuid.uuid4().hex[:8]}.parquet"
                        )
                        paths[b] = p
                        writers[b] = pq.ParquetWriter(
                            p, tbl.schema, compression="snappy"
                        )
                    writers[b].write_table(sub)
                    n_rows_by_bucket[b] = (
                        n_rows_by_bucket.get(b, 0) + sub.num_rows
                    )
            for w in writers.values():
                w.close()
            out_schema = pa.schema(
                [("bucket", pa.int32()), ("path", pa.string()),
                 ("n_rows", pa.int64())]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sorted(paths), type=pa.int32()),
                    pa.array(
                        [paths[b] for b in sorted(paths)], type=pa.string()
                    ),
                    pa.array(
                        [n_rows_by_bucket[b] for b in sorted(paths)],
                        type=pa.int64(),
                    ),
                ],
                schema=out_schema,
            )

        part = df.repartition(F.col(BUCKET_COL))
        if sort_by:
            # within-bucket sort order (Iceberg sort-order analog): the
            # writer streams batches in task order, so sorting the task
            # by (bucket, *sort_by) yields files whose row groups carry
            # tight min/max zone maps on the sort columns — parquet
            # row-group pruning then works for point/range predicates
            # on those columns, on top of the bucket-level manifest
            # pruning.
            part = part.sortWithinPartitions(BUCKET_COL, *sort_by)
        rows = (
            part.mapInArrow(_write, "bucket int, path string, n_rows long")
            .collect()
        )
        buckets: dict[int, list[str]] = {}
        counts: dict[int, int] = {}
        for r in rows:
            b = int(r["bucket"])
            buckets.setdefault(b, []).append(r["path"])
            counts[b] = counts.get(b, 0) + int(r["n_rows"])
        return {b: sorted(fs) for b, fs in buckets.items()}, counts

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None):
        """Full rewrite (CTAS analog: create_tables.py:224); also
        creates the table when none exists at the path yet."""
        m = self.current_manifest() or {"snapshot_id": -1, "_name": None}
        if BUCKET_COL not in df.columns:
            df = df.withColumn(BUCKET_COL, bucket_expr(self.key_col, self.n_buckets))
        if DELETED_COL not in df.columns:
            df = df.withColumn(DELETED_COL, F.lit(False))
        os.makedirs(self.path, exist_ok=True)
        buckets, rows = self._write_buckets(df, m["snapshot_id"] + 1)
        # the parent contributes its properties and evolution log only:
        # every bucket, the read mode and the sort order are replaced,
        # and equality deletes go — they name files no longer read
        res = self._commit_files(
            {
                "snapshot_id": m["snapshot_id"],
                "_name": m["_name"],
                "buckets": {},
                "bucket_rows": {},
                "properties": m.get("properties", {}),
                **{k: m[k] for k in _EVO_KEYS if k in m},
            },
            buckets, rows, sorted(buckets),
            schema=df.schema, properties=properties,
            stats_key="n_rows", read_mode="plain",
            schema_evolution={"delete_files": []} if m.get("delete_files") else None,
        )
        return dataclasses.replace(res, n_upserts=res.n_rows_after)

    # ----------------------------------------------------------------- merge
    def _lineage_cols(self, wide, order_cols, op_col, delete_op):
        """Row-lineage window aggregates over the merge union (Iceberg
        v3 ``_row_id`` analog). Runs AFTER the explicit repartition on
        the key, so every Window below reuses that hash partitioning —
        Spark collapses the chained unordered aggregates into Window
        nodes over the existing exchange, no extra shuffle.

        Semantics (sequential-apply equivalence): per key, the APPLIED
        events are the stored row plus batch events strictly newer than
        the stored mark (stale events are skipped, exactly what a
        sequential replay would do). The birth event is the first
        applied live event after the last applied delete; the winner
        keeps the stored ``_row_id`` when no applied delete intervened,
        takes the birth event's sequence otherwise. Batch boundaries
        are therefore semantically faithful: a late stale insert never
        rewrites an existing row's id, matching Iceberg's commit-time
        id assignment."""
        from pyspark.sql import Window

        kw = Window.partitionBy(self.key_col)
        mark = F.struct(*[F.col(c) for c in order_cols])
        is_del = F.col(op_col) == F.lit(delete_op)
        from_target = F.col("_li_src") == F.lit("t")
        wide = wide.withColumn("_li_mark", mark)
        wide = wide.withColumn(
            "_li_stored_mark",
            F.max(F.when(from_target, F.col("_li_mark"))).over(kw),
        )
        wide = wide.withColumn(
            "_li_applied",
            from_target
            | F.col("_li_stored_mark").isNull()
            | (F.col("_li_mark") > F.col("_li_stored_mark")),
        )
        wide = wide.withColumn(
            "_li_last_del",
            F.max(
                F.when(F.col("_li_applied") & is_del, F.col("_li_mark"))
            ).over(kw),
        )
        wide = wide.withColumn(
            "_li_birth",
            F.min(
                F.when(
                    F.col("_li_applied")
                    & ~is_del
                    & (
                        F.col("_li_last_del").isNull()
                        | (F.col("_li_mark") > F.col("_li_last_del"))
                    ),
                    F.col("_li_mark"),
                )
            ).over(kw),
        )
        return wide.withColumn(
            "_li_stored_id",
            F.max(F.when(from_target, F.col(ROW_ID_COL))).over(kw),
        )

    _LI_HELPER_COLS = (
        "_li_src", "_li_mark", "_li_stored_mark", "_li_applied",
        "_li_last_del", "_li_birth", "_li_stored_id",
    )

    def _assign_row_ids(self, merged, order_cols, op_col, delete_op):
        """Stamp the LWW winner's ``_row_id`` from the lineage
        aggregates: tombstones carry NULL; a surviving stored row with
        no applied delete keeps its id; everything else is (re)born at
        the first applied live event after the last applied delete —
        its id is that event's final order column (the change-log
        sequence, unique by contract)."""
        seq_col = order_cols[-1]
        return merged.withColumn(
            ROW_ID_COL,
            F.when(
                F.col(op_col) == F.lit(delete_op), F.lit(None).cast("long")
            )
            .when(
                F.col("_li_last_del").isNull()
                & F.col("_li_stored_id").isNotNull(),
                F.col("_li_stored_id"),
            )
            .otherwise(F.col("_li_birth").getField(seq_col).cast("long")),
        ).drop(*self._LI_HELPER_COLS)

    def merge_upsert(
        self,
        batch: DataFrame,
        order_cols: tuple[str, ...] = ("warc_ts", "seq"),
        op_col: str = "op",
        delete_op: str = "delete",
        properties: dict[str, Any] | None = None,
        post_merge_transform=None,
        batch_stats: dict[str, Any] | None = None,
        merge_mode: str = "cow",
        *,
        parent: dict[str, Any] | None = None,
    ) -> CommitResult:
        """MERGE the batch into the table with LWW semantics.

        Equivalent Iceberg SQL::

            MERGE INTO target t USING (dedup batch) s ON t.url = s.url
            WHEN MATCHED AND s.op = 'delete' THEN DELETE
            WHEN MATCHED AND s is newer      THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT *

        Physical plan (measured fastest of the candidate shapes — see
        BENCH.md):

        1. source = the batch (MoR) or {batch ∪ touched-target-buckets}
           (CoW) — target rows carry their stored version, tombstones
           included, so LWW across batches is correct and a *stale*
           replayed batch is a no-op (idempotent re-apply =
           exactly-once under retry);
        2. ``lww_dedup`` top-1 per key. The window strategy adds NO
           explicit repartition: the Window's required distribution
           inserts the one hash exchange, and Spark plants a PARTIAL
           WindowGroupLimit below it, so duplicate versions are dropped
           map-side (tests/test_plans.py guards this shape). Row
           lineage keeps one explicit ``repartition(P, key)`` that its
           window aggregates share;
        3. ``post_merge_transform`` (e.g. ``text = coalesce(text,
           extract(html))``) runs inline on FINAL winners only — a batch
           row that loses to the stored state is never extracted;
        4. bucket-partitioned write of only the touched buckets
           (manifest pruning = Iceberg partition-level copy-on-write),
           then the shared commit tail :meth:`_commit_files`.

        ``merge_mode``: "cow" (above — touched buckets rewritten, reads
        stay plain scans) or "mor" (merge-on-read — batch winners are
        APPENDED as delta files per bucket, nothing is rewritten, and
        reads LWW-resolve versions bucket-locally until ``compact()``
        folds them; the scale path when uniform update keys would make
        CoW rewrite the whole table every batch — see SCALE.md).

        ``parent``: the manifest to plan and CAS against; default the
        current head. A caller that fenced its batch on a manifest it
        read passes that manifest, so a commit that lands after the
        fence fails the CAS with :class:`CommitConflictError` instead
        of committing the batch twice.
        """
        m = self.current_manifest() if parent is None else parent
        if m is None:
            raise ValueError(f"table {self.path} does not exist; create() it first")

        lineage = m.get("properties", {}).get("row_lineage") == "true"
        if lineage:
            if merge_mode == "mor":
                raise ValueError(
                    "row_lineage requires CoW merges: MoR appends batch "
                    "winners without reading the stored row, so the "
                    "stored _row_id is unknowable at write time"
                )
            if ROW_ID_COL in batch.columns:
                raise ValueError(
                    f"{ROW_ID_COL} is engine-assigned; drop it from the batch"
                )

        batch = batch.withColumn(
            BUCKET_COL, bucket_expr(self.key_col, self.n_buckets)
        )
        # --- additive schema evolution (from the batch's own columns) ---
        target_schema = T.StructType.fromJson(m["schema"])
        new_fields = [
            f
            for f in batch.schema.fields
            if f.name not in target_schema.names and f.name != op_col
        ]
        # historical rename SOURCES are poisonous: surviving
        # pre-rename files still store their bytes under the old
        # name, so re-introducing it makes _schema_at_write map two
        # current columns onto one stored name and every read of the
        # snapshot fails with COLUMN_ALREADY_EXISTS (without field IDs,
        # name reuse is unambiguous only if we forbid it).
        renamed_from = {r["from"] for r in m.get("renames", [])}
        for f in new_fields:
            if f.name in renamed_from:
                raise ValueError(
                    f"column {f.name!r} is a historical rename source "
                    "on this table; re-adding it would collide with "
                    "pre-rename files' stored bytes — use a new "
                    "column name"
                )
        base_cols = [f.name for f in target_schema.fields if f.name != DELETED_COL]
        data_cols = base_cols + [f.name for f in new_fields]
        for f in target_schema.fields:
            if f.name not in batch.columns and f.name != DELETED_COL:
                batch = batch.withColumn(f.name, F.lit(None).cast(f.dataType))

        # --- touched buckets + applied-event counts: one pruned-column
        # aggregate (bucket, op only — no payload, no UDF), or the
        # caller's precomputed stats (the pipeline folds this into its
        # lineage job so a batch costs exactly two Spark jobs)
        if batch_stats is None:
            stat_rows = (
                batch.groupBy(BUCKET_COL)
                .agg(
                    F.sum((F.col(op_col) != F.lit(delete_op)).cast("long")).alias("u"),
                    F.sum((F.col(op_col) == F.lit(delete_op)).cast("long")).alias("d"),
                )
                .collect()
            )
            batch_stats = {
                "touched": [r[BUCKET_COL] for r in stat_rows],
                "n_upserts": sum(int(r["u"] or 0) for r in stat_rows),
                "n_deletes": sum(int(r["d"] or 0) for r in stat_rows),
            }
        touched = sorted(int(b) for b in batch_stats["touched"])

        mor = merge_mode == "mor"
        source = batch.select(*data_cols, op_col)
        if not mor:
            # Tombstones MUST take part in the merge: a late out-of-order
            # older update loses LWW against a stored delete and stays
            # dead. On a merge-on-read table the target is read
            # UNRESOLVED (resolve=False): the merge's own LWW over
            # {target ∪ batch} subsumes the read-time resolve — one
            # window, not two — and still folds the touched buckets'
            # deltas into the rewrite. MoR skips the target entirely:
            # batch winners are appended and reads resolve versions.
            pruned_target = self.read(
                buckets=touched, snapshot=m, include_deleted=True, resolve=False
            )
            for f in new_fields:
                pruned_target = pruned_target.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
            pruned_target = pruned_target.withColumn(
                op_col,
                F.when(
                    F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit(delete_op)
                ).otherwise(F.lit("existing")),
            ).select(*data_cols, op_col)
            if lineage:
                # source marker: the lineage aggregates must tell the
                # stored row (and its mark/_row_id) apart from batch events
                pruned_target = pruned_target.withColumn("_li_src", F.lit("t"))
                source = source.withColumn("_li_src", F.lit("b"))
            source = pruned_target.unionByName(source)

        if lineage:
            # lineage aggregates share the key partitioning across
            # several window specs — keep the one explicit exchange
            par = self.spark.sparkContext.defaultParallelism * 2
            source = self._lineage_cols(
                source.repartition(par, F.col(self.key_col)),
                list(order_cols), op_col, delete_op,
            )
        # NO explicit repartition (docstring step 2) — one would
        # satisfy the Window's distribution early and suppress the
        # map-side PARTIAL WindowGroupLimit (guide §2.3 "aggregate
        # before you shuffle"; measured 2.76→2.24 s on the 2M-event
        # dedup at local[32]). AQE's parallelismFirst keeps the
        # post-shuffle Arrow stage at defaultParallelism width.
        merged = lww_dedup(
            source,
            key_cols=(self.key_col,),
            order_cols=list(order_cols),
            strategy="window",
        )
        if lineage:
            merged = self._assign_row_ids(merged, list(order_cols), op_col, delete_op)

        survivors = merged.withColumn(
            DELETED_COL, F.col(op_col) == F.lit(delete_op)
        ).drop(op_col)
        if post_merge_transform is not None:
            survivors = post_merge_transform(survivors)
            for f in survivors.schema.fields:
                if f.name not in data_cols and f.name != DELETED_COL:
                    data_cols.append(f.name)

        # evolved schema = target order, then any new columns
        evolved = T.StructType(
            [f for f in target_schema.fields if f.name != DELETED_COL]
            + [f for f in survivors.schema.fields
               if f.name not in target_schema.names and f.name != DELETED_COL]
            + [T.StructField(DELETED_COL, T.BooleanType())]
        )
        with _stage("merge.write"):
            new_files, new_rows = (
                self._write_buckets(
                    survivors.select(*data_cols, DELETED_COL),
                    m["snapshot_id"] + 1,
                )
                if touched
                else ({}, {})
            )
        # the CoW/MoR differences are data: MoR APPENDS its deltas,
        # counts raw (multi-version) rows and switches reads to the LWW
        # resolve under its order columns; CoW REPLACES the touched
        # buckets and keeps the parent's read mode — sticky, because a
        # CoW batch on a MoR table resolves only the touched buckets,
        # the rest may still be multi-version
        return self._commit_files(
            m, new_files, new_rows, touched,
            append=mor,
            schema=evolved,
            properties=properties,
            stats_key="n_rows_raw" if mor else "n_rows",
            read_mode="lww" if mor else None,
            order_cols=list(order_cols) if mor else None,
            batch_stats=batch_stats,
        )

    def _commit_files(
        self,
        m: dict[str, Any],
        new_files: dict[int, list[str]],
        new_rows: dict[int, int],
        touched: list[int],
        *,
        append: bool = False,
        schema: T.StructType | None = None,
        properties: dict[str, Any] | None = None,
        stats_key: str | None = None,
        read_mode: str | None = None,
        order_cols: list[str] | None = None,
        batch_stats: dict[str, Any] | None = None,
        schema_evolution: dict[str, Any] | None = None,
    ) -> CommitResult:
        """The one commit tail for every data and metadata commit after
        ``create``: fold ``new_files`` and their per-bucket row counts
        ``new_rows`` (as :meth:`_write_buckets` returns them) into the
        parent manifest ``m``'s ``buckets`` and ``bucket_rows``, lay
        ``properties`` over the parent's and CAS-commit. No footer is read: the row count
        is the sum of the bucket totals (Iceberg manifest record-count
        analog).

        ``append=False`` (copy-on-write): the new files REPLACE the
        file lists and totals of the ``touched`` buckets, and a touched
        bucket left without files is dropped. ``append=True``
        (merge-on-read): the new files and rows are added to their
        buckets, nothing is replaced. Untouched buckets keep the
        parent's totals. A full rewrite passes ``m`` with an empty
        bucket map.

        The row count is recorded under ``stats_key`` (default
        ``n_rows``). A commit that adds and replaces no files and names
        no ``stats_key`` (schema evolution, equality deletes) keeps the
        parent's stats: its files are the parent's.

        ``schema``, ``read_mode`` and ``order_cols`` default to the
        parent's. The evolution log (:data:`_EVO_KEYS`) is copied
        forward from ``m``, each key overridden by ``schema_evolution``
        — so rename/widen/add history survives merges, compactions and
        DML without each caller threading it through."""
        buckets = {int(b): list(f) for b, f in m["buckets"].items()}
        rows = _bucket_rows(m)
        if append:
            for b, fs in new_files.items():
                buckets[b] = buckets.get(b, []) + fs
                rows[b] = rows.get(b, 0) + new_rows[b]
        else:
            for b in touched:
                buckets[b] = new_files.get(b, [])
                rows[b] = new_rows.get(b, 0)
            buckets = {b: f for b, f in buckets.items() if f}
        rows = {b: rows[b] for b in buckets}
        if stats_key is None and not new_files and not touched:
            stats = dict(m.get("stats", {}))
            n_after = int(stats.get("n_rows", -1))
        else:
            n_after = sum(rows.values())
            stats = {stats_key or "n_rows": n_after}
        props = dict(m.get("properties", {}))
        props.update(properties or {})
        n_up = n_del = 0
        if batch_stats is not None:
            n_up = int(batch_stats["n_upserts"])
            n_del = int(batch_stats["n_deletes"])
        evo = {k: m[k] for k in _EVO_KEYS if m.get(k)}
        evo.update(schema_evolution or {})
        with _stage("merge.commit"):
            sid, mp = self._commit(
                buckets,
                schema or T.StructType.fromJson(m["schema"]),
                props,
                m["snapshot_id"],
                stats,
                read_mode=read_mode or m.get("read_mode", "plain"),
                order_cols=order_cols or m.get("order_cols"),
                parent_name=m["_name"],
                schema_evolution=evo,
                bucket_rows=rows,
            )
        return CommitResult(sid, mp, list(touched), n_up, n_del, n_after, props)

    def compact(
        self,
        max_files_per_bucket: int = 1,
        sort_by: list[str] | None = None,
    ) -> CommitResult | None:
        """Merge small files: rewrite every bucket holding more than
        ``max_files_per_bucket`` files into one file each (Iceberg
        rewrite_data_files analog). Buckets already compact keep their
        existing files untouched — a metadata-only no-op for them.

        ``sort_by``: within-bucket sort order for the rewritten files
        (Iceberg sort-order analog). Sorted files carry tight per-row-
        group min/max stats on the sort columns, so parquet row-group
        pruning serves point/range reads on them — the layout lever
        between bucket-level manifest pruning (coarse) and a full scan.
        ``sort_by=["url"]`` makes per-key lookups skip all but one row
        group per touched file at 10^10 rows."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        fat = [
            int(b)
            for b, files in m["buckets"].items()
            if len(files) > max_files_per_bucket
        ]
        dels = m.get("delete_files", [])
        if dels:
            # fold equality deletes: any bucket still holding a file
            # older than the newest delete commit gets rewritten (the
            # read below applies the anti-join), then the delete files
            # are dropped from the manifest — reads go join-free again
            max_del = max(int(d["sid"]) for d in dels)
            fat = sorted(
                set(fat)
                | {
                    int(b)
                    for b, files in m["buckets"].items()
                    if any(self._file_write_sid(f) < max_del for f in files)
                }
            )
        if not fat:
            if max_files_per_bucket == 1 and m.get("read_mode") == "lww":
                # every bucket already holds one file, so each key has
                # exactly one stored version (a delta file is one
                # batch's deduped winners) — a plain scan is already
                # LWW-equivalent. Flip the read mode in a METADATA-ONLY
                # commit so downstream snapshot-mode-gated paths
                # (column-stats pruning, range_scan) work without a
                # rewrite. The raw multi-version count (the bucket
                # totals) becomes the plain n_rows.
                return self._commit_files(
                    m, {}, {}, [], read_mode="plain", stats_key="n_rows"
                )
            return None
        df = self.read(buckets=fat, snapshot=m, include_deleted=True)
        new_files, new_rows = self._write_buckets(
            df, m["snapshot_id"] + 1, sort_by=sort_by
        )
        # MoR resolution: read() LWW-resolved the fat buckets before the
        # rewrite; single-file buckets hold one version per key by
        # construction (each delta file is one batch's deduped winners),
        # so full compaction returns the table to plain-scan reads.
        return self._commit_files(
            m, new_files, new_rows, fat,
            read_mode="plain" if max_files_per_bucket == 1 else None,
            schema_evolution={"delete_files": []} if dels else None,
        )

    def delete_where(self, predicate, mode: str = "cow") -> CommitResult | None:
        """Row-level DELETE (Iceberg DELETE analog): drop live rows
        matching ``predicate``. Administrative physical removal — unlike
        a merge tombstone it leaves no marker, so a later stale event
        CAN re-insert the key; use merge tombstones for CDC-ordered
        deletion. Returns None when nothing matches.

        ``mode="cow"`` (default): rewrite ONLY the buckets that hold
        matches (one pruned scan finds them; every other bucket is
        metadata-untouched).

        ``mode="delta"``: Iceberg v2 EQUALITY-DELETE shape — NO data
        file is rewritten; the matching keys are written as small
        per-commit delete files and every read anti-joins rows from
        OLDER files (file write-sid < delete-sid) against them, so rows
        (re)written after the delete survive. The write-side cost moves
        to a small parquet append; the read-side cost is one
        broadcastable anti-join until :meth:`compact` folds the delete
        files away. The scale trade is exactly Iceberg's: delta deletes
        for frequent fine-grained deletes on huge tables, CoW when reads
        dominate."""
        if mode == "delta":
            return self._delete_where_delta(predicate)
        if mode != "cow":
            raise ValueError(f"unknown delete mode {mode!r}")
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        touched = sorted(
            r[BUCKET_COL]
            for r in self.read(snapshot=m)
            .filter(predicate)
            .select(BUCKET_COL)
            .distinct()
            .collect()
        )
        if not touched:
            return None
        # remove only LIVE matching rows: tombstones are kept even when
        # their payload matches the predicate — they are LWW delete
        # markers, and physically dropping them would let a late stale
        # event resurrect the key (and would be inconsistent anyway,
        # since buckets with only matching tombstones aren't touched).
        live_match = F.coalesce(predicate, F.lit(False)) & ~F.coalesce(
            F.col(DELETED_COL), F.lit(False)
        )
        keep = self.read(
            buckets=touched, snapshot=m, include_deleted=True
        ).filter(~live_match)
        return self._rewrite_buckets(m, touched, keep)

    def _delete_where_delta(self, predicate) -> CommitResult | None:
        """Equality-delete implementation: one pruned scan collects the
        matching LIVE keys (with their bucket, kept in the file so
        pruned reads push the bucket filter into the delete-file scan),
        written as parquet under the next snapshot's epoch dir and
        registered flat in the manifest as
        ``delete_files: [{path, sid}]``. Tombstones are never
        eq-deleted (same contract as the CoW path — they are LWW
        markers); the read-side anti-join carries the same exemption."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        dels, n_keys = self._write_eq_deletes(
            m, self.read(snapshot=m).filter(predicate)
        )
        if n_keys == 0:
            return None
        return self._commit_files(
            m, {}, {}, [],
            batch_stats={"n_upserts": 0, "n_deletes": n_keys},
            schema_evolution={"delete_files": dels},
        )

    def _write_eq_deletes(
        self, m: dict[str, Any], rows: DataFrame
    ) -> tuple[list[dict[str, Any]], int]:
        """Write the distinct (key, bucket) pairs of ``rows`` as
        equality-delete files under the next snapshot's epoch dir.
        Returns the manifest's ``delete_files`` with them appended, and
        the number of keys written (0: nothing is kept on disk)."""
        sid_next = m["snapshot_id"] + 1
        out_dir = os.path.join(
            self.path, _DATA, f"s{sid_next:08d}-eqdel-{uuid.uuid4().hex[:8]}"
        )
        rows.select(self.key_col, BUCKET_COL).distinct().write.parquet(out_dir)
        paths = sorted(
            os.path.join(out_dir, fn)
            for fn in os.listdir(out_dir)
            if fn.endswith(".parquet")
        )
        n_keys = _parquet_rows(paths)
        if n_keys == 0:
            shutil.rmtree(out_dir, ignore_errors=True)
        dels = list(m.get("delete_files", [])) + [
            {"path": p, "sid": sid_next} for p in paths
        ]
        return dels, n_keys

    def update_where(
        self, predicate, assignments: dict, mode: str = "cow"
    ) -> CommitResult | None:
        """Row-level UPDATE: apply ``assignments`` (col -> Column
        expression) to live rows matching ``predicate``. Returns None
        when nothing matches.

        ``mode="cow"`` (default): rewrite only the buckets holding
        matches.

        ``mode="delta"``: Iceberg v2 MoR UPDATE shape — the updated
        rows are APPENDED as new files and the old copies are masked by
        an equality-delete file committed in the same snapshot (new
        files carry the delete's own sid, so they survive the strict
        ``fsid < del_sid`` anti-join). Nothing is rewritten; reads stay
        exactly-one-version-per-key because the anti-join removes every
        older copy; :meth:`compact` folds both the deltas and the
        delete files."""
        if mode == "delta":
            return self._update_where_delta(predicate, assignments)
        if mode != "cow":
            raise ValueError(f"unknown update mode {mode!r}")
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        if self.key_col in assignments:
            raise ValueError(
                f"cannot update the bucketing key {self.key_col!r} in "
                "place; delete + re-insert instead"
            )
        touched = sorted(
            r[BUCKET_COL]
            for r in self.read(snapshot=m)
            .filter(predicate)
            .select(BUCKET_COL)
            .distinct()
            .collect()
        )
        if not touched:
            return None
        df = self.read(buckets=touched, snapshot=m, include_deleted=True)
        hit = F.coalesce(predicate, F.lit(False)) & ~F.coalesce(
            F.col(DELETED_COL), F.lit(False)
        )
        for name, expr in assignments.items():
            df = df.withColumn(name, F.when(hit, expr).otherwise(F.col(name)))
        return self._rewrite_buckets(m, touched, df)

    def _update_where_delta(self, predicate, assignments: dict):
        """Delta UPDATE: one pruned scan finds the matching live rows;
        the transformed copies are appended as per-bucket files at the
        NEXT snapshot id and the matched keys land in an equality-delete
        file at the same id — one atomic commit, zero rewrites. The
        delete file is derived by reading the two key columns back from
        the just-written delta files (footer-pruned, no second
        full scan)."""
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        if self.key_col in assignments:
            raise ValueError(
                f"cannot update the bucketing key {self.key_col!r} in "
                "place; delete + re-insert instead"
            )
        sid_next = m["snapshot_id"] + 1
        matched = self.read(snapshot=m).filter(predicate)
        upd = matched.withColumn(DELETED_COL, F.lit(False))
        for name, expr in assignments.items():
            upd = upd.withColumn(name, expr)
        target_schema = T.StructType.fromJson(m["schema"])
        out_cols = [
            f.name for f in target_schema.fields if f.name != BUCKET_COL
        ]
        new_files, new_rows = self._write_buckets(
            upd.select(*out_cols, BUCKET_COL), sid_next
        )
        if not new_files:
            return None
        flat_new = [f for fs in new_files.values() for f in fs]
        dels, _ = self._write_eq_deletes(m, self.spark.read.parquet(*flat_new))
        res = self._commit_files(
            m, new_files, new_rows, sorted(new_files), append=True,
            schema_evolution={"delete_files": dels},
        )
        # the update changes no key's liveness: report the parent's
        # live-row count, not the raw (pre-anti-join) bucket totals
        return dataclasses.replace(
            res, n_upserts=sum(new_rows.values()),
            n_rows_after=int(m.get("stats", {}).get("n_rows", -1)),
        )

    def merge_into(
        self,
        source: DataFrame,
        when_matched_update: dict | None = None,
        when_matched_delete=None,
        when_not_matched_insert: bool = True,
        validate_source_unique: bool = True,
    ) -> CommitResult | None:
        """General MERGE INTO (Iceberg/Delta MERGE analog), keyed by the
        table's bucketing key:

        - ``when_matched_update``: {target col -> Column} applied to
          LIVE rows whose key appears in ``source``; expressions may
          reference both sides via the ``t``/``s`` aliases
          (``F.col("t.text")``, ``F.col("s.text")``).
        - ``when_matched_delete``: Column predicate (or ``True``) —
          matching live rows are physically removed. Evaluated BEFORE
          the update clause (Delta clause-order semantics).
        - ``when_not_matched_insert``: insert source rows whose key has
          no live target row, taking target columns from source by
          name (missing columns → NULL). A stored LWW tombstone for
          the key is REPLACED by the insert — like all row-level DML
          here this is an administrative edit that bypasses CDC
          ordering; late stale events are fenced only by merge
          tombstones, not by rows this writes.

        Scale shape: source keys are bucketed with the table's own
        ``bucket_expr``, so the rewrite touches ONLY buckets holding
        source keys (pruned read; untouched buckets keep their exact
        files); the match is one co-bucketed full-outer equi-join. The
        only driver-side data is the touched-bucket list.

        Returns None when the source is empty.
        """
        m = self.current_manifest()
        if m is None:
            raise ValueError(f"table {self.path} does not exist")
        key = self.key_col
        nb = int(m.get("n_buckets", self.n_buckets))
        if validate_source_unique:
            dup = (
                source.groupBy(key)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"merge_into source has multiple rows for key "
                    f"{dup[0][key]!r}; MERGE requires at most one "
                    "source row per key"
                )
        src = source.withColumn(BUCKET_COL, bucket_expr(key, nb))
        touched = sorted(
            r[BUCKET_COL] for r in src.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return None
        target_schema = T.StructType.fromJson(m["schema"])
        data_cols = [
            f.name
            for f in target_schema.fields
            if f.name not in (BUCKET_COL,)
        ]
        src_cols = set(src.columns)
        tgt = self.read(buckets=touched, snapshot=m, include_deleted=True)
        j = tgt.alias("t").join(
            src.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
        )
        stored = F.col(f"t.{key}").isNotNull()
        live = stored & ~F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))
        has_src = F.col(f"s.{key}").isNotNull()
        if when_matched_delete is True:
            del_cond = F.lit(True)
        elif when_matched_delete is None:
            del_cond = F.lit(False)
        else:
            del_cond = when_matched_delete
        delete_mask = live & has_src & F.coalesce(del_cond, F.lit(False))
        update_mask = (
            (live & has_src & ~delete_mask)
            if when_matched_update
            else F.lit(False)
        )
        insert_mask = (
            (has_src & ~live) if when_not_matched_insert else F.lit(False)
        )
        upd = when_matched_update or {}
        out = []
        for f in target_schema.fields:
            if f.name == DELETED_COL:
                v = F.when(insert_mask, F.lit(False)).otherwise(
                    F.col(f"t.{DELETED_COL}")
                )
            elif f.name == BUCKET_COL:
                continue
            else:
                ins_v = (
                    F.col(f"s.{f.name}")
                    if f.name in src_cols
                    else F.lit(None).cast(f.dataType)
                )
                v = F.when(insert_mask, ins_v)
                if f.name in upd:
                    v = v.when(update_mask, upd[f.name])
                v = v.otherwise(F.col(f"t.{f.name}"))
            out.append(v.alias(f.name))
        out.append(
            F.coalesce(
                F.col(f"t.{BUCKET_COL}"), F.col(f"s.{BUCKET_COL}")
            ).alias(BUCKET_COL)
        )
        result = j.filter(~delete_mask & (stored | insert_mask)).select(*out)
        return self._rewrite_buckets(m, touched, result)

    def _rewrite_buckets(self, m, touched, df) -> CommitResult:
        """CoW-rewrite ``touched`` buckets with ``df``'s rows (which
        must already carry BUCKET_COL and DELETED_COL), commit via CAS."""
        out_cols = [
            f.name for f in T.StructType.fromJson(m["schema"]).fields
            if f.name != BUCKET_COL
        ]
        new_files, new_rows = self._write_buckets(
            df.select(*out_cols, BUCKET_COL), m["snapshot_id"] + 1
        )
        return self._commit_files(m, new_files, new_rows, touched)

    def vacuum_tombstones(self, watermark_ts, ts_col: str = "warc_ts") -> CommitResult:
        """GC tombstones older than a watermark.

        At 10^10-event scale tombstones accumulate; once the source
        guarantees no event older than ``watermark_ts`` can still
        arrive (the stream's allowed out-of-orderness), tombstones
        below it can never win an LWW comparison again and are dropped
        with a full rewrite (run it rarely, like Iceberg maintenance).
        """
        m = self.current_manifest()
        df = self.read(snapshot=m, include_deleted=True)
        kept = df.filter(
            (~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            | (F.col(ts_col) >= F.lit(watermark_ts))
        )
        return self.overwrite(kept)

    def vacuum_orphans(self, keep_snapshots: int | None = None) -> dict[str, int]:
        """Sweep manifests and data files no root reaches (Iceberg
        ``remove_orphan_files`` plus ``expire_snapshots``) — the only
        sweeper: commits never delete anything.

        A torn commit (crash between manifest write and pointer swap), a
        dropped branch, or a crashed/conflicted/speculatively-retried
        write leaves orphans: invisible (the pointer never reaches them)
        but consuming storage. Under the commit lock — so no commit is
        in flight — this unlinks every file in ``_manifests`` that the
        MAIN pointer and branch heads do not reach, then diffs the data
        dirs against the union of those manifests' file lists and
        unlinks the rest.

        ``keep_snapshots``: additionally EXPIRE old snapshots first,
        keeping only the newest N ≥ 1 manifests (time travel shrinks to
        those); manifests and files referenced only by expired snapshots
        become orphans and are swept in the same pass. Runs driver-side
        over manifest metadata — O(files) name-set math, no Spark job; at
        10^10 rows this is exactly Iceberg's maintenance shape
        (metadata-only planning, storage-API deletes).

        Single-writer maintenance op: run it like compaction, not
        concurrently with an ingest (a concurrent UNCOMMITTED write's
        data files would look orphaned)."""
        if self._branch is not None:
            raise ValueError("vacuum_orphans runs on the main table")
        if keep_snapshots is not None and keep_snapshots < 1:
            raise ValueError(
                f"keep_snapshots must be >= 1 (got {keep_snapshots}): "
                "the head snapshot is never expired"
            )
        lock = self._acquire_lock()
        try:
            chain = self.history()
            if keep_snapshots is not None and self._load_side(_BRANCHES, {}):
                raise ValueError(
                    "snapshot expiry with live branches would cut "
                    "manifests a branch still reaches — drop or "
                    "fast-forward branches first"
                )
            if keep_snapshots is not None and len(chain) > keep_snapshots:
                chain = chain[-keep_snapshots:]
                # re-link the oldest kept manifest as the new chain root
                # (atomically: a truncated manifest would break history()
                # and therefore every future commit)
                root = self._load_manifest(chain[0])
                root["parent_name"] = None
                root["parent_id"] = -1
                self._rewrite_manifest(root)
            manifests = list(self._walk_manifests())
            reachable = {m["_name"] for m in manifests}
            mdir = os.path.join(self.path, _MANIFESTS)
            for f in os.listdir(mdir):
                if f not in reachable:
                    try:
                        os.unlink(os.path.join(mdir, f))
                    except OSError:
                        pass
        finally:
            self._release_lock(lock)
        # branch chains' files are NOT orphans. Shallow clones
        # reference this table's files by absolute path: every live
        # clone's reachable manifests are GC
        # roots too (this is the contract Delta's VACUUM breaks — a
        # vacuumed source silently corrupts its shallow clones).
        # Dropped clones fall out of clones() and stop pinning anything.
        walks = [manifests] + [
            SnapshotTable(self.spark, c, key_col=self.key_col)._walk_manifests()
            for c in self.clones()
        ]
        referenced: set[str] = set()
        for m in itertools.chain.from_iterable(walks):
            for files in m["buckets"].values():
                referenced.update(os.path.realpath(f) for f in files)
            referenced.update(
                os.path.realpath(d["path"])
                for d in m.get("delete_files", [])
            )
        data_root = os.path.join(self.path, _DATA)
        removed = kept = 0
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                if os.path.realpath(full) in referenced:
                    kept += 1
                else:
                    try:
                        os.unlink(full)
                        removed += 1
                    except OSError:
                        pass
        # sweep now-empty snapshot dirs
        for dirpath, dirs, files in os.walk(data_root, topdown=False):
            if not dirs and not files and dirpath != data_root:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return {"removed": removed, "kept": kept, "snapshots": len(chain)}

    def purge_key(self, value) -> "PurgeResult":
        """GDPR right-to-be-forgotten: physically remove every row for
        ``key_col == value`` from EVERY reachable snapshot — committed
        history and branches alike — not just the head. Iceberg can
        only purge history by expiring snapshots; because this engine
        owns its manifests, it rewrites them in
        place instead, so snapshot ids, parent links, lineage, and time
        travel all survive with the key excised.

        Mechanics: the key's bucket is the same in every snapshot (a
        table's bucket count is fixed at ``create``), so candidates are
        O(#snapshots) files, never a table scan. Each candidate is
        rewritten by an executor task (pyarrow read → filter → write at
        a final path in the SAME ``s{sid}-`` epoch dir, preserving
        write-epoch schema resolution); files whose every row was the
        key are dropped. Under the commit lock the manifest chain is
        re-resolved (a commit that landed mid-rewrite and copied old
        file refs forward still gets remapped), every manifest's bucket
        lists are swapped old→new with ``bucket_rows`` and the row-count
        stat adjusted exactly, the head manifest logs an md5 audit entry
        (never the key itself), and only then are the old files
        unlinked. Keys re-inserted by commits
        AFTER the purge began are new data and are not covered — re-run
        to purge them.

        scale: one tiny Spark job computes the key's bucket (one row
        collected); the rewrite is one task per candidate file; the
        serial section under the lock is pure manifest JSON
        (metadata-sized).
        """
        if value is None:
            raise ValueError("cannot purge a null key")
        if self._branch is not None:
            raise ValueError(
                "purge_key runs on the main table (it already covers "
                "every branch chain)"
            )
        head = self.current_manifest()
        if head is None:
            raise ValueError(f"table {self.path} does not exist")
        # file-ownership guard: purging rewrites data files to NEW paths
        # and unlinks the old ones, which a shallow clone (either
        # direction) still references. GDPR must cover the clone anyway
        # — it is an independent table holding the key.
        live_clones = self.clones()
        if live_clones:
            raise ValueError(
                "purge_key with live shallow clones would unlink files "
                f"the clones still reference: {live_clones} — purge and "
                "materialize (or drop) each clone first"
            )
        # main chain + branch heads, with parent walks: branch-only
        # commits are NOT on the main chain but absolutely carry the
        # key — GDPR covers them
        manifests = list(self._walk_manifests())
        if self._foreign_files(manifests):
            raise ValueError(
                "this table is an un-materialized shallow clone — its "
                "purge would rewrite/unlink files owned by the source "
                "table; call materialize() first"
            )

        key_field = next(
            f for f in T.StructType.fromJson(head["schema"]).fields
            if f.name == self.key_col
        )
        one = self.spark.createDataFrame(
            [(value,)], T.StructType([key_field])
        )
        bucket = str(
            one.select(bucket_expr(self.key_col, self.n_buckets)).collect()[0][0]
        )
        candidates = sorted(
            {f for m in manifests for f in m["buckets"].get(bucket, [])}
        )
        rewrites: dict[str, tuple[str | None, int]] = {}
        if candidates:
            key_name = self.key_col  # key col is rename-protected

            def _rewrite(batches):
                import pyarrow as pa
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                out_schema = pa.schema(
                    [("old", pa.string()), ("new", pa.string()),
                     ("removed", pa.int64())]
                )
                for batch in batches:
                    out = []
                    for path in batch.column("path").to_pylist():
                        t = pq.read_table(path)
                        mask = pc.fill_null(
                            pc.not_equal(
                                t.column(key_name), pa.scalar(value)
                            ),
                            True,
                        )
                        kept = t.filter(mask)
                        removed = t.num_rows - kept.num_rows
                        if removed == 0:
                            new = path
                        elif kept.num_rows == 0:
                            new = None
                        else:
                            new = os.path.join(
                                os.path.dirname(path),
                                f"purge-{uuid.uuid4().hex[:8]}.parquet",
                            )
                            pq.write_table(kept, new)
                        out.append({"old": path, "new": new, "removed": removed})
                    yield pa.RecordBatch.from_pylist(out, schema=out_schema)

            res = (
                self.spark.createDataFrame(
                    [(p,) for p in candidates], "path string"
                )
                .repartition(min(len(candidates), 64))
                .mapInArrow(_rewrite, "old string, new string, removed long")
                .collect()
            )
            rewrites = {
                r["old"]: (r["new"], int(r["removed"])) for r in res
            }

        rows_removed = sum(rm for _n, rm in rewrites.values())
        changed = {o: n for o, (n, rm) in rewrites.items() if rm > 0}
        if not changed:
            return PurgeResult(0, 0, 0, 0)

        files_rewritten = sum(1 for n in changed.values() if n is not None)
        files_dropped = sum(1 for n in changed.values() if n is None)
        manifests_updated = 0
        lock = self._acquire_lock()
        try:
            head_name = self._read_ptr()
            for m in self._walk_manifests():
                # exact per-bucket adjustment: each old file THIS
                # manifest referenced gives up its removed rows
                rows = _bucket_rows(m)
                new_buckets: dict[str, list[str]] = {}
                touched = False
                for b, files in m["buckets"].items():
                    kept_files = []
                    for f in files:
                        if f in changed:
                            touched = True
                            rows[int(b)] -= rewrites[f][1]
                            if changed[f] is not None:
                                kept_files.append(changed[f])
                        else:
                            kept_files.append(f)
                    if kept_files:
                        new_buckets[b] = kept_files
                if not touched and m["_name"] != head_name:
                    continue
                m["buckets"] = new_buckets
                m["bucket_rows"] = {b: rows[int(b)] for b in new_buckets}
                # the manifest's own row-count stat: n_rows (CoW) or
                # n_rows_raw (MoR) — both are the sum of the totals
                stats = dict(m.get("stats", {}))
                for k in ("n_rows", "n_rows_raw"):
                    if k in stats:
                        stats[k] = sum(m["bucket_rows"].values())
                m["stats"] = stats
                if m["_name"] == head_name:
                    log = list(m.get("purges", []))
                    log.append(
                        hashlib.md5(str(value).encode()).hexdigest()
                    )
                    m["purges"] = log
                self._rewrite_manifest(m)
                manifests_updated += 1
            for old in changed:
                try:
                    os.unlink(old)
                except OSError:
                    pass
        finally:
            self._release_lock(lock)
        return PurgeResult(
            rows_removed, files_rewritten, files_dropped, manifests_updated
        )

    def drop(self):
        live = self.clones() if self.exists() else []
        if live:
            raise ValueError(
                "dropping this table would delete files its shallow "
                f"clones still reference: {live} — materialize or drop "
                "the clones first"
            )
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
