"""The benchmark's workloads, driven only through the engine's public API.

Each workload has three phases:

* set-up (untimed except for ``setup_s``): generate the change log from
  the seed, then run the workload's own plan shapes on a small log a few
  times, so that the timed phase meets a warm JVM, warm codegen and warm
  Python workers;
* ingest: the workload's write pattern (see README.md);
* read mix: full-state aggregate, point lookups and the change feed of
  the last commit, repeated until the run's time is up.

Correctness is checked afterwards against ``oracle.py``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource, synthetic_change_log
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import SnapshotTable

from perfbench import oracle, proctree
from perfbench.trace import Tracer, instrument

HTML_REPEAT = 15  # KB-scale pages: 15-29 filler paragraphs
SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
])

# Sizes for a 4-core box; ``--toy`` shrinks the warm-up and runs three
# triggers so the self-test is quick. Tables get 16 buckets: a few hundred
# keys per bucket at these sizes.
# Both workloads are open loops: events arrive at a fixed rate (events/s)
# and a processing-time trigger fires every `period` s, `triggers` times;
# `compact_every` triggers (0: never) the table is compacted. Each
# trigger pays a ~1.2 s floor, so the rates are set for an engine busy
# about half the time (see README.md, "Choosing the rates")
SIZES = {
    "upsert_cow": {"rate": 2_000, "period": 4.0, "triggers": 3, "compact_every": 0,
                   "warm_events": 2_000, "buckets": 16},
    "tail_mor": {"rate": 2_000, "period": 4.0, "triggers": 3, "compact_every": 2,
                 "warm_events": 2_000, "buckets": 16},
}
# one read-mix cycle: state reads, lookups, then one change feed
READ_CYCLE = (2, 5)
MIN_READ_CYCLES = 1
WARM_CYCLES = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    toy: bool = False
    corrupt_oracle: bool = False

    def size(self, workload: str, key: str) -> int:
        v = SIZES[workload][key]
        return max(v // 20, 400) if self.toy and key == "warm_events" else v


@dataclass
class Run:
    """Everything one workload measured, for the metrics and the checks."""

    setup_cycles_s: list[float] = field(default_factory=list)
    setup_read_s: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)  # ingest start and end, epoch s
    events: int = 0  # applied in the ingest window
    apply_s: float = 0.0  # first batch start to last commit
    cpu_s: float = 0.0  # of the process tree in the ingest window
    batch_s: list[float] = field(default_factory=list)
    freshness: np.ndarray = field(default_factory=lambda: np.zeros(0))  # per event
    state_read_s: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    change_feed_s: list[float] = field(default_factory=list)
    read_files_per_bucket: float = 0.0
    untraced_ingest_s: float = 0.0  # traced runs: wall of the untraced twin
    commits: list = field(default_factory=list)  # (epoch, CommitResult)
    ingest_snapshots: list[int] = field(default_factory=list)
    log_path: str = ""
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    query_s: dict[str, list[float]] = field(default_factory=dict)
    written: list | None = None  # (files, bytes, rows) per ingest commit; traced runs
    phase_s: dict[str, float] = field(default_factory=dict)
    _t: float = field(default_factory=time.monotonic)

    def phase(self, name: str) -> None:
        """Close the phase that started at the previous call."""
        now = time.monotonic()
        self.phase_s[name] = now - self._t
        self._t = now

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


# ------------------------------------------------------------------ helpers


def make_log(ctx: Ctx, n: int) -> str:
    path = os.path.join(ctx.work, "log")
    synthetic_change_log(
        ctx.spark, n, n_urls=max(n // 8, 16), seed=ctx.seed,
        html_repeat=HTML_REPEAT, num_partitions=2 * ctx.cores,
    ).write.parquet(path)
    return path


def new_pipeline(ctx: Ctx, run: Run, name: str, log_path: str, mode: str,
                 buckets: int) -> IngestPipeline:
    tbl = SnapshotTable(ctx.spark, os.path.join(ctx.work, name), "url", buckets)
    tbl.create(SCHEMA)
    src = ChangeLogSource(ctx.spark.read.parquet(log_path))
    pipe = IngestPipeline(ctx.spark, src, tbl, merge_mode=mode)
    instrument(ctx.tracer, pipe, run.commits)
    return pipe


def drop_table(pipe: IngestPipeline) -> None:
    shutil.rmtree(pipe.target.path, ignore_errors=True)


def lookup_keys(log_path: str, seed: int, n: int) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        urls = [r[0] for r in con.execute(
            f"SELECT DISTINCT url FROM read_parquet('{log_path}/*.parquet') ORDER BY url"
        ).fetchall()]
    finally:
        con.close()
    rnd = random.Random(seed)
    # first a never-written key: a lookup that must come back empty
    return ["https://absent.example.com/"] + [rnd.choice(urls) for _ in range(n - 1)]


@contextmanager
def ingest_window(run: Run):
    """The ingest's wall window and the CPU its process tree used."""
    cpu0, t0 = proctree.tree_cpu_s(), time.time()
    yield
    run.cpu_s = proctree.tree_cpu_s() - cpu0
    run.window = (t0, time.time())


def record_batches(run: Run, pipe: IngestPipeline, reports, arrival) -> None:
    """The ingest's batches; ``arrival(seqs)`` gives each event's arrival
    time (epoch s)."""
    by_sid = {res.snapshot_id: t for t, res in run.commits}
    applied = [r for r in reports if not r.skipped]
    # a batch's report gives its wall from start to commit
    run.apply_s = by_sid[applied[-1].snapshot_id] - (
        by_sid[applied[0].snapshot_id] - applied[0].wall_sec)
    fresh = []
    for r in applied:
        seqs = np.arange(r.lo + 1, r.hi + 1, dtype=np.float64)
        fresh.append(by_sid[r.snapshot_id] - np.broadcast_to(arrival(seqs), seqs.shape))
        run.batch_s.append(r.wall_sec)
        run.ingest_snapshots.append(r.snapshot_id)
        run.events += r.hi - r.lo
    run.freshness = np.concatenate(fresh)
    run.attempted += len(reports)
    if run.written is not None:
        for r in reports:
            run.written.append(files_written(pipe.target, r.snapshot_id))


def files_written(tbl: SnapshotTable, sid: int) -> tuple[int, int, int]:
    """(files, bytes, rows) that commit ``sid`` added to the table."""
    import pyarrow.parquet as pq

    def files(m):
        return {f for fs in m["buckets"].values() for f in fs}

    new = files(tbl.manifest_at(sid)) - files(tbl.manifest_at(sid - 1))
    return (len(new), sum(os.path.getsize(f) for f in new),
            sum(pq.ParquetFile(f).metadata.num_rows for f in new))


def read_mix(ctx: Ctx, run: Run, pipe: IngestPipeline, keys: list[str],
             seconds: float, min_cycles: int = MIN_READ_CYCLES, record: bool = True,
             cycle_shape: tuple[int, int] = READ_CYCLE):
    """Full-state aggregates, point lookups and the change feed of the
    last commit, cycled for ``seconds``. Returns what was read, for the
    correctness checks."""
    state_reads, lookups = cycle_shape
    deadline = time.monotonic() + seconds
    tr, tbl = ctx.tracer, pipe.target
    to_id = run.ingest_snapshots[-1] if record else tbl.snapshot_id()
    seen: dict = {"state": None, "lookups": {}, "feed": None}
    cycle, k = 0, 0
    while cycle < min_cycles or time.monotonic() < deadline:
        for _ in range(state_reads):
            t = time.monotonic()
            with tr.span("tables.read_state"):
                agg = pipe.current_state().agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")
                ).collect()[0]
            if record:
                run.state_read_s.append(time.monotonic() - t)
            seen["state"] = (int(agg["n"]), int(agg["chars"] or 0))
        for _ in range(lookups):
            url = keys[k % len(keys)]
            k += 1
            t = time.monotonic()
            with tr.span("pipeline.lookup"):
                rows = pipe.lookup(url).select("seq", "text").collect()
            if record:
                run.lookup_ms.append((time.monotonic() - t) * 1e3)
            seen["lookups"][url] = [(r["seq"], r["text"]) for r in rows]
        t = time.monotonic()
        with tr.span("tables.change_feed"):
            feed = tbl.change_feed(to_id - 1, to_id).groupBy("_change_type").count()
            feed = {r["_change_type"]: r["count"] for r in feed.collect()}
        if record:
            run.change_feed_s.append(time.monotonic() - t)
        seen["feed"] = feed
        cycle += 1
    if record:
        m = tbl.current_manifest()
        run.read_files_per_bucket = (
            sum(len(f) for f in m["buckets"].values()) / max(len(m["buckets"]), 1)
        )
        run.attempted += cycle * (1 + state_reads + lookups)
    return seen


def warm_up(ctx: Ctx, run: Run, mode: str, buckets: int, keys: list[str],
            ingest) -> None:
    """Set-up, untraced. ``WARM_CYCLES`` times: create a table and apply
    the workload's own write shape ``ingest(pipe)`` to the head of the
    log, each repeat timed; then one timed pass of the read mix on the
    last table."""
    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        for i in range(WARM_CYCLES if not ctx.toy else 1):
            t = time.monotonic()
            pipe = new_pipeline(ctx, Run(), f"warm{i}", run.log_path, mode, buckets)
            ingest(pipe)
            run.setup_cycles_s.append(time.monotonic() - t)
            if i + 1 < WARM_CYCLES and not ctx.toy:
                drop_table(pipe)
        t = time.monotonic()
        read_mix(ctx, Run(), pipe, keys, 0, 1, record=False, cycle_shape=(1, 1))
        run.setup_read_s = time.monotonic() - t
        drop_table(pipe)
    finally:
        ctx.tracer.enabled = enabled


def untraced_twin(ctx: Ctx, run: Run, mode: str, buckets: int, ingest) -> float:
    """Traced runs: the ingest ``ingest(pipe)`` once untraced on a table of
    its own, for the tracing overhead. Returns its wall."""
    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        pipe = new_pipeline(ctx, Run(), "untraced", run.log_path, mode, buckets)
        t = time.monotonic()
        ingest(pipe)
        wall = time.monotonic() - t
        drop_table(pipe)
    finally:
        ctx.tracer.enabled = enabled
    return wall


def verify(ctx: Ctx, run: Run, pipe: IngestPipeline, seen: dict, keys: list[str]) -> None:
    """The engine's final state, lookups and change feed against the
    DuckDB replay; the pipeline's own lineage audit."""
    hwm = pipe.global_hwm()
    want = oracle.lww_state(run.log_path, hwm)
    if ctx.corrupt_oracle:  # self-test: a wrong expectation must fail
        k = sorted(want)[0]
        want[k] = (want[k][0] + 1, want[k][1])
    got = {r["url"]: (r["seq"], r["text"])
           for r in pipe.current_state().select("url", "seq", "text").collect()}
    run.check(got == want, f"final state differs from the LWW replay ({len(got)} vs {len(want)} keys)")
    run.check(pipe.verify_lineage_incremental()["ok"], "lineage audit failed")
    chars = sum(len(t) for _, t in want.values())
    run.check(seen["state"] == (len(want), chars), f"state aggregate {seen['state']}")
    for url, rows in seen["lookups"].items():
        exp = [want[url]] if url in want else []
        run.check(rows == exp, f"lookup {url}")
    last = pipe.target.manifest_at(run.ingest_snapshots[-1])
    prev_hwm = int(pipe.target.manifest_at(run.ingest_snapshots[-1] - 1)
                   .get("properties", {}).get("global_hwm", -1))
    before = oracle.lww_state(run.log_path, prev_hwm)
    last_hwm = int(last["properties"]["global_hwm"])
    after = want if last_hwm == hwm else oracle.lww_state(run.log_path, last_hwm)
    run.check(seen["feed"] == oracle.change_counts(before, after), f"change feed {seen['feed']}")


# ---------------------------------------------------------------- workloads


def _tail(tracer: Tracer, pipe: IngestPipeline, n: int, rate: float,
          period: float, compact_every: int) -> tuple[list, float]:
    """Open loop with a processing-time trigger: event i arrives at
    t0 + i/rate whatever the engine does; every ``period`` seconds a
    trigger applies everything that has arrived (a trigger that falls
    due while the previous one runs fires as soon as it ends)."""
    reports, k = [], 0
    t0 = time.time()
    while pipe.global_hwm() < n - 1:
        k += 1
        with tracer.span("tail.trigger_wait"):  # idle until the trigger is due
            time.sleep(max(0.0, t0 + k * period - time.time()))
        arrived = min(n, int((time.time() - t0) * rate))
        reports += pipe.run_to_end(span=n, end_seq=arrived - 1)
        if compact_every and k % compact_every == 0 and pipe.global_hwm() < n - 1:
            pipe.target.compact()
    return reports, t0


def _paced(ctx: Ctx, name: str, mode: str) -> Run:
    """The open-loop tail of SIZES[name] into a ``mode`` table, then the
    read mix."""
    run = Run(written=[] if ctx.tracer.enabled else None)
    cfg = SIZES[name]
    rate, period = cfg["rate"], cfg["period"]
    # toy runs: three triggers; MoR compacts after each of the first two
    triggers = 3 if ctx.toy else cfg["triggers"]
    every = min(cfg["compact_every"], 1) if ctx.toy else cfg["compact_every"]
    buckets = ctx.size(name, "buckets")
    n = int(rate * period * triggers)
    run.log_path = make_log(ctx, n)
    warm_n = ctx.size(name, "warm_events")
    keys = lookup_keys(run.log_path, ctx.seed, 64)

    def warm_ingest(pipe):
        # a trigger, a compaction (MoR), then one more trigger
        pipe.run_to_end(span=warm_n, end_seq=warm_n // 2)
        if every:
            pipe.target.compact()
        pipe.run_to_end(span=warm_n, end_seq=warm_n - 1)

    def tail(pipe):
        return _tail(ctx.tracer, pipe, n, rate, period, every)

    run.phase("inputs")
    warm_up(ctx, run, mode, buckets, keys, warm_ingest)
    run.phase("warm_up")
    if ctx.tracer.enabled:
        run.untraced_ingest_s = untraced_twin(ctx, run, mode, buckets, tail)
        run.phase("untraced_twin")
    pipe = new_pipeline(ctx, run, "pages", run.log_path, mode, buckets)
    with ctx.tracer.span("ingest"), ingest_window(run):
        reports, t0 = tail(pipe)
    record_batches(run, pipe, reports, lambda seqs: t0 + seqs / rate)
    seen = read_mix(ctx, run, pipe, keys, ctx.seconds)
    run.phase("measure")
    verify(ctx, run, pipe, seen, keys)
    run.phase("verify")
    return run


def upsert_cow(ctx: Ctx) -> Run:
    """Open-loop tail of a CoW table: uniform update keys touch every
    bucket in every trigger, so each batch reads and rewrites the whole
    table; then plain-scan reads."""
    return _paced(ctx, "upsert_cow", "cow")


def tail_mor(ctx: Ctx) -> Run:
    """Open-loop tail of a MoR table with compaction every few triggers;
    then the read mix pays the LWW resolve of the deltas written since
    the last compaction."""
    return _paced(ctx, "tail_mor", "mor")


WORKLOADS = {"upsert_cow": upsert_cow, "tail_mor": tail_mor}


# ------------------------------------------------------------------ queries


def headline_queries(ctx: Ctx, run: Run, rounds: int = 3) -> None:
    """The six registry headline queries on seeded TPC-H-shaped tables:
    one warm-up round, then ``rounds`` timed rounds, each query written
    to a ``noop`` sink; results checked against the registry oracle SQL."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    data = os.path.join(ctx.work, "tpch")
    oracle.query_tables(data, ctx.seed, 0.002 if ctx.toy else 0.02)
    qs = entry.queries()
    for r in range(rounds + 1):
        for name in oracle.HEADLINE:
            t = time.monotonic()
            with ctx.tracer.span(f"query.{name}"):
                qs[name](ctx.spark, data).write.format("noop").mode("overwrite").save()
            if r:
                run.query_s.setdefault(name, []).append(time.monotonic() - t)
    want = oracle.query_oracle(data, entry.oracle_sql())
    for name in oracle.HEADLINE:
        got = [tuple(row) for row in qs[name](ctx.spark, data).collect()]
        run.check(oracle.results_match(got, want[name]), f"query {name} differs from its oracle SQL")


def latencies(run: Run) -> dict[str, float]:
    """The run's rates, median timings and freshness percentiles, under
    both their end-to-end and per-layer names."""
    fresh = run.freshness
    return {
        "events_per_s": run.events / run.apply_s,
        "cpu_s_per_mevent": run.cpu_s / run.events * 1e6,
        "freshness_p50_s": float(np.percentile(fresh, 50)),
        "pipeline.batch_p50_s": statistics.median(run.batch_s),
        "pipeline.freshness_p99_s": float(np.percentile(fresh, 99)),
        "tables.state_read_s": statistics.median(run.state_read_s),
        "pipeline.lookup_p50_ms": statistics.median(run.lookup_ms),
        "tables.change_feed_s": statistics.median(run.change_feed_s),
    }


def sample_stats(run: Run) -> dict[str, dict]:
    """Sample count, quartiles and median of each timed operation."""
    out = {}
    for name, xs in (("batch_s", run.batch_s), ("state_read_s", run.state_read_s),
                     ("lookup_ms", run.lookup_ms), ("change_feed_s", run.change_feed_s),
                     ("freshness_s", run.freshness)):
        q1, med, q3 = np.percentile(xs, [25, 50, 75])
        out[name] = {"n": len(xs), "q1": float(q1), "median": float(med), "q3": float(q3)}
    return out


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))
