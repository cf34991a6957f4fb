"""Spans around the engine's public calls, and Spark's event log folded
into per-layer numbers.

The benchmark records every span itself, from outside the engine: it
wraps the public methods of one pipeline, table and source instance
(``IngestPipeline.run_batch``, ``SnapshotTable.merge_upsert``/``compact``,
``ChangeLogSource.max_seq``) and reads the engine's stage clock
(``clinvar_ingest_spark.metrics``) before and after each call. The
clock's deltas become child spans that have a duration but no position.

With tracing on, each span also sets a Spark job group on the calling
thread, so the event log can charge every job, stage and task to the
innermost span that issued it. Jobs from the pipeline's profile helper
thread carry no group; they are reported as their own row.
"""

from __future__ import annotations

import glob
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from clinvar_ingest_spark import metrics as stage_clock


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float | None  # epoch seconds; None for stage-clock children
    end: float | None
    dur: float
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb:{self.id}:{self.name}"


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the wrappers'
    timing (the workloads need commit times) but records no spans and
    sets no job groups."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.run_id, time.time(), None, 0.0, dict(attrs))
        self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.dur = sp.end - sp.start
            stack.pop()
            self._set_group(parent)

    def child(self, parent: Span | None, name: str, dur: float) -> None:
        """A stage-clock child: known duration, unknown position."""
        if self.enabled and parent is not None and dur > 0:
            self.spans.append(
                Span(len(self.spans), name, parent.id, self.run_id, None, None, dur)
            )

    def as_dicts(self) -> list[dict]:
        return [sp.__dict__ | {"group": sp.group} for sp in self.spans]


def _clock() -> dict[str, float]:
    return stage_clock.snapshot()


def _delta(before: dict, after: dict, key: str) -> float:
    return after.get(key, 0.0) - before.get(key, 0.0)


def instrument(tracer: Tracer, pipe, commits: list) -> None:
    """Wrap one pipeline's public calls. ``commits`` receives
    ``(commit_epoch_s, CommitResult)`` for every ingest commit,
    traced or not: freshness needs the moment each snapshot appeared."""
    tbl, src = pipe.target, pipe.source
    run_batch, merge_upsert = pipe.run_batch, tbl.merge_upsert
    compact, max_seq = tbl.compact, src.max_seq

    def traced_run_batch(rng, *a, **kw):
        before = _clock()
        with tracer.span("pipeline.run_batch", lo=rng.lo, hi=rng.hi) as sp:
            rep = run_batch(rng, *a, **kw)
        after = _clock()
        if sp is not None:
            nested = sum(
                c.dur for c in tracer.spans
                if c.parent is not None and c.name == "pipeline.profile_wait"
                and tracer.spans[c.parent].parent == sp.id
            )
            tracer.child(sp, "pipeline.profile_wait",
                         _delta(before, after, "batch.profile") - nested)
            tracer.child(sp, "pipeline.sidecars",
                         _delta(before, after, "batch.sidecars"))
            sp.attrs["events"] = rng.hi - rng.lo
        return rep

    def traced_merge_upsert(batch, *a, **kw):
        before = _clock()
        with tracer.span("tables.merge_upsert") as sp:
            res = merge_upsert(batch, *a, **kw)
        now = time.time()
        after = _clock()
        commits.append((now, res))
        if sp is not None:
            for stage, name in (
                ("merge.write", "tables.write"),
                ("merge.footer_stats", "tables.footer_stats"),
                ("merge.commit", "tables.commit"),
                # bootstrap batches resolve their profile inside the merge
                ("batch.profile", "pipeline.profile_wait"),
            ):
                tracer.child(sp, name, _delta(before, after, stage))
            sp.attrs["snapshot_id"] = res.snapshot_id
        return res

    def traced_compact(*a, **kw):
        with tracer.span("tables.compact"):
            return compact(*a, **kw)

    def traced_max_seq(*a, **kw):
        with tracer.span("change_log.max_seq"):
            return max_seq(*a, **kw)

    pipe.run_batch = traced_run_batch
    tbl.merge_upsert = traced_merge_upsert
    tbl.compact = traced_compact
    src.max_seq = traced_max_seq


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    import pyarrow as pa

    events = []
    for path in sorted(glob.glob(f"{log_dir}/*/events_*")):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                raw = s.read()
        else:
            with open(path, "rb") as f:
                raw = f.read()
        events.extend(json.loads(line) for line in raw.decode().splitlines() if line)
    if not events:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    return events


def _walk(node: dict, out: list, under_window: bool = False) -> None:
    name = node.get("nodeName", "")
    out.append((node, under_window))
    below = under_window or name == "Window"
    for c in node.get("children", []):
        _walk(c, out, below)


def _metric_ids(node: dict) -> dict[str, int]:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}


class EventLog:
    """Spark's event log, indexed by job.

    ``roles`` maps an accumulator id to the operator role it measures:
    a scan of the change log or of the target table, the merge's window
    dedup (its Sorts, Window and Exchange), or the extraction UDF.
    """

    def __init__(self, events: list[dict], log_path: str, table_prefix: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.roles: dict[int, tuple[str, str]] = {}
        self.dedup_reads: set[int] = set()  # "records read" ids of dedup exchanges
        self.tasks: list[dict] = []
        self.driver_accums: list[tuple[int, int, float]] = []  # (exec, id, value)
        for e in events:
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                self._index_plan(e["sparkPlanInfo"], log_path, table_prefix)
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    self.driver_accums.append((e["executionId"], acc_id, float(v)))
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "exec": int(ex) if ex is not None else None,
                }
                for s in e["Stage IDs"]:
                    self.stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] != "Success":
                    continue
                jid = self.stage_job.get(e["Stage ID"], -1)
                acc = {}
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Update") is not None and a["ID"] in self.roles:
                        acc[a["ID"]] = float(a["Update"])
                self.tasks.append(
                    {
                        "job": jid,
                        "stage": e["Stage ID"],
                        "metrics": e.get("Task Metrics") or {},
                        "acc": acc,
                    }
                )

    def _index_plan(self, plan: dict, log_path: str, table_prefix: str) -> None:
        nodes: list = []
        _walk(plan, nodes)
        for node, under_window in nodes:
            name = node.get("nodeName", "")
            ids = _metric_ids(node)
            role = None
            if name.startswith("Scan"):
                loc = (node.get("metadata") or {}).get("Location", "")
                loc += node.get("simpleString", "")
                if log_path in loc:
                    role = "log_scan"
                elif table_prefix in loc:
                    role = "target_scan"
            elif name == "ArrowEvalPython":
                role = "extract"
            elif name == "Window":
                role = "dedup"
            elif under_window and name in ("Sort", "Exchange"):
                role = "dedup"
                if name == "Exchange" and "records read" in ids:
                    self.dedup_reads.add(ids["records read"])
            if role:
                for mname, acc_id in ids.items():
                    self.roles[acc_id] = (role, mname)

    # ------------------------------------------------------------ queries

    def job_ids(self, groups: set[str], window: tuple[float, float] | None = None) -> set[int]:
        """Jobs issued under ``groups``, plus unlabeled jobs (the profile
        helper thread's) submitted inside ``window``."""
        a, b = window or (0.0, -1.0)
        return {
            jid for jid, j in self.jobs.items()
            if j["group"] in groups or (j["group"] is None and a <= j["start"] <= b)
        }

    def sql_metric(self, jobs: set[int], role: str, mname: str) -> float:
        total = 0.0
        for t in self.tasks:
            if t["job"] in jobs:
                for acc_id, v in t["acc"].items():
                    if self.roles[acc_id] == (role, mname):
                        total += v
        execs = {self.jobs[j]["exec"] for j in jobs}
        for ex, acc_id, v in self.driver_accums:
            if ex in execs and self.roles.get(acc_id) == (role, mname):
                total += v
        return total

    def busy_s(self, window: tuple[float, float]) -> float:
        """Seconds of the window during which some Spark job ran."""
        a, b = window
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((j["start"], j["end"] or j["start"]) for j in self.jobs.values()):
            s, e = max(s, a), min(e, b)
            if s >= e:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def task_totals(self, jobs: set[int]) -> dict[str, float]:
        run = cpu = gc = 0.0
        for t in self.tasks:
            if t["job"] in jobs:
                m = t["metrics"]
                run += m.get("Executor Run Time", 0) / 1e3
                cpu += m.get("Executor CPU Time", 0) / 1e9
                gc += m.get("JVM GC Time", 0) / 1e3
        return {"run_s": run, "cpu_s": cpu, "gc_s": gc}

    def dedup_reduce(self, jobs: set[int]) -> tuple[float, float]:
        """Reduce side of the dedup exchange, per stage: max/median
        shuffle bytes read per task, and the task count. Medians over
        stages. AQE may coalesce a small batch into a single task."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            if t["job"] not in jobs or not any(a in self.dedup_reads for a in t["acc"]):
                continue
            r = t["metrics"].get("Shuffle Read Metrics", {})
            b = r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)
            by_stage.setdefault(t["stage"], []).append(float(b))
        if not by_stage:
            return 1.0, 0.0
        skews = [max(v) / max(statistics.median(v), 1.0) for v in by_stage.values()]
        return (statistics.median(skews),
                statistics.median(len(v) for v in by_stage.values()))
