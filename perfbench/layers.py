"""Per-layer numbers of one traced run: spans, the Spark event log and
the commits' manifests folded into the ``per_layer`` metrics."""

from __future__ import annotations

import statistics

from perfbench.trace import EventLog, Span, Tracer
from perfbench.workloads import Run, geomean, latencies
from perfbench.oracle import HEADLINE


def _subtree(spans: list[Span], roots: list[Span]) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out, todo = [], list(roots)
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.id, []))
    return out


def _self_s(sp: Span, spans: list[Span]) -> float:
    return sp.dur - sum(c.dur for c in spans if c.parent == sp.id)


def per_layer(run: Run, tracer: Tracer, ev: EventLog, cores: int,
              session_start_s: float) -> dict[str, float]:
    spans = tracer.spans
    roots = [sp for sp in spans if sp.name == "ingest"]
    ingest = _subtree(spans, roots)

    def named(name: str, among=ingest) -> list[Span]:
        return [sp for sp in among if sp.name == name]

    def total(name: str, among=ingest) -> float:
        return sum(sp.dur for sp in named(name, among))

    def groups(sps: list[Span]) -> set[str]:
        return {sp.group for sp in sps if sp.start is not None}

    wall = run.window[1] - run.window[0]
    ingest_jobs = ev.job_ids(groups(ingest), run.window)
    merges = named("tables.merge_upsert")
    merge_jobs = ev.job_ids(groups(_subtree(spans, merges)))
    batches = named("pipeline.run_batch")
    batch_jobs = ev.job_ids(groups(_subtree(spans, batches)))
    unlabeled = ev.job_ids(set(), run.window)
    lookups = [sp for sp in spans if sp.name == "pipeline.lookup"]
    reads = [sp for sp in spans if sp.name in
             ("tables.read_state", "pipeline.lookup", "tables.change_feed")]
    events = run.events

    def sql(jobs, role, mname, scale=1.0):
        return ev.sql_metric(jobs, role, mname) * scale

    files = sum(w[0] for w in run.written or [])
    written_bytes = sum(w[1] for w in run.written or [])
    rows_out = sum(w[2] for w in run.written or [])
    target_rows = sql(merge_jobs, "target_scan", "number of output rows")
    rows_in = events + target_rows
    extract_rows = sql(merge_jobs, "extract", "number of output rows")
    ex = ev.task_totals(ingest_jobs)
    skew, reduce_tasks = ev.dedup_reduce(merge_jobs)
    accounted = sum(_self_s(sp, spans) for sp in ingest if sp.name != "ingest")
    q = {n: statistics.median(run.query_s[n]) for n in HEADLINE if n in run.query_s}

    out = {
        "session.start_s": session_start_s,
        "change_log.max_seq_s": total("change_log.max_seq"),
        "change_log.scan_rows": sql(ingest_jobs, "log_scan", "number of output rows"),
        "change_log.scan_bytes": sql(ingest_jobs, "log_scan", "size of files read"),
        "change_log.scan_s": sql(ingest_jobs, "log_scan", "scan time", 1e-3),
        "pipeline.batch_s": total("pipeline.run_batch"),
        "pipeline.self_s": sum(_self_s(sp, spans) for sp in batches),
        "pipeline.profile_wait_s": total("pipeline.profile_wait"),
        "pipeline.sidecars_s": total("pipeline.sidecars"),
        "pipeline.spark_jobs_per_batch": (len(batch_jobs) + len(unlabeled)) / max(len(batches), 1),
        "pipeline.unlabeled_jobs": len(unlabeled),
        "pipeline.unlabeled_job_s": sum(
            (ev.jobs[j]["end"] or ev.jobs[j]["start"]) - ev.jobs[j]["start"] for j in unlabeled
        ),
        "pipeline.driver_gap_s": wall - ev.busy_s(run.window),
        "pipeline.lookup_jobs": len(ev.job_ids(groups(lookups))) / max(len(lookups), 1),
        "tables.merge_upsert_s": total("tables.merge_upsert"),
        "tables.merge_self_s": sum(_self_s(sp, spans) for sp in merges),
        "tables.write_s": total("tables.write"),
        "tables.commit_s": total("tables.commit"),
        "tables.footer_stats_s": total("tables.footer_stats"),
        "tables.target_scan_rows": target_rows,
        "tables.files_added": files,
        "tables.bytes_written": written_bytes,
        "tables.rows_written_per_event": rows_out / max(events, 1),
        "tables.read_s": sum(sp.dur for sp in reads),
        "tables.read_files_per_bucket": run.read_files_per_bucket,
        "tables.compact_s": total("tables.compact"),
        "dedup.rows_in": rows_in,
        "dedup.rows_out": rows_out,
        "dedup.keep_ratio": rows_out / max(rows_in, 1),
        "dedup.sort_s": sql(merge_jobs, "dedup", "sort time", 1e-3),
        "dedup.spill_bytes": sql(merge_jobs, "dedup", "spill size"),
        "dedup.shuffle_bytes": sql(merge_jobs, "dedup", "shuffle bytes written"),
        "dedup.shuffle_write_s": sql(merge_jobs, "dedup", "shuffle write time", 1e-9),
        "dedup.fetch_wait_s": sql(merge_jobs, "dedup", "fetch wait time", 1e-3),
        "dedup.partition_skew": skew,
        "dedup.reduce_tasks": reduce_tasks,
        "extract.rows": extract_rows,
        "extract.bytes_to_python": sql(merge_jobs, "extract", "data sent to Python workers"),
        "extract.python_s": sql(merge_jobs, "extract", "time to run Python workers", 1e-3),
        "extract.rows_per_winner": extract_rows / max(rows_out, 1),
        "executor.run_s": ex["run_s"],
        "executor.cpu_s": ex["cpu_s"],
        "executor.gc_s": ex["gc_s"],
        "executor.cpu_util": ex["cpu_s"] / max(wall * cores, 1e-9),
        "trace.ingest_wall_s": wall,
        "trace.accounted_frac": accounted / max(wall, 1e-9),
        "trace.overhead_s": wall - run.untraced_ingest_s,
        "query.geomean_s": geomean(q.values()) if q else 0.0,
    }
    for n in HEADLINE:
        out[f"query.{n}_s"] = q.get(n, 0.0)
    out.update({k: v for k, v in latencies(run).items() if "." in k})
    return out
