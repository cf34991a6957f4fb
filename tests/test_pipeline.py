"""Pipeline: exactly-once, resume equivalence, lineage, idempotence.

Reference analogs: processing_history started/finished fencing
(processing_history.py:271-489), skip-existing idempotent copy
(workflow.py:211-224), parsed_files lineage (processing_history.py:431-443).
"""

import threading

import pytest
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource, synthetic_change_log
from clinvar_ingest_spark.sources.change_log import OffsetRange
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

N = 1200


def _pipe(spark, path, n=N):
    tbl = SnapshotTable(spark, path, key_col="url", n_buckets=8).create(SCHEMA)
    src = ChangeLogSource(synthetic_change_log(spark, n, n_urls=150))
    return IngestPipeline(spark, src, tbl)


def _state(pipe):
    return sorted(
        (r["url"], r["seq"], r["text"], r["lang"])
        for r in pipe.current_state().collect()
    )


def test_full_replay_equals_incremental(spark, tmp_path):
    full = _pipe(spark, str(tmp_path / "full"))
    full.run_to_end(span=N)
    inc = _pipe(spark, str(tmp_path / "inc"))
    inc.run_to_end(span=147)  # ragged spans on purpose
    assert _state(full) == _state(inc)


@pytest.mark.parametrize("crash_after", [0, 1, 3])
def test_resume_from_any_checkpoint(spark, tmp_path, crash_after):
    full = _pipe(spark, str(tmp_path / "full"))
    full.run_to_end(span=N)

    path = str(tmp_path / "inc")
    p1 = _pipe(spark, path)
    ranges = p1.source.plan_batches(-1, N - 1, 300)
    for rng in ranges[: crash_after + 1]:
        p1.run_batch(rng)
    # "crash": fresh pipeline over the same table resumes from the HWM
    # committed inside the last snapshot — no other state carried over.
    p2 = IngestPipeline(spark, p1.source, SnapshotTable(spark, path, "url", 8))
    assert p2.global_hwm() == ranges[crash_after].hi
    p2.run_to_end(span=300)
    assert _state(full) == _state(p2)


def test_reapply_is_noop(spark, tmp_path):
    pipe = _pipe(spark, str(tmp_path / "t"))
    pipe.run_to_end(span=400)
    before = _state(pipe)
    sid = pipe.target.snapshot_id()
    r = pipe.run_batch(OffsetRange(-1, 399))
    assert r.skipped
    assert pipe.target.snapshot_id() == sid
    assert _state(pipe) == before


def test_lineage_covers_log_exactly(spark, tmp_path):
    pipe = _pipe(spark, str(tmp_path / "t"))
    pipe.run_to_end(span=500)
    lin = pipe.lineage().collect()
    assert sum(r["n_rows"] for r in lin) == N
    # per (batch, part) ranges are disjoint and increasing per part
    by_part = {}
    for r in sorted(lin, key=lambda r: (r["part"], r["seq_lo"])):
        prev = by_part.get(r["part"], -1)
        assert r["seq_lo"] > prev
        assert r["seq_hi"] >= r["seq_lo"]
        by_part[r["part"]] = r["seq_hi"]
    # every batch points at a real committed snapshot
    sids = {r["snapshot_id"] for r in lin}
    assert sids <= {m and __import__("json").load(open(f"{pipe.target.path}/_manifests/{m}"))["snapshot_id"] for m in pipe.target.history()}


def test_metrics_emitted(spark, tmp_path):
    pipe = _pipe(spark, str(tmp_path / "t"), n=600)
    pipe.run_to_end(span=300)
    met = pipe.metrics().collect()
    assert len(met) == 2
    assert all(r["events_per_sec"] > 0 for r in met)
    assert sorted(r["lag_events"] for r in met) == [0, 300]


def test_schema_evolution_mid_stream(spark, tmp_path):
    """lang column appears only in the second half of the log."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), "url", 8).create(
        T.StructType([f for f in SCHEMA.fields if f.name != "lang"])
    )
    old = synthetic_change_log(spark, 600, n_urls=150, with_lang=False)
    new = synthetic_change_log(spark, 1200, n_urls=150, with_lang=True).filter(
        "seq >= 600"
    )
    pipe1 = IngestPipeline(spark, ChangeLogSource(old), tbl)
    pipe1.run_to_end(span=600)
    assert "lang" not in [f.name for f in tbl.schema().fields]
    pipe2 = IngestPipeline(spark, ChangeLogSource(new), tbl)
    pipe2.run_to_end(span=600)
    assert "lang" in [f.name for f in tbl.schema().fields]
    rows = pipe2.current_state().collect()
    langs = {r["url"]: r["lang"] for r in rows}
    # urls last touched before the boundary have NULL lang; after → value
    seqs = {r["url"]: r["seq"] for r in rows}
    for u, s in seqs.items():
        if s >= 600:
            assert langs[u] is not None
        else:
            assert langs[u] is None


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    pipe = _pipe(spark, str(tmp_path / "t"), n=600)
    pipe.run_to_end(span=600)
    some_url = pipe.current_state().select("url").first()["url"]
    got = pipe.lookup(some_url).collect()
    assert len(got) == 1 and got[0]["url"] == some_url
    # a url whose LWW winner was a delete yields nothing
    assert pipe.lookup("https://nope.example.com/x").count() == 0


def test_first_lookup_on_reopened_table_uses_stored_bucket_count(spark, tmp_path):
    """A table reopened without its bucket count (constructor default
    64, stored 8) learns the count from the head manifest BEFORE the
    first lookup hashes the key — so even the first lookup on each
    freshly opened table finds its row."""
    path = str(tmp_path / "t")
    pipe = _pipe(spark, path, n=600)
    pipe.run_to_end(span=600)
    urls = [r["url"] for r in pipe.current_state().select("url").limit(20).collect()]
    got = [
        IngestPipeline(spark, pipe.source, SnapshotTable(spark, path, "url"))
        .lookup(u).count()
        for u in urls
    ]
    assert got == [1] * len(urls)


def test_chain_walks_parse_each_manifest_once(spark, tmp_path, monkeypatch):
    """The lineage audits and the sidecar heal walk the committed chain
    once, parsing each manifest once; the audits' one extra parse is the
    head read for the checkpoint HWM."""
    pipe = _pipe(spark, str(tmp_path / "t"), n=900)
    pipe.run_to_end(span=300)
    n = len(pipe.target.history())
    assert n == 4  # create + 3 batches

    loads = []
    orig = SnapshotTable._load_manifest

    def counting(self, name):
        loads.append(name)
        return orig(self, name)

    monkeypatch.setattr(SnapshotTable, "_load_manifest", counting)
    counts = {}
    for audit in (pipe.verify_lineage, pipe.ensure_sidecars,
                  pipe.verify_lineage_incremental):
        loads.clear()
        audit()
        counts[audit.__name__] = len(loads)
    monkeypatch.undo()
    assert counts == {"verify_lineage": n + 1, "ensure_sidecars": n,
                      "verify_lineage_incremental": n + 1}


def _corrupt(log):
    """Unknown op every 10th seq; null key every 7th."""
    from pyspark.sql import functions as F

    return log.withColumn(
        "op",
        F.when(F.col("seq") % 10 == 0, F.lit("mutate")).otherwise(
            F.col("op")
        ),
    ).withColumn(
        "url",
        F.when(F.col("seq") % 7 == 3, F.lit(None).cast("string")).otherwise(
            F.col("url")
        ),
    )


def test_dlq_quarantines_and_protects_state(spark, tmp_path):
    from pyspark.sql import functions as F

    log = _corrupt(synthetic_change_log(spark, N, n_urls=150))
    tbl = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="url", n_buckets=8
    ).create(SCHEMA)
    pipe = IngestPipeline(spark, ChangeLogSource(log), tbl, dlq=True)
    reports = pipe.run_to_end(span=400)
    assert sum(r.n_dead for r in reports) > 0

    dead = pipe.dead_letters()
    by_reason = {
        r["_reason"]: r["n"]
        for r in dead.groupBy("_reason").agg(F.count("*").alias("n")).collect()
    }
    # precedence: a row that is both null-key and bad-op counts null_key
    exp_null = log.filter(F.col("url").isNull()).count()
    exp_bad = log.filter(
        F.col("url").isNotNull() & (F.col("op") == "mutate")
    ).count()
    assert by_reason == {"null_key": exp_null, "bad_op": exp_bad}

    # the final state equals a clean pipeline fed only the valid rows
    clean_tbl = SnapshotTable(
        spark, str(tmp_path / "c"), key_col="url", n_buckets=8
    ).create(SCHEMA)
    clean = IngestPipeline(
        spark,
        ChangeLogSource(
            log.filter(
                F.col("url").isNotNull()
                & F.col("op").isin("insert", "update", "delete")
            )
        ),
        clean_tbl,
    )
    clean.run_to_end(span=400)
    s = lambda p: sorted(
        (r["url"], r["seq"], r["text"]) for r in p.current_state().collect()
    )
    assert s(pipe) == s(clean)


def test_dlq_fenced_replay_does_not_rewrite(spark, tmp_path):
    import os

    log = _corrupt(synthetic_change_log(spark, 600, n_urls=80))
    tbl = SnapshotTable(
        spark, str(tmp_path / "t"), key_col="url", n_buckets=8
    ).create(SCHEMA)
    pipe = IngestPipeline(spark, ChangeLogSource(log), tbl, dlq=True)
    pipe.run_to_end(span=300)
    d0 = str(tmp_path / "t" / "_dlq" / "batch=0")
    before = sorted(os.listdir(d0)), os.stat(d0).st_mtime_ns
    # a fenced re-run of an applied range must not touch the DLQ dir
    rep = pipe.run_batch(OffsetRange(-1, 299))
    assert rep.skipped and rep.n_dead == 0
    assert (sorted(os.listdir(d0)), os.stat(d0).st_mtime_ns) == before


def test_run_to_end_equals_batch_by_batch(spark, tmp_path):
    """run_to_end over several ranges gives the state, lineage rows and
    per-batch upsert/delete counts of a manual batch-by-batch run, over
    a parquet-backed log (also exercising the footer-stats max_seq fast
    path)."""
    log_path = str(tmp_path / "log")
    synthetic_change_log(spark, N, n_urls=150).write.parquet(log_path)
    parquet_log = spark.read.parquet(log_path)

    pre = IngestPipeline(
        spark,
        ChangeLogSource(parquet_log),
        SnapshotTable(spark, str(tmp_path / "a"), key_col="url", n_buckets=8)
        .create(SCHEMA),
    )
    assert pre.source.max_seq() == N - 1  # metadata fast path, exact
    reports = pre.run_to_end(span=301)  # 4 ragged batches

    inline = IngestPipeline(
        spark,
        ChangeLogSource(parquet_log),
        SnapshotTable(spark, str(tmp_path / "b"), key_col="url", n_buckets=8)
        .create(SCHEMA),
    )
    manual = [
        inline.run_batch(rng, log_end_seq=N - 1)
        for rng in inline.source.plan_batches(-1, N - 1, 301)
    ]
    assert [(r.n_upserts, r.n_deletes, r.lo, r.hi) for r in reports] == [
        (r.n_upserts, r.n_deletes, r.lo, r.hi) for r in manual
    ]
    assert _state(pre) == _state(inline)
    lin = lambda p: sorted(  # noqa: E731
        (r["batch_id"], r["part"], r["seq_lo"], r["seq_hi"], r["n_rows"])
        for r in p.lineage().collect()
    )
    assert lin(pre) == lin(inline)


def test_batches_run_on_the_callers_thread(spark, tmp_path, monkeypatch):
    """Every batch's profile and merge, the bootstrap batch on an empty
    table included, run on the thread that called run_to_end."""
    pipe = _pipe(spark, str(tmp_path / "t"), n=900)
    assert len(pipe.source.plan_batches(-1, 899, 300)) == 3
    assert not pipe.target.current_manifest()["buckets"]  # bootstrap first
    seen = []
    real_profile, real_merge = pipe._profile_rows, pipe.target.merge_upsert

    def profile(raw):
        seen.append(("profile", threading.get_ident()))
        return real_profile(raw)

    def merge(*a, **kw):
        seen.append(("merge", threading.get_ident()))
        return real_merge(*a, **kw)

    monkeypatch.setattr(pipe, "_profile_rows", profile)
    monkeypatch.setattr(pipe.target, "merge_upsert", merge)
    reports = pipe.run_to_end(span=300)
    assert [r.skipped for r in reports] == [False] * 3
    assert sorted(kind for kind, _ in seen) == ["merge"] * 3 + ["profile"] * 3
    me = threading.get_ident()
    assert all(t == me for _, t in seen), seen
