"""Physical-plan contracts: pushdown, pruning, broadcast, no per-row Python.

The brief's scale requirements enforced as assertions on real plans.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from clinvar_ingest_spark.plans import executed_plan, pushed_filters
from clinvar_ingest_spark.plans.explain import read_schemas
from clinvar_ingest_spark.sources import ChangeLogSource

SF = "/root/testdata/sf0.001"


def test_changelog_tail_pushes_seq_filter(spark, tmp_path):
    """Tailing seq > hwm must reach the parquet scan as PushedFilters —
    that is what makes the tail O(new data) via row-group min/max skip."""
    from clinvar_ingest_spark.sources import synthetic_change_log
    from clinvar_ingest_spark.sources.change_log import OffsetRange

    p = str(tmp_path / "log")
    synthetic_change_log(spark, 2000, n_urls=300).write.parquet(p)
    src = ChangeLogSource(spark.read.parquet(p))
    batch = src.batch(OffsetRange(1000, 1500))
    pf = " ".join(pushed_filters(batch))
    assert "GreaterThan(seq,1000)" in pf
    assert "LessThanOrEqual(seq,1500)" in pf


def test_projection_prunes_scan_columns(spark):
    """A 2-column projection must not read the whole documents table."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    rs = " ".join(read_schemas(d))
    assert "doc_id" in rs and "lang" in rs
    assert "text" not in rs  # the big column stays unread


def test_star_join_broadcasts_dims(spark):
    plan = executed_plan(entry.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_plans_take_ordered(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject, not global sort."""
    plan = executed_plan(entry.q_top_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_no_row_at_a_time_python_anywhere(spark):
    """input_hint: vectorized pandas/Arrow UDFs only — across EVERY query."""
    for name, q in entry.queries().items():
        plan = executed_plan(q(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_semi_anti_plan_shapes(spark):
    ps = executed_plan(entry.q_semi_join_active_customers(spark, SF))
    pa = executed_plan(entry.q_anti_join_idle_customers(spark, SF))
    assert "LeftSemi" in ps
    assert "LeftAnti" in pa


def test_agg_has_partial_combine(spark):
    """Q1-shaped agg must show two HashAggregate levels (map-side
    partial + final) — the shuffle carries combined rows only."""
    df = entry.q_pricing_summary(spark, SF)
    df.collect()  # finalize AQE so the plan shows codegen spans
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert "*(" in plan  # the asterisk prefix marks WholeStageCodegen spans


def test_binned_range_join_is_equi_not_bnlj(spark):
    """The binned range join must plan as a hash-keyed equi join
    (SortMergeJoin/BroadcastHashJoin on the bin), never a nested-loop —
    the difference between O(n) shuffle and O(n²) compares at scale."""
    plan = executed_plan(entry.q_range_join_1day(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_ivf_assign_has_no_exchange_before_assignment(spark):
    """IVF cell assignment must be one narrow pass over the corpus:
    no Exchange (shuffle) between the embeddings scan and the cell_id
    projection — the centroid argmax runs against a plan literal."""
    from clinvar_ingest_spark.operators.ann import ivf_assign

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id", "embedding"
    )
    _, assigned = ivf_assign(corpus, n_cells=8)
    plan = executed_plan(assigned)
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_chunking_is_shuffle_free(spark):
    """Context-window chunking must be a map-side transform: the explode
    is the only row expansion, NO Exchange anywhere — at 10^10 docs it
    runs at scan parallelism."""
    from clinvar_ingest_spark.operators.curation import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = executed_plan(chunk_documents(docs))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_decontamination_broadcasts_eval_set(spark):
    """The eval n-gram set must broadcast: probing 10^10 train docs
    against a benchmark must not shuffle the train corpus."""
    from clinvar_ingest_spark.operators.curation import flag_contaminated

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = flag_contaminated(d.filter("doc_id >= 20"), d.filter("doc_id < 20"))
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_decontamination_broadcasts_eval_bands(spark):
    """Cross-corpus MinHash: both eval-side tables (bands and shingle
    sets) must broadcast — the train corpus's band table is never
    shuffled for candidate generation, and the verification join's
    corpus side stays map-side too."""
    from clinvar_ingest_spark.operators.similarity_dedup import (
        cross_corpus_neardup,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = cross_corpus_neardup(
        d.filter("doc_id % 5 != 0"), d.filter("doc_id % 5 == 0")
    )
    plan = executed_plan(out)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_shuffle(spark):
    """Greedy packing = ONE keyed shuffle (the shard groupBy); the fold
    itself is a codegen'd higher-order aggregate, no Python, no window."""
    from clinvar_ingest_spark.operators.curation import pack_sequences

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = executed_plan(pack_sequences(d))
    assert plan.count("Exchange") <= 2  # shard hash + AQE read side
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_freq_score_broadcasts_vocab_when_it_fits(spark):
    from clinvar_ingest_spark.operators.curation import corpus_frequency_score

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = executed_plan(corpus_frequency_score(d))
    assert "BroadcastHashJoin" in plan


def test_corpus_freq_score_shuffle_join_above_vocab_cap(spark):
    """VERDICT r3: an unbounded vocab broadcast OOMs at web scale — with
    the measured vocab above max_broadcast_vocab the join must fall back
    to a shuffled hash join, and the scores must be identical."""
    from clinvar_ingest_spark.operators.curation import corpus_frequency_score

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # The operator must not FORCE a broadcast above the cap. AQE may
    # still legitimately re-broadcast when runtime stats show the vocab
    # is tiny (it is, at test scale) — so prove the hint is absent by
    # turning the auto-broadcast thresholds off: a hinted plan would
    # broadcast anyway, an unhinted one must shuffle.
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in old:
            spark.conf.set(k, "-1")
        capped = corpus_frequency_score(d, max_broadcast_vocab=10)
        plan = executed_plan(capped)
        assert "BroadcastHashJoin" not in plan
        hinted = corpus_frequency_score(d, max_broadcast_vocab=None)
        assert "BroadcastHashJoin" in executed_plan(hinted)
        base = corpus_frequency_score(d).collect()
        assert sorted(map(tuple, capped.collect())) == sorted(
            map(tuple, base)
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_corpus_freq_score_min_count_floor(spark):
    """min_count floors the vocab; dropped tokens score as count 1 —
    exact at min_count=2 (every dropped token truly occurs once)."""
    from clinvar_ingest_spark.operators.curation import corpus_frequency_score

    d = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "beta gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    base = {
        r["doc_id"]: (r["freq_score"], r["n_toks"])
        for r in corpus_frequency_score(d).collect()
    }
    floored = {
        r["doc_id"]: (r["freq_score"], r["n_toks"])
        for r in corpus_frequency_score(d, min_count=2).collect()
    }
    # gamma/delta occur once: dropped from the floored vocab but their
    # coalesce default (1) equals their true count -> identical scores
    assert floored == base


def test_two_level_ivf_assignment_shuffle_free(spark):
    """Both quantizer levels must assign without an Exchange: coarse via
    the flat literal, fine via the nested literal indexed by coarse id."""
    from clinvar_ingest_spark.operators.ann import two_level_assign

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id", "embedding"
    )
    _, assigned = two_level_assign(corpus, n_coarse=4, n_fine=4)
    plan = executed_plan(assigned)
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_band_index_probe_pushes_literal_filter_and_files_sorted(spark, tmp_path):
    """VERDICT r3 #6: the stored band index is clustered by band_val and
    the incremental probe pushes the delta's band values into the scan —
    PushedFilters shows In(band_val, ...) so parquet row-group min/max
    stats prune a multi-file index instead of scanning it."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from clinvar_ingest_spark.operators import incremental_dedup as inc
    from clinvar_ingest_spark.operators.similarity_dedup import doc_bands

    docs = spark.createDataFrame(
        [
            (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h", i % 4)
            for i in range(200)
        ],
        f"doc_id long, text string, {inc.BUCKET} int",
    )
    bands = doc_bands(docs).join(docs.select("doc_id", inc.BUCKET), "doc_id")
    d = str(tmp_path / "bands")

    class _Idx:
        spark = None
    ndi = inc.NearDupIndex.__new__(inc.NearDupIndex)
    ndi.spark = spark
    inc.NearDupIndex._replace_partitions(
        ndi, d, bands, None, sort_col="band_val"
    )

    # every written file is sorted by band_val -> monotonic row-group
    # min/max = tight, non-overlapping stats
    import glob

    files = glob.glob(f"{d}/**/*.parquet", recursive=True)
    assert len(files) >= 4  # one per bucket partition
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "band_val"
        )
        vals = pq.read_table(f, columns=["band_val"])["band_val"].to_pylist()
        assert vals == sorted(vals), f

    idx = spark.read.parquet(d)
    delta = docs.filter(F.col("doc_id") < 3)
    probe = inc.pruned_index_probe(idx, doc_bands(delta))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "In(band_val" in plan or "band_val IN" in plan, plan[:2000]


def test_pq_encode_is_shuffle_free(spark):
    """PQ encode must run at scan parallelism: codebooks ride the plan
    as literals, no Exchange, no Python — encoding 10^10 vectors is one
    narrow pass."""
    from clinvar_ingest_spark.operators.ann import pq_encode, pq_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_train(emb, dim=64, m=4, n_codes=8)
    plan = executed_plan(pq_encode(emb, books))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _merge_write_plan(spark, tmp_path, monkeypatch, lineage=False, **merge_kw):
    """Plan string of the DataFrame ``merge_upsert`` hands to the bucket
    writer for a merge over an already-populated table (two merges of
    the same synthetic log; the second one's plan is returned)."""
    from pyspark.sql import types as T

    from clinvar_ingest_spark.sources import synthetic_change_log
    from clinvar_ingest_spark.streaming import IngestPipeline
    from clinvar_ingest_spark.tables import SnapshotTable

    plans = []
    write = SnapshotTable._write_buckets

    def spy(self, df, *a, **kw):
        plans.append(executed_plan(df))
        return write(self, df, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_write_buckets", spy)
    pages = T.StructType([T.StructField(n, t) for n, t in [
        ("url", T.StringType()), ("warc_ts", T.TimestampType()),
        ("seq", T.LongType()), ("html", T.BinaryType()),
        ("lang", T.StringType()), ("text", T.StringType())]])
    t = SnapshotTable(spark, str(tmp_path / "t"), "url", 8).create(
        pages, row_lineage=lineage
    )
    log = synthetic_change_log(spark, 600, n_urls=100).drop("part")
    for half in ("seq < 300", "seq >= 300"):
        t.merge_upsert(
            log.filter(half),
            post_merge_transform=IngestPipeline.default_transform,
            **merge_kw,
        )
    assert len(plans) == 2
    return plans[-1]


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_merge_dedup_is_map_side_window_group_limit(
    spark, tmp_path, monkeypatch, merge_mode
):
    """A window merge adds no explicit repartition, so Spark plants a
    PARTIAL WindowGroupLimit below the one hash exchange and a FINAL one
    above it: duplicate versions of a key are dropped before the
    shuffle. The extraction stays a vectorized Arrow UDF."""
    plan = _merge_write_plan(spark, tmp_path, monkeypatch, merge_mode=merge_mode)
    lines = plan.splitlines()
    wgl = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln]
    exch = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    assert len(wgl) == 2 and len(exch) == 1, plan
    assert wgl[0] < exch[0] < wgl[1], plan
    assert lines[wgl[0]].rstrip().endswith("Final"), plan
    assert lines[wgl[1]].rstrip().endswith("Partial"), plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_lineage_merge_keeps_explicit_key_repartition(spark, tmp_path, monkeypatch):
    """Row-lineage merges share ONE explicit repartition on the key
    across their window aggregates — no second exchange."""
    plan = _merge_write_plan(spark, tmp_path, monkeypatch, lineage=True)
    exch = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exch) == 1, plan
    assert "hashpartitioning(url" in exch[0], plan
    assert "REPARTITION_BY_NUM" in exch[0], plan
