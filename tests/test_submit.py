"""Deployment-path test: the REAL ``spark-submit --py-files`` flow.

North-rule parity: "run via spark-submit --py-files on a multi-executor
cluster". This test builds the zip artifact, then launches the actual
``spark-submit`` binary from a scratch cwd (so the engine can ONLY be
imported from the --py-files zip), ingests a small log, resumes, and
checks the status JSON — the exact ops workflow a cluster deploy uses,
minus only the cluster manager.
"""

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import package

    zip_path = package.build(str(tmp_path / "dist" / "clinvar_ingest_spark.zip"))

    # a small change log written by the (already running) test session
    from clinvar_ingest_spark.sources import synthetic_change_log

    log = str(tmp_path / "log")
    synthetic_change_log(spark, 2000, n_urls=300).write.parquet(log)
    table = str(tmp_path / "pages")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must come from --py-files only
    cwd = str(tmp_path)  # NOT the repo: no accidental package import

    def submit(*args):
        return subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--py-files", zip_path,
                os.path.join(REPO, "run_ingest.py"),
                *args,
            ],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
        )

    r = submit("--log", log, "--table", table, "--span", "1000")
    assert r.returncode == 0, r.stderr[-2000:]
    reports = [json.loads(line) for line in r.stdout.splitlines() if line.startswith("{")]
    assert [b["batch_id"] for b in reports] == [0, 1]
    assert all(not b["skipped"] for b in reports)

    # resume from the committed checkpoint: everything already applied
    r2 = submit("--log", log, "--table", table, "--span", "1000")
    assert r2.returncode == 0, r2.stderr[-2000:]
    reports2 = [json.loads(line) for line in r2.stdout.splitlines() if line.startswith("{")]
    assert all(b["skipped"] for b in reports2)

    r3 = submit("--table", table, "--status")
    assert r3.returncode == 0, r3.stderr[-2000:]
    status = json.loads(
        [line for line in r3.stdout.splitlines() if line.startswith("{")][0]
    )
    assert status["global_hwm"] == 1999
    assert status["batch_id"] == 1


def test_driver_window_membership_is_pinned():
    """ADVICE r3: the 50-entry driver correctness window is load-bearing
    registry order — pin its membership so a refactor can't silently
    demote a gate query past the measured window."""
    import __spark_entry__ as e

    w = e.driver_window_names()
    assert len(w) == e.DRIVER_WINDOW == 50
    gate_critical = {
        # CDC lifecycle
        "cdc_pipeline_state", "cdc_resume_state", "cdc_mor_state",
        "cdc_schema_evolution", "cdc_compacted_state", "cdc_domain_stats",
        "cdc_curated_corpus", "cdc_incremental_neardup", "cdc_dml_state",
        "snapshot_changes", "tree_disassemble", "event_time_windows",
        "stream_change_feed",
        # flagship LLM ops (exact_dedup_docs demoted after four green
        # driver rows; hash-groupBy mechanism covered by chunk_dedup)
        "minhash_lsh_dedup", "near_dup_clusters",
        "simhash_near_dup", "bpe_merges", "ann_ivf_kmeans",
        "corpus_curation_funnel",
        # round-5 late add: Iceberg-v3 row lineage through the CDC
        # replay (ann_ivf_two_level demoted after its r4 driver row —
        # the IVF family keeps ann_ivf_kmeans + ann_ivf_pq in-window)
        "cdc_row_lineage", "cdc_widen_state",
        # round-5 rotation (first-ever driver rows): schema evolution,
        # PQ/IVF-PQ ANN, z-order, HLL, bigram LM, real PNG decode
        "cdc_rename_state", "bigram_freq_score", "ann_pq_topk",
        "ann_ivf_pq", "zorder_events", "hll_distinct_users",
        "multimodal_features",
        # round-5 new-surface gates: three-clause MERGE, CDF images,
        # write-audit-publish, corpus chunk dedup, fixed-point PageRank
        "cdc_merge_into_state", "cdc_change_feed_images", "cdc_wap_state",
        "chunk_dedup_docs", "link_graph_pagerank",
        # round-5 second wave: rollback recovery, PII scrub, outlink
        # extraction, histogram-quantile sketch
        "cdc_rollback_state", "doc_pii_redact", "page_outlinks",
        "hist_quantiles_price", "multimodal_audio_features",
        # round-5 third wave: delta-based incremental view maintenance,
        # point-in-time (AS-OF) join via the bucketed skew path
        "cdc_ivm_domain_stats", "cdc_ivm_index", "asof_purchase_state",
        # round-5 fourth wave: search layer, classifier inference,
        # temperature mixture
        "cdc_purge_state", "keyword_search_topk",
        "quality_classifier_scores", "temperature_resample",
        # round-5 fifth wave: zero-copy shallow clone under GC pressure,
        # near-dup-aware train/val split, DSIR data selection
        # (ndjson_roundtrip / pricing_summary / revenue_by_nation
        # demoted: driver-green r1-r4, TPC-H pair stays in bench.py)
        "cdc_clone_state", "leakage_safe_split", "dsir_selection",
        "hist_quantiles_price", "multimodal_audio_features",
    }
    missing = gate_critical - set(w)
    assert not missing, f"gate queries fell out of the driver window: {missing}"
    # every registered query has an oracle or is a documented exemption
    oracles = set(e.oracle_sql())
    no_oracle = set(e.queries()) - oracles
    # lm_perplexity: row-local log-space floats, deterministic within
    # the engine but not bit-portable across libms -> rows-only check
    assert no_oracle <= {"multimodal_features", "lm_perplexity"}, no_oracle


def test_gate_tables_removed_at_exit(tmp_path):
    """Gates write their tables under the temp dir and return DataFrames
    that read them lazily, so the tables must live until the process
    exits and be gone after: repeated oracle sweeps leave nothing, not
    even a derived table written next to its source table."""
    from tests.test_plans import SF

    prefixes = ("ndjson_rt_", "cdc_gate_")
    child = textwrap.dedent(f"""
        import os, tempfile
        import __spark_entry__ as e
        from clinvar_ingest_spark.session import get_spark
        spark = get_spark("gate-cleanup", master="local[2]", shuffle_partitions=4)
        for name in ("ndjson_roundtrip", "cdc_pipeline_state", "cdc_domain_stats"):
            e.queries()[name](spark, {SF!r}).collect()
        print(" ".join(sorted(os.listdir(tempfile.gettempdir()))))
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", child],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    during = r.stdout.splitlines()[-1].split()
    for p in prefixes:
        assert any(n.startswith(p) for n in during), (p, during)
    assert [n for n in os.listdir(tmp_path) if n.startswith(prefixes)] == []
