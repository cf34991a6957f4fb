"""Property-based checks of the merge semantics against a python model.

hypothesis generates adversarial little change logs (key collisions,
version ties, deletes, ragged batch splits); the engine's final state
must equal a brute-force LWW simulation, for both merge modes and
any batch partitioning. Spark jobs are slow, so example counts are
small but the per-example space is nasty on purpose.
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource
from clinvar_ingest_spark.sources.change_log import OffsetRange
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import SnapshotTable

BASE = dt.datetime(2024, 1, 1)

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ]
)

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["u0", "u1", "u2"]),        # tiny key pool → collisions
        st.integers(min_value=0, max_value=3),      # coarse ts → ties
        st.sampled_from(["insert", "update", "delete"]),
    ),
    min_size=1,
    max_size=12,
)


def simulate(events):
    """Brute-force LWW: winner per url by (ts, seq); delete winner → absent."""
    best = {}
    for seq, (url, ts, op) in enumerate(events):
        key = (ts, seq)
        if url not in best or key > best[url][0]:
            best[url] = (key, op, seq)
    # engine stores EXTRACTED text (tags stripped by the Arrow UDF)
    return {
        url: (f"{url} v{seq}", seq)
        for url, (_, op, seq) in best.items()
        if op != "delete"
    }


def run_engine(spark, tmpdir, events, splits, merge_mode="cow"):
    rows = [
        (
            0,
            seq,
            op,
            url,
            BASE + dt.timedelta(hours=ts),
            None if op == "delete" else f"<p>{url} v{seq}</p>".encode(),
        )
        for seq, (url, ts, op) in enumerate(events)
    ]
    log = spark.createDataFrame(
        rows, "part int, seq long, op string, url string, warc_ts timestamp, html binary"
    )
    tbl = SnapshotTable(spark, tmpdir, "url", 4).create(PAGES)
    pipe = IngestPipeline(spark, ChangeLogSource(log), tbl, merge_mode=merge_mode)
    lo = -1
    for hi in sorted({min(s, len(events) - 1) for s in splits} | {len(events) - 1}):
        if hi > lo:
            pipe.run_batch(OffsetRange(lo, hi), log_end_seq=len(events) - 1)
            lo = hi
    return {
        r["url"]: (r["text"], r["seq"]) for r in pipe.current_state().collect()
    }


@pytest.mark.parametrize(
    "merge_mode", ["cow", "mor"], ids=["window-cow", "window-mor"]
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=events_strategy,
    splits=st.sets(st.integers(min_value=0, max_value=11), max_size=3),
)
def test_engine_equals_simulation(
    spark, tmp_path_factory, events, splits, merge_mode
):
    tmpdir = str(tmp_path_factory.mktemp("prop"))
    got = run_engine(spark, tmpdir, events, splits, merge_mode)
    assert got == simulate(events)


def test_pack_sequences_matches_greedy_reference(spark):
    """Fuzzed token counts vs a driver-side greedy first-fit reference:
    identical (shard, bin, doc) assignment, every bin within budget
    unless it holds a single oversized doc, no doc lost."""
    import random

    from clinvar_ingest_spark.operators.curation import pack_sequences

    random.seed(11)
    docs = [(i, "w " * random.choice([1, 5, 40, 90, 200, 300]))
            for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["shard"], r["doc_id"]): (r["bin_id"], r["n_toks"])
        for r in pack_sequences(df, budget=256, n_shards=8).collect()
    }

    # driver-side reference
    want = {}
    fills = {}
    for i, text in docs:
        shard = i % 8
        n = len(text.split())
        b, fill = fills.get(shard, (0, 0))
        if fill > 0 and fill + n > 256:
            b, fill = b + 1, n
        else:
            fill += n
        fills[shard] = (b, fill)
        want[(shard, i)] = (b, n)
    assert got == want
    # bin-budget invariant
    bins = {}
    for (shard, i), (b, n) in got.items():
        bins.setdefault((shard, b), []).append(n)
    for members in bins.values():
        assert sum(members) <= 256 or len(members) == 1


def test_canonical_url_idempotent_and_stable(spark):
    """canon(canon(u)) == canon(u) over fuzzed url soup (a canonical
    form that isn't a fixpoint would re-dedup differently per pass)."""
    import random

    from pyspark.sql import functions as F

    from clinvar_ingest_spark.functions.text import canonical_url

    random.seed(23)
    frags = ["HTTP://", "https://", "HTTPS://", "Example.COM", "a.b",
             ":443", ":80", ":8080", "/Path", "/p/", "/", "?", "&",
             "utm_source=1", "q=Q", "gclid=g", "ref=r", "#frag", "x=y"]
    urls = ["".join(random.choice(frags) for _ in range(random.randint(1, 8)))
            for _ in range(150)]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    out = df.select(
        canonical_url(F.col("u")).alias("c1"),
    ).select("c1", canonical_url(F.col("c1")).alias("c2")).collect()
    for r in out:
        assert r["c1"] == r["c2"], r


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),               # two domains
            st.integers(min_value=0, max_value=9),     # token counts w/ ties
        ),
        min_size=1,
        max_size=10,
    ),
    budget=st.integers(min_value=0, max_value=25),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_domain_token_cap_matches_greedy_reference(spark, docs, budget):
    """Property: the skew-safe running-sum decomposition equals the
    brute-force greedy model — per domain, take docs in (n_tok DESC,
    id ASC) order while the inclusive total stays <= budget; kept
    token mass per domain never exceeds the budget."""
    from clinvar_ingest_spark.operators.curation import domain_token_cap

    rows = [
        (i, dom, " ".join(f"w{j}" for j in range(n)) if n else "")
        for i, (dom, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["cum_tokens"], r["keep"])
        for r in domain_token_cap(df, budget, domain_col="dom").collect()
    }
    # python model: whitespace-split of "" is [""] -> 1 token, matching
    # the engine's split-of-trimmed contract
    toks = {i: max(n, 1) for i, (_d, n) in enumerate(docs)}
    by_dom: dict = {}
    for i, (dom, _n) in enumerate(docs):
        by_dom.setdefault(dom, []).append(i)
    want = {}
    for dom, ids in by_dom.items():
        running = 0
        for i in sorted(ids, key=lambda i: (-toks[i], i)):
            running += toks[i]
            want[i] = (toks[i], running, running <= budget)
    assert got == want
    for dom, ids in by_dom.items():
        kept = sum(toks[i] for i in ids if got[i][2])
        assert kept <= budget


def _py_bands(text, band_prefix=4):
    """Python twin of doc_bands: 3-shingles -> 4 md5 minhashes ->
    banded hex prefixes."""
    import hashlib

    toks = text.split()
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    if not sh:
        return set()
    return {
        (i, min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)[:band_prefix])
        for i in range(4)
    }


def _py_jaccard(a, b):
    ta, tb = a.split(), b.split()
    sa = {" ".join(ta[i : i + 3]) for i in range(len(ta) - 2)}
    sb = {" ".join(tb[i : i + 3]) for i in range(len(tb) - 2)}
    u = sa | sb
    return round(len(sa & sb) / len(u), 4) if u else 0.0


@given(
    train=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    evals=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=3,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cross_corpus_neardup_matches_python_model(spark, train, evals):
    """Property: flagged pairs == python MinHash model — every
    (train, eval) pair sharing a banded minhash value AND with true
    shingle Jaccard >= threshold, nothing else. Tiny 8-token alphabet
    forces band collisions and exact/partial overlaps."""
    from clinvar_ingest_spark.operators.similarity_dedup import (
        cross_corpus_neardup,
    )

    tdf = spark.createDataFrame(
        list(enumerate(train)), "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(evals)],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["jac"]
        for r in cross_corpus_neardup(tdf, edf, threshold=0.2).collect()
    }
    want = {}
    for ti, tt in enumerate(train):
        for ei, et in enumerate(evals):
            if not (_py_bands(tt) & _py_bands(et)):
                continue
            j = _py_jaccard(tt, et)
            if j >= 0.2:
                want[(ti, 100 + ei)] = j
    assert got == want
