"""LWW dedup strategy equivalence + ordering semantics.

Reference analog: the window-rank dedup asserts implied by
create_tables.py:176-222 (top-1 per key by date DESC, id DESC).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clinvar_ingest_spark.operators.dedup import exact_dedup, lww_dedup
from clinvar_ingest_spark.sources import synthetic_change_log

TS = dt.datetime(2020, 1, 1)


def _log(spark):
    rows = [
        # url, warc_ts, seq, payload
        ("a", TS + dt.timedelta(1), 1, "a-old"),
        ("a", TS + dt.timedelta(3), 2, "a-new"),
        ("a", TS + dt.timedelta(2), 3, "a-mid"),
        ("b", TS, 4, "b-tie-lo-seq"),
        ("b", TS, 5, "b-tie-hi-seq"),  # tie on warc_ts → seq breaks it
        ("c", TS, 6, "c-only"),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, payload string"
    )


@pytest.mark.parametrize("strategy", ["window", "salted_window", "max_by"])
def test_lww_keeps_last_writer(spark, strategy):
    out = lww_dedup(_log(spark), ("url",), ("warc_ts", "seq"), strategy=strategy)
    got = {r["url"]: r["payload"] for r in out.collect()}
    assert got == {"a": "a-new", "b": "b-tie-hi-seq", "c": "c-only"}
    assert out.count() == 3


def test_strategies_agree_on_skewed_log(spark):
    log = synthetic_change_log(spark, 3000, n_urls=100, hot_share=60, hot_urls=3)
    outs = [
        sorted(
            lww_dedup(log, ("url",), ("warc_ts", "seq"), strategy=s)
            .select("url", "seq")
            .collect()
        )
        for s in ("window", "salted_window", "max_by")
    ]
    assert outs[0] == outs[1] == outs[2]
    # hot urls really are hot (skew fixture sanity)
    hot = log.groupBy("url").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 3000 * 0.10


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, body string"
    )
    out = {r["body"]: (r["id"], r["n_copies"]) for r in
           exact_dedup(df, ["body"], "id").collect()}
    assert out == {"x": (1, 2), "y": (3, 1)}


def test_derive_curated_corpus_keeper_by_quality(spark):
    """Cluster keeper = highest quality (NOT lowest id); singletons
    survive as their own cluster."""
    from clinvar_ingest_spark.operators.curation import derive_curated_corpus

    near_a = "the quick brown fox jumps over the lazy dog again and again ok"
    near_b = "the quick brown fox jumps over the lazy dog again and again, ok"
    pages = spark.createDataFrame(
        [
            ("https://docs.site/d1", near_a),    # dup pair, LOWER quality
            ("https://docs.site/d2", near_b),    # (punct) — keeper is by q
            ("https://docs.site/d7", "completely different singleton text"),
        ],
        "url string, text string",
    )
    out = {
        r["cluster"]: (r["keeper"], r["n_members"])
        for r in derive_curated_corpus(pages, threshold=0.5).collect()
    }
    assert out[7] == (7, 1)
    assert 1 in out and out[1][1] == 2
    # keeper decided by the quality formula, deterministically
    from clinvar_ingest_spark.functions.text import quality_score
    from pyspark.sql import functions as F

    q = {
        r["url"]: r["q"]
        for r in pages.select("url", quality_score(F.col("text")).alias("q")).collect()
    }
    want_keeper = 1 if q["https://docs.site/d1"] >= q["https://docs.site/d2"] else 2
    assert out[1][0] == want_keeper


def test_flag_contaminated_13gram_overlap(spark):
    from clinvar_ingest_spark.operators.curation import flag_contaminated

    leak = "one two three four five six seven eight nine ten eleven twelve thirteen"
    train = spark.createDataFrame(
        [
            (100, f"prefix words {leak} suffix words here"),   # contaminated
            (101, "totally unrelated content with no overlap at all in it"),
            (102, leak + " " + leak),                          # twice, 1 distinct hit + shifted grams
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, f"the eval question contains {leak} verbatim")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared_ngrams"]
           for r in flag_contaminated(train, ev, n=13).collect()}
    assert 100 in got and 101 not in got and 102 in got
    assert got[100] >= 1


def test_canonical_url_rules(spark):
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&q=1&fbclid=z#frag",
         "https://www.example.com/Path?q=1"),
        ("HTTP://a.b:80/", "http://a.b/"),
        ("https://a.b/x/", "https://a.b/x"),
        ("https://a.b/x?utm_a=1&utm_b=2", "https://a.b/x"),
        ("https://a.b:8443/x", "https://a.b:8443/x"),   # non-default port kept
        ("https://a.b/X?Q=UPPER", "https://a.b/X?Q=UPPER"),  # path/query case kept
        # ADVICE r3: unanchored tracking regex mangled longer param
        # names and path text — these must all survive untouched
        ("https://a.b/x?href=https://x", "https://a.b/x?href=https://x"),
        ("https://a.b/x?subref=s&pref=p", "https://a.b/x?subref=s&pref=p"),
        ("https://a.b/path/ref=abc123/page", "https://a.b/path/ref=abc123/page"),
        ("https://a.b/x?a=1&ref=keepme2", "https://a.b/x?a=1"),  # real ref dropped
        ("https://a.b/x?ref=r&utm_x=1&b=2", "https://a.b/x?b=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [w for _, w in cases]


def test_pack_sequences_greedy_semantics(spark):
    """First-fit greedy: bins fill to the budget, never split a doc,
    oversized docs get their own bin, id order within shard."""
    from clinvar_ingest_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "a " * 100),   # 100 toks  -> shard 0, bin 0
            (8, "b " * 120),   # 120 toks  -> bin 0 (220 <= 256)
            (16, "c " * 50),   # 50 toks   -> bin 1 (220+50 > 256)
            (24, "d " * 300),  # oversized -> bin 2, alone
            (32, "e " * 10),   # 10 toks   -> bin 3 (300+10 > 256)
            (1, "x " * 5),     # shard 1, bin 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["n_toks"])
        for r in pack_sequences(docs, budget=256, n_shards=8).collect()
    }
    assert got == {
        0: (0, 0, 100), 8: (0, 0, 120), 16: (0, 1, 50),
        24: (0, 2, 300), 32: (0, 3, 10), 1: (1, 0, 5),
    }


def test_chunk_documents_partition_invariants(spark):
    """Chunking must PARTITION the token stream: every token appears in
    exactly one chunk, in order, all chunks full except the last."""
    from clinvar_ingest_spark.operators.curation import chunk_documents

    texts = ["w%d" % i for i in range(57)]
    df = spark.createDataFrame([(1, " ".join(texts)), (2, "solo")],
                               "doc_id long, text string")
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_tokens=25).collect()
    )
    d1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in d1] == [0, 1, 2]
    assert [r[2] for r in d1] == [25, 25, 7]
    assert " ".join(r[3] for r in d1) == " ".join(texts)  # exact partition
    assert rows[-1] == (2, 0, 1, "solo")


def test_pack_sequences_shard_size_guard(spark):
    """VERDICT r3: a shard materializes as ONE array row — undersized
    n_shards must raise (default) or auto-double (auto_shards=True)
    rather than silently building a giant row."""
    import pytest

    from clinvar_ingest_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * 3) for i in range(64)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_shard_items"):
        pack_sequences(docs, n_shards=2, max_shard_items=10)

    out = pack_sequences(
        docs, n_shards=2, max_shard_items=10, auto_shards=True
    )
    rows = out.collect()
    assert len(rows) == 64
    from collections import Counter

    per_shard = Counter(r["shard"] for r in rows)
    assert max(per_shard.values()) <= 10
    # n_shards doubled 2->4->8 (64/8 = 8 <= 10)
    assert len(per_shard) == 8


def test_chunk_dedup_first_occurrence_wins(spark):
    """Corpus-level chunk dedup: a chunk repeated across docs survives
    only at its lowest (doc_id, chunk_id); unique chunks all survive;
    a doc whose every chunk is boilerplate rebuilds to empty text."""
    from clinvar_ingest_spark.operators.curation import chunk_dedup

    banner = " ".join(f"b{i}" for i in range(10))
    prose1 = " ".join(f"p{i}" for i in range(10))
    prose2 = " ".join(f"q{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, banner + " " + prose1),
            (2, banner + " " + prose2),
            (3, banner),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_tokens=10).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == banner + " " + prose1
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == prose2  # banner removed, order kept
    assert out[3]["n_chunks"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["text_dedup"] == ""


def test_chunk_dedup_intra_doc_repeat(spark):
    """The same chunk twice INSIDE one doc keeps only the first copy."""
    from clinvar_ingest_spark.operators.curation import chunk_dedup

    c = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame([(7, c + " " + c)], "doc_id long, text string")
    r = chunk_dedup(df, chunk_tokens=10).collect()[0]
    assert (r["n_chunks"], r["n_kept"], r["text_dedup"]) == (2, 1, c)


def test_repetition_stats_exact_counts(spark):
    """Gopher repetition signals on a hand-computable doc."""
    from clinvar_ingest_spark.functions.text import repetition_stats

    # words: a a a b c  -> 5 words, 3 distinct, top 'a' x3
    # 2grams: "a a","a a","a b","b c" -> 4 grams, 3 distinct
    df = spark.createDataFrame([("a a a b c",), ("solo",)], "text string")
    rows = [
        r["s"].asDict()
        for r in df.select(
            repetition_stats(F.col("text")).alias("s")
        ).collect()
    ]
    assert rows[0] == {
        "n_words": 5,
        "n_distinct_words": 3,
        "n_2grams": 4,
        "n_distinct_2grams": 3,
        "top_word_count": 3,
    }
    assert rows[1]["n_2grams"] == 0 and rows[1]["top_word_count"] == 1


def test_filter_blocklisted_suffix_semantics(spark):
    """example.com blocks its subdomains but not lookalike suffixes."""
    from clinvar_ingest_spark.operators.curation import filter_blocklisted

    docs = spark.createDataFrame(
        [
            ("https://example.com/a",),
            ("https://ads.example.com/b",),
            ("https://deep.ads.example.com/c",),
            ("https://notexample.com/d",),      # lookalike: kept
            ("https://example.com.evil.io/e",), # suffix only in path of host: kept
            ("https://safe.org/f",),
        ],
        "url string",
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    kept = sorted(r["url"] for r in filter_blocklisted(docs, bl).collect())
    assert kept == [
        "https://example.com.evil.io/e",
        "https://notexample.com/d",
        "https://safe.org/f",
    ]


def test_assign_split_deterministic_and_partition_invariant(spark):
    from clinvar_ingest_spark.operators.curation import assign_split

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    a = {r["doc_id"]: r["split"]
         for r in assign_split(df.repartition(1)).collect()}
    b = {r["doc_id"]: r["split"]
         for r in assign_split(df.repartition(8)).collect()}
    assert a == b
    n_val = sum(1 for v in a.values() if v == "val")
    assert 0 < n_val < 60  # ~5% of 400, loose bound
    # growth stability: the same ids keep their split in a larger corpus
    big = spark.createDataFrame([(i,) for i in range(800)], "doc_id long")
    c = {r["doc_id"]: r["split"] for r in assign_split(big).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_nfc_normalize_merges_decomposed_forms(spark):
    """Decomposed and precomposed accents fingerprint identically after
    NFC; NULLs pass through."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.functions.text import nfc_normalize

    df = spark.createDataFrame(
        [("café",), ("café",), (None,)], "t string"
    )
    rows = df.select(
        nfc_normalize(F.col("t")).alias("n"),
        F.md5(nfc_normalize(F.col("t"))).alias("fp"),
    ).collect()
    assert rows[0]["n"] == rows[1]["n"] == "café"
    assert rows[0]["fp"] == rows[1]["fp"]
    assert rows[2]["n"] is None


def test_pii_redact_golden_and_counts(spark):
    """PII scrub: all occurrences of each kind replaced with its token,
    rule order email→IP→phone, no false hits on version strings or
    short decimals; pii_counts agrees with what redaction removed."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.functions.text import pii_counts, pii_redact

    rows = [
        ("mail a.b+x@foo.co or ops@sub.example.org now", "mail <EMAIL> or <EMAIL> now", 2, 0, 0),
        ("server 10.1.2.3 and 192.168.0.254 up", "server <IP> and <IP> up", 0, 2, 0),
        ("call 415-555-1234 or 415.555.0000", "call <PHONE> or <PHONE>", 0, 0, 2),
        # non-hits: 3-part version, short decimal, @ without TLD
        ("version 1.2.3 pi 3.14 ping p@x done", "version 1.2.3 pi 3.14 ping p@x done", 0, 0, 0),
        # mixed, phone with dotted separators is phone (2 dots), IP needs 3
        ("joe@a.io at 10.0.0.1 tel 123.456.7890", "<EMAIL> at <IP> tel <PHONE>", 1, 1, 1),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "t string"
    ).select(
        "t",
        pii_redact(F.col("t")).alias("clean"),
        pii_counts(F.col("t")).alias("c"),
    )
    got = {r["t"]: (r["clean"], r["c"]["n_emails"], r["c"]["n_ips"], r["c"]["n_phones"])
           for r in df.collect()}
    for t, clean, ne, ni, np_ in rows:
        assert got[t] == (clean, ne, ni, np_), (t, got[t])


def test_extract_outlinks_and_host(spark):
    """Outlink extraction: double-quoted absolute http(s) hrefs only, in
    document order; decoys (bare href=, name=, relative, single-quoted)
    are ignored; url_host lowercases and strips path/query."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.functions.text import extract_outlinks, url_host

    html = (
        '<a href="https://A.Example.com/x?q=1">one</a>'
        "<p>href= decoy</p>"
        '<a href="/relative">rel</a>'
        "<a href='https://single.quoted.org/skip'>sq</a>'"
        '<a href="http://b.org:8080/p">two</a>'
        '<a name="anchor">three</a>'
    )
    df = spark.createDataFrame([(html,)], "h string")
    links = df.select(extract_outlinks(F.col("h")).alias("ls")).collect()[0]["ls"]
    assert links == ["https://A.Example.com/x?q=1", "http://b.org:8080/p"]
    hosts = [
        r["host"]
        for r in df.select(
            F.explode(extract_outlinks(F.col("h"))).alias("l")
        ).select(url_host(F.col("l")).alias("host")).collect()
    ]
    assert hosts == ["a.example.com", "b.org:8080"]


# ---------------------------------------------------------------------
# Sliding-window exact-substring span removal (Lee et al. 2022 shape)
# ---------------------------------------------------------------------

def _spans(spark, docs, L):
    from clinvar_ingest_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in remove_duplicate_spans(df, span_tokens=L).collect()
    }


def test_cross_doc_span_any_alignment(spark):
    # 'a b c' appears in both docs at DIFFERENT offsets -> removed from
    # both; fixed-chunk dedup at width 3 would miss the doc-2 copy
    out = _spans(
        spark,
        [(1, "a b c d e"), (2, "x a b c y")],
        L=3,
    )
    assert out[1] == (5, 3, "d e")
    assert out[2] == (5, 3, "x y")


def test_within_doc_repetition_removed(spark):
    out = _spans(spark, [(1, "p q r p q r"), (2, "solo words here")], L=3)
    assert out[1] == (6, 6, "")
    assert out[2] == (3, 0, "solo words here")


def test_short_docs_untouched(spark):
    out = _spans(spark, [(1, "just two"), (2, "just two"), (3, "")], L=3)
    # identical docs but shorter than the window: no L-gram exists
    assert out[1] == (2, 0, "just two")
    assert out[2] == (2, 0, "just two")
    assert out[3] == (0, 0, "")


def test_overlapping_dup_windows_merge_coverage(spark):
    # 'a b c d' shared -> two overlapping dup 3-grams; coverage is the
    # union {0..3}, not double-counted
    out = _spans(spark, [(1, "a b c d z"), (2, "a b c d w")], L=3)
    assert out[1] == (5, 4, "z")
    assert out[2] == (5, 4, "w")


def test_span_partition_invariance(spark):
    from clinvar_ingest_spark.operators.dedup import remove_duplicate_spans

    docs = [(i, f"common run of text {i % 3} plus tail {i}") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(map(tuple, remove_duplicate_spans(df, 4).collect()))
    b = sorted(
        map(tuple, remove_duplicate_spans(df.repartition(11), 4).collect())
    )
    assert a == b


# ---------------------------------------------------------------------
# Robots-exclusion longest-match filtering (curation.py robots_filter)
# ---------------------------------------------------------------------

def _robots(spark, urls):
    from clinvar_ingest_spark.operators.curation import robots_filter

    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    rules = spark.createDataFrame(
        [
            ("a.site", "/", False),
            ("a.site", "/public", True),
            ("a.site", "/public/private", False),
            ("b.site", "/p", True),
            ("b.site", "/p", False),  # exact tie -> allow wins (REP)
        ],
        "host string, path_prefix string, allow boolean",
    )
    return {
        r["url"]: (r["allowed"], r["matched_rule"])
        for r in robots_filter(pages, rules).collect()
    }


def test_robots_longest_match_precedence(spark):
    out = _robots(
        spark,
        [
            "https://a.site/",
            "https://a.site/public/page",
            "https://a.site/public/private/x",
        ],
    )
    assert out["https://a.site/"] == (False, "/")
    assert out["https://a.site/public/page"] == (True, "/public")
    assert out["https://a.site/public/private/x"] == (
        False,
        "/public/private",
    )


def test_robots_tie_resolves_to_allow(spark):
    out = _robots(spark, ["https://b.site/p/q"])
    assert out["https://b.site/p/q"] == (True, "/p")


def test_robots_default_allow(spark):
    # unknown host and bare-host URL (path normalizes to '/')
    out = _robots(spark, ["https://c.site/anything", "https://a.site"])
    assert out["https://c.site/anything"] == (True, None)
    assert out["https://a.site"] == (False, "/")


# ---------------------------------------------------------------------
# C4-style banned-phrase filtering (curation.py banned_phrase_filter)
# ---------------------------------------------------------------------

def _phrases(spark, docs, plist):
    from clinvar_ingest_spark.operators.curation import banned_phrase_filter

    d = spark.createDataFrame(docs, "doc_id long, text string")
    p = spark.createDataFrame([(x,) for x in plist], "phrase string")
    return {
        r["doc_id"]: (r["n_hits"], r["hit_phrases"], r["keep"])
        for r in banned_phrase_filter(d, p).collect()
    }


def test_banned_phrase_word_boundaries(spark):
    out = _phrases(
        spark,
        [
            (1, "a classy Word here"),       # 'class'/'word' as substrings only
            (2, "top class word games"),     # both single-token hits
            (3, "clean page"),
            (4, ""),
        ],
        ["class", "word"],
    )
    assert out[1] == (1, "word", False)  # 'Word' hits (case-insensitive);
    assert out[2] == (2, "class,word", False)
    assert out[3] == (0, "", True)
    assert out[4] == (0, "", True)


def test_banned_phrase_multiword_and_counts(spark):
    out = _phrases(
        spark,
        [
            (1, "buy now buy now ok"),   # 2 overlapping-free hits
            (2, "buy then now"),          # tokens present, sequence absent
        ],
        ["buy now"],
    )
    assert out[1] == (2, "buy now", False)
    assert out[2] == (0, "", True)


def test_banned_phrase_empty_list_keeps_all(spark):
    out = _phrases(spark, [(1, "anything"), (2, "")], [])
    assert out == {1: (0, "", True), 2: (0, "", True)}


# ---------------------------------------------------------------------
# Gopher quality gates (functions/text.py gopher_gates)
# ---------------------------------------------------------------------

BASE_SENT = "the quick brown fox jumps over with lazy dogs near"


def _gopher(spark, docs):
    from clinvar_ingest_spark.functions.text import gopher_gates

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", gopher_gates(F.col("text")).alias("g")
        ).select("doc_id", "g.*").collect()
    }


def test_gopher_keeps_clean_prose(spark):
    out = _gopher(spark, [(1, " ".join([BASE_SENT] * 6))])
    g = out[1]
    assert g["n_words"] == 60 and g["n_alpha_words"] == 60
    assert g["n_stop_hits"] == 12 and g["keep"] is True


def test_gopher_word_count_and_symbol_rules(spark):
    out = _gopher(
        spark,
        [
            (1, BASE_SENT),  # 10 words < 50
            (2, " ".join([BASE_SENT] * 6) + " " + " ".join(["#tag"] * 7)),
        ],
    )
    assert out[1]["keep"] is False
    g = out[2]
    assert g["n_symbol_words"] == 7 and g["keep"] is False  # 7*10 > 67


def test_gopher_line_rules(spark):
    bullets = "\n".join(["- " + BASE_SENT] * 6)
    dots = "\n".join(
        [BASE_SENT + " ..."] * 5 + [BASE_SENT]
    )
    out = _gopher(spark, [(1, bullets), (2, dots)])
    g1, g2 = out[1], out[2]
    assert g1["n_bullet_lines"] == 6 and g1["keep"] is False
    assert g2["n_ellipsis_lines"] == 5 and g2["keep"] is False


def test_gopher_alpha_fraction_rule(spark):
    text = " ".join([BASE_SENT] * 6) + " " + " ".join(["12345"] * 20)
    out = _gopher(spark, [(1, text)])
    g = out[1]
    assert (g["n_words"], g["n_alpha_words"]) == (80, 60)
    assert g["keep"] is False  # 60/80 = 0.75 < 0.8


def test_leakage_safe_split_clusters_share_split(spark):
    from clinvar_ingest_spark.operators.curation import (
        assign_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id long"
    )
    # two clusters: {1,2,3} (transitively via 1-2, 2-3) and {7,8};
    # 4,5,6,9,10 are singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    out = leakage_safe_split(docs, pairs, val_pct=40).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 10
    # whole cluster shares the min-id group AND the split
    assert {by_id[i].group_id for i in (1, 2, 3)} == {1}
    assert len({by_id[i].split for i in (1, 2, 3)}) == 1
    assert {by_id[i].group_id for i in (7, 8)} == {7}
    assert len({by_id[i].split for i in (7, 8)}) == 1
    # singletons group to themselves and match the plain hash split
    plain = {
        r.doc_id: r.split
        for r in assign_split(docs, val_pct=40).collect()
    }
    for i in (4, 5, 6, 9, 10):
        assert by_id[i].group_id == i
        assert by_id[i].split == plain[i]
    # cluster members inherit the REPRESENTATIVE's hash, not their own
    assert by_id[2].split == plain[1]
    assert by_id[8].split == plain[7]


def test_dsir_importance_weights_exact(spark):
    """Hand-computed bucket weights on a collision-free bucket space."""
    import hashlib

    from clinvar_ingest_spark.operators.curation import (
        dsir_importance_weights,
    )

    B, SCALE = 1 << 20, 1_000_000
    texts = {
        1: "apple banana",
        2: "apple banana",
        3: "zebra yak",
        4: "",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    target = docs.filter("doc_id = 1")

    def grams(t):
        ts = [x for x in t.lower().strip().split() if x]
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    raw_c, tgt_c = {}, {}
    for d, t in texts.items():
        for g in grams(t):
            b = bucket(g)
            raw_c[b] = raw_c.get(b, 0) + 1
            if d == 1:
                tgt_c[b] = tgt_c.get(b, 0) + 1
    # collision-free fixture or the hand model is wrong
    assert len(raw_c) == len({g for t in texts.values() for g in grams(t)})
    expect = {}
    for d, t in texts.items():
        gs = grams(t)
        expect[d] = (
            len(gs),
            sum(
                ((tgt_c.get(bucket(g), 0) + 1) * SCALE)
                // (raw_c[bucket(g)] + 1)
                for g in gs
            ),
        )

    out = dsir_importance_weights(docs, target, n_buckets=B)
    got = {r.doc_id: (r.n_grams, r.dsir_score) for r in out.collect()}
    assert got == expect
    # the target-domain duplicate outranks the off-domain doc, and the
    # gram-less doc scores zero
    assert got[2][1] > got[3][1] and got[4] == (0, 0)
    # the bounded-by-construction model side broadcasts
    assert "BroadcastHashJoin" in out._jdf.queryExecution().toString()


def test_domain_token_cap_exact_boundary_and_ties(spark):
    """Per-domain budget: inclusive running sum in (n_tok DESC, id ASC)
    order; a doc landing exactly ON the budget is kept, the next one
    is cut; domains are independent; ties rank by id."""
    from pyspark.sql import functions as F

    from clinvar_ingest_spark.operators.curation import domain_token_cap

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        # domain a: 5 + 3 + 3 tokens; budget 8 keeps the 5 and the
        # FIRST 3-token doc (id order), cuts the second
        (1, "a", words(5)),
        (2, "a", words(3)),
        (3, "a", words(3)),
        # domain b: one doc over budget alone
        (4, "b", words(9)),
        (5, "b", words(2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    got = {
        r["doc_id"]: (r["cum_tokens"], r["keep"])
        for r in domain_token_cap(
            df, 8, domain_col="dom"
        ).collect()
    }
    assert got[1] == (5, True)
    assert got[2] == (8, True)   # exactly on budget -> kept
    assert got[3] == (11, False)
    assert got[4] == (9, False)  # biggest doc alone can bust the cap
    assert got[5] == (11, False)
    # partition invariance: same verdicts at hostile partitioning
    got2 = {
        r["doc_id"]: (r["cum_tokens"], r["keep"])
        for r in domain_token_cap(
            df.repartition(7, F.col("doc_id")), 8, domain_col="dom"
        ).collect()
    }
    assert got2 == got


def test_domain_token_cap_null_domain_and_text(spark):
    """NULL domain is a real group (capped together, never dropped);
    NULL text counts 0 tokens — every input row appears exactly once
    in the audit table."""
    from clinvar_ingest_spark.operators.curation import domain_token_cap

    rows = [
        (1, None, "a b c"),
        (2, None, "d e"),
        (3, "x", None),
        (4, "x", "p q r s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    got = {
        r["doc_id"]: (r["dom"], r["n_tok"], r["cum_tokens"], r["keep"])
        for r in domain_token_cap(df, 4, domain_col="dom").collect()
    }
    assert len(got) == 4
    assert got[1] == (None, 3, 3, True)
    assert got[2] == (None, 2, 5, False)
    assert got[4] == ("x", 4, 4, True)
    # null text: 0 tokens, ranked last, adds nothing to the total
    assert got[3] == ("x", 0, 4, True)


@pytest.mark.parametrize("strategy", ["window", "salted_window", "max_by"])
def test_lww_preserves_caller_underscore_columns(spark, strategy):
    """Helper-column hygiene: a caller column that happens to share an
    internal helper's name (_kh/_rn/_salt/_top — nothing reserves
    underscore names) must survive the dedup with its data intact."""
    rows = [
        ("a", TS + dt.timedelta(1), 1, "keep-a1", "s1"),
        ("a", TS + dt.timedelta(2), 2, "keep-a2", "s2"),
        ("b", TS, 3, "keep-b", "s3"),
    ]
    # _KH differs from the helper's "_kh" only by CASE: withColumn/drop
    # resolve case-insensitively by default, so it must be dodged too
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, seq long, _KH string, _salt string",
    )
    out = lww_dedup(df, ("url",), ("warc_ts", "seq"), strategy=strategy)
    got = {r["url"]: (r["_KH"], r["_salt"]) for r in out.collect()}
    assert got == {"a": ("keep-a2", "s2"), "b": ("keep-b", "s3")}
    assert sorted(out.columns) == sorted(df.columns)
