"""cxRegEx parity suite — the per-context scan-regex override
(ContextSchema cxRegEx, Schema.hs:77-92; scanTextRE,
Analyze.hs:56-92) and the reference's per-type default scan regexes
(Schema.hs:125-179 via REFERENCE_SCAN_REGEXES).

The scan cases mirror the reference's AnalyzerTests.hs:216-255
scanTextRE list (text1, date inv/val/multiple/val+inval/short/shorter)
in both the python twin and the JVM expression.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.functions.analysis import (
    REFERENCE_SCAN_REGEXES,
    scan_py,
    scan_tokens_col,
)
from hunt_spark.operators.build import BuildConfig, postings_from_contexts

from conftest import postings_rows, reference_postings

DATE_RX = REFERENCE_SCAN_REGEXES["date"]
# the reference test's whitespace-word regex ("[^ \t\n\r]*",
# AnalyzerTests.hs:219 — scan-then-drop-empties, so + here)
WS_RX = r"[^ \t\n\r]+"


# ---------------------------------------------------------------------------
# scanTextRE cases (AnalyzerTests.hs:216-255)
# ---------------------------------------------------------------------------

SCAN_CASES = [
    # (regex, input, expected tokens)
    (WS_RX, "w1 w2 w3", ["w1", "w2", "w3"]),  # test_scan_text1
    (DATE_RX, "w1 w2 w3", []),  # test_scan_date1
    (DATE_RX, "2013-01-01", ["2013-01-01"]),  # test_scan_date2
    (DATE_RX, "2013-01-01 2012-12-31",
     ["2013-01-01", "2012-12-31"]),  # test_scan_date3
    (DATE_RX, "2013-01-01 asd 2013-01-01",
     ["2013-01-01", "2013-01-01"]),  # test_scan_date4 (scan!!1 pinned)
    (DATE_RX, "2013-01", []),  # test_scan_date5
    (DATE_RX, "2013", []),  # test_scan_date6
    # punctuation-adjacent: regex scan lifts the date out of prose
    (DATE_RX, "born 2013-01-01, died.", ["2013-01-01"]),
    (REFERENCE_SCAN_REGEXES["int"], "x123 and -45.", ["123", "-45"]),
]


@pytest.mark.parametrize("regex,text,want", SCAN_CASES)
def test_scan_py_reference_cases(regex, text, want):
    assert scan_py(text, regex) == want


def test_scan_jvm_python_parity(spark):
    rows = [(rx, t) for rx, t, _ in SCAN_CASES]
    df = spark.createDataFrame(rows, "rx string, t string")
    for rx, t in rows:
        got = (
            df.filter((F.col("rx") == rx) & (F.col("t") == t))
            .select(scan_tokens_col(F.col("t"), rx).alias("toks"))
            .collect()[0]["toks"]
        )
        assert got == scan_py(t, rx), (rx, t)


# ---------------------------------------------------------------------------
# build-side: typed context with a scan override
# ---------------------------------------------------------------------------


def _prose_docs(spark):
    return spark.createDataFrame(
        [
            ("https://x.org/a", "opened 2001-05-04, closed 2001-06-01."),
            ("https://x.org/b", "opened 2015-01-31, still running"),
            ("https://x.org/c", "no dates at all"),
        ],
        "url string, when string",
    ).withColumn("doc_id", F.xxhash64("url"))


def test_date_context_regex_scan_engine(spark, tmp_path_factory):
    docs = _prose_docs(spark)
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_rx")),
        BuildConfig(
            n_shards=4, salt_buckets=2,
            context_types={"when": "date"},
            context_regexes={"when": DATE_RX},
            build_blocks=False,
        ),
    )
    eng.build(docs, {"when": F.col("when")}, build_id="rx")
    hits = {
        r["url"]
        for r in eng.search("when:[2001-01-01 TO 2001-12-31]", k=10).collect()
    }
    assert hits == {"https://x.org/a"}
    hits = {
        r["url"]
        for r in eng.search("when:[2001-01-01 TO 2020-01-01]", k=10).collect()
    }
    assert hits == {"https://x.org/a", "https://x.org/b"}

    # without the override the whitespace scan sees "2001-05-04," and
    # the validator rejects it — nothing is indexed
    plain = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_plain")),
        BuildConfig(
            n_shards=4, salt_buckets=2,
            context_types={"when": "date"},
            build_blocks=False,
        ),
    )
    plain.build(docs, {"when": F.col("when")}, build_id="plain")
    assert plain.search("when:[2001-01-01 TO 2020-01-01]", k=10).count() == 0


# ---------------------------------------------------------------------------
# tokenize-stage override on a text context: postings match the
# scan_py reference, and non-word tokens survive verbatim
# ---------------------------------------------------------------------------


def test_text_context_custom_regex_matches_reference(spark):
    texts = [
        ("https://x.org/a", "w1! w2?  w3 w1!"),
        ("https://x.org/b", "tag:a tag:b plain"),
    ]
    docs = spark.createDataFrame(texts, "url string, body string").withColumn(
        "doc_id", F.xxhash64("url")
    )
    cfg = BuildConfig(n_shards=4, context_regexes={"body": WS_RX})
    got = postings_rows(
        postings_from_contexts(docs, {"body": F.col("body")}, cfg)
    )
    ids = {r["url"]: r["doc_id"] for r in docs.collect()}
    assert got == reference_postings(
        [(ids[u], t) for u, t in texts], lambda t: scan_py(t, WS_RX)
    )
    # whitespace-scan tokens keep their punctuation ("w1!" is a term,
    # tf 2) — the \w+ default would have produced "w1"
    by_term = {(r[1]): r for r in got if r[1].startswith("w1")}
    assert set(by_term) == {"w1!"}
    assert by_term["w1!"][2] == 2 and by_term["w1!"][3] == (1, 4)
    assert any(r[1] == "tag:a" for r in got)


def test_default_scan_unchanged_without_override(spark):
    docs = spark.createDataFrame(
        [("https://x.org/a", "w1! w2?")], "url string, body string"
    ).withColumn("doc_id", F.xxhash64("url"))
    p = postings_from_contexts(
        docs, {"body": F.col("body")}, BuildConfig(n_shards=4)
    )
    assert {r["term"] for r in p.collect()} == {"w1", "w2"}


# ---------------------------------------------------------------------------
# schema persistence + runtime verb
# ---------------------------------------------------------------------------


def test_insert_context_regex_persists_across_reopen(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ix_verb_rx"))
    eng = HuntEngine(
        spark, root,
        BuildConfig(n_shards=4, salt_buckets=2, build_blocks=False),
    )
    eng.build(
        spark.createDataFrame(
            [("https://x.org/seed", "seed text")], "url string, body string"
        ),
        {"body": F.col("body")},
        build_id="seed",
    )
    eng.insert_context("when", ctype="date", regex=DATE_RX)
    eng.insert(
        _prose_docs(spark).drop("doc_id"),
        {"when": F.col("when")},
    )
    assert eng._schema()["when"] == ("date", 1.0, DATE_RX, True, ())

    reopened = HuntEngine(spark, root, BuildConfig(n_shards=4))
    hits = {
        r["url"]
        for r in reopened.search(
            "when:[2001-01-01 TO 2001-12-31]", k=10
        ).collect()
    }
    assert hits == {"https://x.org/a"}
    # a post-reopen insert still scans with the persisted regex
    reopened.insert(
        spark.createDataFrame(
            [("https://x.org/d", "reopened 2001-07-07, ok")],
            "url string, when string",
        ),
        {"when": F.col("when")},
    )
    hits = {
        r["url"]
        for r in reopened.search(
            "when:[2001-01-01 TO 2001-12-31]", k=10
        ).collect()
    }
    assert hits == {"https://x.org/a", "https://x.org/d"}


def test_insert_context_bad_regex_rejected(spark, tmp_path_factory):
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_bad_rx")),
        BuildConfig(n_shards=4),
    )
    with pytest.raises(ValueError, match="bad context regex"):
        eng.insert_context("x", ctype="text", regex="([unclosed")


def test_unicode_word_scan_custom_regex(spark, tmp_path_factory):
    """(?U) on the JVM scan: the cxRegEx r'\\w+' must tokenize 'café'
    as one Unicode word, as scan_py (Python's Unicode \\w) does — Java's
    \\w without the flag is ASCII-only and would split it — and the
    query 'café' must find the document."""
    text = "café naïve zürich plain"
    docs = spark.createDataFrame([("u1", text)], "url string, text string")
    cfg = BuildConfig(n_shards=4, context_regexes={"text": r"\w+"})
    got = postings_rows(
        postings_from_contexts(
            docs.withColumn("doc_id", F.xxhash64("url")),
            {"text": F.col("text")}, cfg,
        )
    )
    assert {r[1] for r in got} == {"café", "naïve", "zürich", "plain"}
    assert got == reference_postings(
        [(got[0][0], text)], lambda t: scan_py(t, r"\w+")
    )
    eng = HuntEngine(spark, str(tmp_path_factory.mktemp("uni")), cfg)
    eng.build(docs, {"text": F.col("text")}, build_id="u")
    assert {r["url"] for r in eng.search("'café'", k=5).collect()} == {"u1"}
