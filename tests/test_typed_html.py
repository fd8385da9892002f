"""Typed contexts fed by raw HTML (extract_html=True): extraction must
run BEFORE the type validator — the date/int grammars reject
markup-wrapped tokens, so the old normalize-then-extract order silently
indexed zero postings for every typed context on an html build."""

from __future__ import annotations

from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig


def test_typed_context_over_html_input(spark, tmp_path_factory):
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("th")),
        BuildConfig(
            n_shards=4,
            extract_html=True,
            context_types={"pub": "date"},
        ),
    )
    html = (
        "<html><title>T one</title>"
        "<p>words here published 2024-01-02 ok</p></html>"
    ).encode()
    html2 = (
        "<html><title>T two</title><p>other text 2023-06-15</p></html>"
    ).encode()
    docs = spark.createDataFrame(
        [("u1", html), ("u2", html2)], "url string, html binary"
    )
    eng.build(
        docs,
        {"body": F.col("html"), "pub": F.col("html")},
        build_id="th",
    )
    u1 = (
        spark.createDataFrame([("u1",)], "url string")
        .select(F.xxhash64("url").alias("i")).first()["i"]
    )
    assert {
        r["doc_id"] for r in eng.select('pub:"2024-01-02"').collect()
    } == {u1}
    assert {r["doc_id"] for r in eng.select("'words'").collect()} == {u1}


def test_typed_context_with_selector_extraction(spark, tmp_path_factory):
    # typed context fed by a SELECTOR (html-hunter -c pub://time):
    # extraction routes the selector inside prepared(), then validates
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("th_sel")),
        BuildConfig(
            n_shards=4,
            extract_html=True,
            context_types={"pub": "date"},
            context_selectors={"pub": "//time", "body": "body"},
        ),
    )
    html = (
        "<html><title>T</title><body><p>text 1999-01-01 noise</p>"
        "<time>2024-01-02</time></body></html>"
    ).encode()
    docs = spark.createDataFrame([("u1", html)], "url string, html binary")
    eng.build(docs, {"body": F.col("html"), "pub": F.col("html")}, build_id="s")
    u1 = (
        spark.createDataFrame([("u1",)], "url string")
        .select(F.xxhash64("url").alias("i")).first()["i"]
    )
    # only the <time> date reaches the pub context; the body date does not
    assert {
        r["doc_id"] for r in eng.select('pub:"2024-01-02"').collect()
    } == {u1}
    assert eng.select('pub:"1999-01-01"').collect() == []
