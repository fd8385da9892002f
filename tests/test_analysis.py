"""Analysis-chain unit tests (SURVEY.md §5 model: AnalyzerTests)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hunt_spark.functions.analysis import (
    _extract_one,
    extract_text_udf,
    tokenize_col,
    tokenize_py,
)
from hunt_spark.functions.varbyte import (
    delta_varbyte_decode,
    delta_varbyte_encode,
)
from hunt_spark.sources.corpus import corpus_df, corpus_pandas

from conftest import postings_rows, reference_postings


def test_tokenize_parity_jvm_python(spark):
    samples = [
        "Hello, world! foo_bar 42 x",
        "  multiple   spaces\tand\nnewlines ",
        "punct-only !!! ... ??",
        "",
        "Ünïcode wörds straße",
        "a1 b2 c3 under_score",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = df.select(tokenize_col("text").alias("t")).collect()
    for row, s in zip(got, samples):
        assert row["t"] == tokenize_py(s), s


def test_positions_are_one_based_over_surviving_tokens():
    # Hunt Analyze.hs:62-84 — positions count surviving tokens only
    toks = tokenize_py("the, quick ... fox")
    assert toks == ["the", "quick", "fox"]


def test_extract_text_byte_identity_local():
    pdf = corpus_pandas(50)
    for html, text in zip(pdf["html"], pdf["text"]):
        assert _extract_one(html) == text


def test_extract_text_udf_spark(spark, corpus):
    bad = corpus.withColumn("x", extract_text_udf("html")).filter(
        F.col("x") != F.col("text")
    )
    assert bad.count() == 0


def test_extract_strips_script_style_comments():
    html = b"<html><body><script>var x=1;</script><p>keep me</p><!-- no --><style>a{}</style></body></html>"
    assert _extract_one(html) == "keep me"


def test_extract_unescapes_entities():
    # &nbsp; unescapes to \xa0 which is whitespace — normalizeWS
    # (words >>> unwords; Haskell isSpace includes \xa0) collapses it
    assert _extract_one(b"<p>a &amp; b&nbsp;c</p>") == "a & b c"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
def test_varbyte_roundtrip(values):
    a = np.array(sorted(values), dtype=np.int64)
    assert list(delta_varbyte_decode(delta_varbyte_encode(a))) == sorted(values)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=100))
def test_varbyte_roundtrip_signed_first(values):
    # doc ids are signed xxhash64 values; the first delta may be negative
    a = np.array(sorted(values), dtype=np.int64)
    assert list(delta_varbyte_decode(delta_varbyte_encode(a))) == sorted(values)


def test_fused_html_extraction_build_equals_text_build(spark, tmp_path_factory):
    """cfg.extract_html extracts the html column in an Arrow UDF before
    the tokenizer; the resulting index must be identical to building
    from the pre-extracted text column (the byte-identity contract)."""
    import math

    from pyspark.sql import functions as F

    from hunt_spark.engine import HuntEngine
    from hunt_spark.operators.build import BuildConfig
    from hunt_spark.sources.corpus import corpus_df

    docs = corpus_df(spark, 150, partitions=2)
    a = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_text")),
        BuildConfig(n_shards=4, salt_buckets=2),
    )
    a.build(docs, {"text": F.col("text")}, build_id="t")
    b = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_html")),
        BuildConfig(n_shards=4, salt_buckets=2, extract_html=True),
    )
    b.build(docs, {"text": F.col("html")}, build_id="h")
    for q in ("brain", "'the' 'new'", '"pinky and the brain"'):
        ra = a.search(q, k=10, use_wand=False).collect()
        rb = b.search(q, k=10, use_wand=False).collect()
        assert [r["doc_id"] for r in ra] == [r["doc_id"] for r in rb], q
        for x, y in zip(ra, rb):
            assert math.isclose(x["score"], y["score"], rel_tol=0, abs_tol=1e-9)


def test_invert_matches_python_reference(spark):
    """The Arrow inversion over JVM tokens yields exactly the Python
    reference postings; term_lc and shard are derived from the term."""
    from hunt_spark.functions.xxh64 import spark_shard
    from hunt_spark.operators.build import BuildConfig, postings_from_contexts

    docs = corpus_df(spark, 120, partitions=2).withColumn(
        "doc_id", F.xxhash64("url")
    )
    p = postings_from_contexts(
        docs, {"text": F.col("text")}, BuildConfig(n_shards=4)
    ).cache()
    texts = [(r["doc_id"], r["text"]) for r in docs.collect()]
    assert postings_rows(p) == reference_postings(texts)
    for r in p.select("context", "term", "term_lc", "shard").collect():
        assert r["context"] == "text"
        assert r["term_lc"] == r["term"].lower()
        assert r["shard"] == spark_shard(r["term_lc"], 4)
    p.unpersist()


def test_arrow_invert_html_extraction_identical(spark):
    """extract_html: the extract UDF + JVM tokenize + Arrow inversion
    yields the reference postings of the byte-identical Python
    extraction (_extract_one)."""
    from hunt_spark.operators.build import BuildConfig, postings_from_contexts

    docs = corpus_df(spark, 80, partitions=2).withColumn(
        "doc_id", F.xxhash64("url")
    )
    p = postings_from_contexts(
        docs, {"text": F.col("html")},
        BuildConfig(n_shards=4, extract_html=True),
    )
    texts = [(r["doc_id"], _extract_one(r["html"])) for r in docs.collect()]
    assert postings_rows(p) == reference_postings(texts)


def test_corpus_determinism_spark_vs_pandas(spark):
    want = corpus_pandas(40)
    got = (
        corpus_df(spark, 40, partitions=3)
        .orderBy("url")
        .toPandas()
    )
    want = want.sort_values("url").reset_index(drop=True)
    got = got.sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["text"]) == list(want["text"])
    assert [bytes(b) for b in got["html"]] == [bytes(b) for b in want["html"]]
    assert list(got["lang"]) == list(want["lang"])


def test_blocks_pack_round_trips_postings(spark):
    """Each blocks row decodes back to its (context, term_lc, block_id)
    group of postings — doc ids from the delta+varbyte buffer, terms
    from ``variants`` (null = term_lc), tf and dl from ``tfs``/``dls``
    — and df is the term's document frequency."""
    from collections import defaultdict

    from hunt_spark.operators.build import (
        BuildConfig, build_blocks, postings_from_contexts, term_stats,
    )

    docs = corpus_df(spark, 150, partitions=2).withColumn(
        "doc_id", F.xxhash64("url")
    )
    cfg = BuildConfig(n_shards=4, block_size=64)
    p = postings_from_contexts(docs, {"text": F.col("text")}, cfg).cache()
    blocks = build_blocks(spark, p, term_stats(p), cfg).collect()
    post = p.select("context", "term", "term_lc", "doc_id", "tf", "dl").collect()
    p.unpersist()

    df = defaultdict(set)
    for r in post:
        df[(r["context"], r["term_lc"])].add(r["doc_id"])

    def block_of(doc_id, n_blocks):
        u32 = ((doc_id >> 32) & 0xFFFFFFFF) ^ 0x80000000
        return (u32 * n_blocks) >> 32

    want = defaultdict(list)
    for r in post:
        n_blocks = max(1, -(-len(df[(r["context"], r["term_lc"])]) // 64))
        key = (r["context"], r["term_lc"], block_of(r["doc_id"], n_blocks))
        want[key].append((r["doc_id"], r["term"], r["tf"], r["dl"]))

    assert len(blocks) == len(want)
    assert any(b["block_id"] > 0 for b in blocks)
    for b in blocks:
        key = (b["context"], b["term_lc"], b["block_id"])
        ids = [int(x) for x in delta_varbyte_decode(bytes(b["doc_ids_vb"]))]
        assert ids == sorted(ids) and len(ids) == b["n_postings"]
        got = [
            (i, v if v is not None else b["term_lc"], tf, dl)
            for i, v, tf, dl in zip(ids, b["variants"], b["tfs"], b["dls"])
        ]
        assert sorted(got) == sorted(want[key]), key
        assert b["df"] == len(df[(b["context"], b["term_lc"])])


def test_context_stats_single_shuffle_equals_per_doc_form(engine):
    # the one-pass form (sum(tf)/countDistinct) must equal the former
    # two-level groupBy exactly: dl == sum(tf) per (context, doc) by
    # construction, so the sums are the same integers
    from pyspark.sql import functions as F

    from hunt_spark.operators.build import context_stats

    p = engine.compiler().postings
    got = {
        r["context"]: (r["n_docs"], r["avg_dl"])
        for r in context_stats(p).collect()
    }
    per_doc = p.groupBy("context", "doc_id").agg(F.max("dl").alias("dl"))
    want = {
        r["context"]: (r["n_docs"], r["avg_dl"])
        for r in per_doc.groupBy("context")
        .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl"))
        .collect()
    }
    assert got == want
