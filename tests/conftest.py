from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hunt_spark.operators.build import BuildConfig
from hunt_spark.engine import HuntEngine
from hunt_spark.oracle import OracleIndex
from hunt_spark.session import get_spark
from hunt_spark.sources.corpus import corpus_df, corpus_pandas

N_DOCS = 300

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.DOTALL)
_BODY_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hunt_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    return corpus_df(spark, N_DOCS, partitions=4)


def context_cols_from_html():
    html = F.col("html").cast("string")
    return {
        "title": F.regexp_extract(html, "<title>(.*?)</title>", 1),
        "body": F.regexp_extract(html, "<p>(.*?)</p>", 1),
    }


@pytest.fixture(scope="session")
def engine(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    eng = HuntEngine(
        spark,
        root,
        BuildConfig(n_shards=4, salt_buckets=2, block_size=256),
    )
    eng.build(corpus, context_cols_from_html(), build_id="test")
    return eng


@pytest.fixture(scope="session")
def oracle(spark, corpus):
    rows = corpus.withColumn("doc_id", F.xxhash64("url")).select(
        "doc_id", "url", "html"
    ).collect()
    docs, title, body = [], {}, {}
    for r in rows:
        docs.append((r["doc_id"], r["url"], 1.0))
        h = bytes(r["html"]).decode("utf-8")
        title[r["doc_id"]] = _TITLE_RE.search(h).group(1)
        body[r["doc_id"]] = _BODY_RE.search(h).group(1)
    return OracleIndex(docs, {"title": title, "body": body})


def reference_postings(texts, tokenize=None):
    """Postings rows (doc_id, term, tf, positions, dl) inverted in
    Python from (doc_id, text) pairs — the contract of the build's
    Arrow inversion: ``tokenize`` (default tokenize_py) gives a text's
    surviving tokens, positions are 1-based over them (Hunt
    Analyze.hs:74-84), dl is their count, a doc with none has no rows.
    OracleIndex.postings holds the same inversion, keyed by term."""
    from hunt_spark.functions.analysis import tokenize_py

    tokenize = tokenize or tokenize_py
    out = []
    for doc_id, text in texts:
        toks = tokenize(text)
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(toks, start=1):
            pos.setdefault(t, []).append(i)
        out += [(doc_id, t, len(p), tuple(p), len(toks)) for t, p in pos.items()]
    return sorted(out)


def postings_rows(postings):
    """The (doc_id, term, tf, positions, dl) rows of a postings frame,
    sorted — comparable with reference_postings."""
    return sorted(
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"]), r["dl"])
        for r in postings.collect()
    )
