"""cxNormalizer chains (ContextSchema, Schema.hs:85; normalize'
Schema.hs:247-249) — the reference's named normalizer set UpperCase/
LowerCase/ZeroFill (Interpreter.hs:187-189), applied after
scan+validate and before the type's key layout, on both the build and
the query side (normQueryCx, Processor.hs:160-181).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.functions.analysis import (
    chain_norm_py,
    tokenize_py,
    zerofill_norm_py,
)
from hunt_spark.operators.build import BuildConfig, postings_from_contexts

from conftest import postings_rows, reference_postings


def test_zerofill_reference_form():
    # Normalize/Int.hs:55-70 normalizeToText: sign prefix + 20-padded
    # ABSOLUTE digits (the reference's non-monotone negative form,
    # mirrored exactly — unlike the built-in int context key)
    assert zerofill_norm_py("1") == "1" + "0" * 19 + "1"
    assert zerofill_norm_py("-1") == "0" + "0" * 19 + "1"
    assert zerofill_norm_py("007") == zerofill_norm_py("7")
    assert zerofill_norm_py("abc") is None  # drops (reference: error)
    assert zerofill_norm_py(str(2**63)) is None  # isInt Int64 bound


def test_chain_folds_left_to_right():
    assert chain_norm_py("AbC", ["UpperCase"]) == "ABC"
    assert chain_norm_py("AbC", ["LowerCase"]) == "abc"
    assert chain_norm_py("AbC", ["UpperCase", "LowerCase"]) == "abc"
    assert chain_norm_py("AbC", ["LowerCase", "UpperCase"]) == "ABC"
    assert chain_norm_py("12", ["ZeroFill", "UpperCase"]) == "1" + "0" * 18 + "12"


def test_build_applies_chain(spark):
    docs = spark.createDataFrame(
        [("u://1", "Alpha beta ALPHA")], "url string, body string"
    ).withColumn("doc_id", F.xxhash64("url"))
    cfg = BuildConfig(n_shards=2, context_normalizers={"body": ["UpperCase"]})
    got = postings_rows(postings_from_contexts(docs, {"body": F.col("body")}, cfg))
    # the three case variants collapse onto the uppercased key
    assert [(r[1], r[2]) for r in got] == [("ALPHA", 2), ("BETA", 1)]
    assert got == reference_postings(
        [(got[0][0], "Alpha beta ALPHA")],
        lambda t: [chain_norm_py(w, ["UpperCase"]) for w in tokenize_py(t)],
    )


@pytest.fixture()
def upper_engine(spark, tmp_path_factory):
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_chain")),
        BuildConfig(n_shards=2, salt_buckets=1,
                    context_normalizers={"body": ["UpperCase"]},
                    build_blocks=False),
    )
    eng.build(
        spark.createDataFrame(
            [("u://1", "Alpha beta"), ("u://2", "gamma")],
            "url string, body string",
        ),
        {"body": F.col("body")},
        build_id="c1",
    )
    return eng


def _uris(e, q):
    return sorted(r["url"] for r in e.search(q, k=10).collect())


def test_query_side_chain(upper_engine):
    # nocase: query word chains to ALPHA, matches case-insensitively
    assert _uris(upper_engine, "alpha") == ["u://1"]
    assert _uris(upper_engine, "Alpha") == ["u://1"]
    # case-sensitive: only the CHAINED form exists in the index
    assert _uris(upper_engine, "!ALPHA") == ["u://1"]
    assert _uris(upper_engine, "!Alpha") == ["u://1"]  # chain uppercases first
    assert _uris(upper_engine, "gamma") == ["u://2"]


def test_chain_persists_across_reopen(upper_engine, spark):
    reopened = HuntEngine(
        spark, upper_engine.catalog.root, BuildConfig(n_shards=2)
    )
    assert reopened._schema()["body"][4] == ("UpperCase",)
    assert sorted(
        r["url"] for r in reopened.search("alpha", k=10).collect()
    ) == ["u://1"]
    # a post-reopen insert still chains
    reopened.insert(
        spark.createDataFrame([("u://3", "alpha again")],
                              "url string, body string"),
        {"body": F.col("body")},
    )
    assert sorted(
        r["url"] for r in reopened.search("!ALPHA", k=10).collect()
    ) == ["u://1", "u://3"]


def test_insert_context_normalizers_verb(spark, tmp_path_factory):
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_chain_verb")),
        BuildConfig(n_shards=2, salt_buckets=1, build_blocks=False),
    )
    eng.insert_context("code", normalizers=["ZeroFill"])
    assert eng._schema()["code"][4] == ("ZeroFill",)
    eng.insert(
        spark.createDataFrame(
            [("u://1", "widget 007 misc"), ("u://2", "9")],
            "url string, code string",
        ),
        {"code": F.col("code")},
    )
    # "007" and "7" share a key; non-ints dropped by the ZeroFill chain
    assert sorted(
        r["url"] for r in eng.search("code:7", k=10).collect()
    ) == ["u://1"]
    assert sorted(
        r["url"] for r in eng.search("code:009", k=10).collect()
    ) == ["u://2"]
    assert eng.search("code:widget", k=10).count() == 0
    with pytest.raises(ValueError, match="unknown normalizer"):
        eng.insert_context("bad", normalizers=["Reverse"])
