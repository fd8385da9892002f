"""cxDefault (ContextSchema, Schema.hs:89; wire key "default",
Schema.hs:294-311): a context marked default=False is excluded from
queries WITHOUT a context specifier — the processor's fan-out set is
the default-flagged contexts only (initProcessor, Processor.hs:186-190)
— while explicit "cx:..." restriction still reaches it. The
blog-example demo disables it for its publish_date context
(hunt-demos/blog-example/src/Main.hs:26-36) so date keys don't answer
general text queries.
"""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.server import HuntServer


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_cxdefault")),
        BuildConfig(
            n_shards=2, salt_buckets=1,
            context_defaults={"hidden": False},
            build_blocks=False,
        ),
    )
    docs = spark.createDataFrame(
        [
            ("u1", "apple pie", "zebra apple"),
            ("u2", "plain text", "unicorn"),
        ],
        "url string, body string, hidden string",
    )
    e.build(docs, {"body": F.col("body"), "hidden": F.col("hidden")},
            build_id="d1")
    return e


def _uris(e, q, **kw):
    return sorted(r["url"] for r in e.search(q, k=10, **kw).collect())


def test_unrestricted_query_skips_non_default(eng):
    # "zebra"/"unicorn" exist only in the non-default context
    assert _uris(eng, "zebra") == []
    assert _uris(eng, "unicorn") == []
    # terms in the default context still hit
    assert _uris(eng, "apple") == ["u1"]


def test_explicit_restriction_reaches_non_default(eng):
    assert _uris(eng, "hidden:zebra") == ["u1"]
    assert _uris(eng, "hidden:unicorn") == ["u2"]


def test_term_in_both_scores_default_only(eng):
    # "apple" is in u1's body AND hidden context; the unrestricted
    # result must equal a body-only restriction exactly (score too)
    unrestricted = eng.search("apple", k=10).collect()
    body_only = eng.search("body:apple", k=10).collect()
    assert [(r["url"], r["score"]) for r in unrestricted] == [
        (r["url"], r["score"]) for r in body_only
    ]


def test_completion_skips_non_default(eng):
    terms = {r["term"] for r in eng.completion("z", k=10).collect()}
    assert "zebra" not in terms
    terms = {r["term"] for r in eng.completion("a", k=10).collect()}
    assert "apple" in terms
    # explicit context restriction reaches it
    terms = {
        r["term"]
        for r in eng.completion("z", k=10, contexts=["hidden"]).collect()
    }
    assert "zebra" in terms


def test_default_persists_across_reopen(eng, spark):
    reopened = HuntEngine(spark, eng.catalog.root, BuildConfig(n_shards=2))
    assert reopened._schema()["hidden"][3] is False
    assert reopened._schema()["body"][3] is True
    assert sorted(r["url"] for r in reopened.search("zebra", k=10).collect()) == []
    assert sorted(
        r["url"] for r in reopened.search("hidden:zebra", k=10).collect()
    ) == ["u1"]


def test_insert_context_default_flag_http(spark, tmp_path_factory):
    # the blog-example flow over the wire: insert-context with
    # {"default": false}, then /status/schema reports it
    e = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ix_cxdefault_http")),
        BuildConfig(n_shards=2, salt_buckets=1, build_blocks=False),
    )
    srv = HuntServer(e).start()
    try:
        def _eval(payload):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/eval",
                data=json.dumps(payload).encode(), method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        _eval({"cmd": "insert-context", "context": "content",
               "schema": {"type": "text"}})
        _eval({"cmd": "insert-context", "context": "publish_date",
               "schema": {"type": "date", "default": False}})
        _eval({"cmd": "insert", "document": {
            "uri": "id://1",
            "index": {"content": "colligitur 2013-11-20 indagabit",
                      "publish_date": "2013-11-20"}}})
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/status/schema"
        ) as r:
            sch = json.loads(r.read())["res"]
        assert sch["publish_date"]["default"] is False
        assert sch["content"]["default"] is True
        # general word query only reaches content; the date context
        # still answers explicit range queries
        res = _eval({"cmd": "search", "query": "indagabit", "max": 10})
        assert [d["uri"] for d in res["res"]["result"]] == ["id://1"]
        res = _eval({"cmd": "search",
                     "query": "publish_date:[2013-01-01 TO 2013-12-31]",
                     "max": 10})
        assert [d["uri"] for d in res["res"]["result"]] == ["id://1"]
    finally:
        srv.shutdown()
