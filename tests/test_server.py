"""HTTP API surface (hunt_spark/server.py) — same endpoints and JSON
wire shapes as hunt-server's Servant API (hunt-api/src/Hunt/API.hs).
Exercised end-to-end over a real socket with urllib."""

from __future__ import annotations

import json
import logging
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.server import HuntServer
from hunt_spark.sources.corpus import corpus_df

from conftest import context_cols_from_html


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("http_index"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2,
                                              block_size=256))
    eng.build(corpus_df(spark, 120, partitions=2), context_cols_from_html(),
              build_id="http")
    srv = HuntServer(eng).start()
    yield srv
    srv.shutdown()


def _get(srv, path):
    url = f"http://127.0.0.1:{srv.port}{path}"
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def _send(srv, method, path, payload):
    url = f"http://127.0.0.1:{srv.port}{path}"
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def q(s: str) -> str:
    return urllib.parse.quote(s, safe="")


def test_search_limited_result_shape(server):
    status, body = _get(server, f"/search/{q('!the')}?offset=0&limit=5")
    assert status == 200
    # LimitedResult wire shape (ApiDocument.hs:118-124)
    assert set(body) == {"result", "offset", "max", "count"}
    assert body["max"] == 5 and body["offset"] == 0
    assert 0 < len(body["result"]) <= 5
    rd = body["result"][0]
    # RankedDoc = document + score (Intermediate.hs:386-392)
    assert {"uri", "score", "description"} <= set(rd)
    scores = [r["score"] for r in body["result"]]
    assert scores == sorted(scores, reverse=True)


def test_search_matches_engine(server):
    _, body = _get(server, f"/search/{q('!the')}?limit=10")
    wire = [r["uri"] for r in body["result"]]
    direct = [r["url"] for r in server.engine.search("!the", k=10).collect()]
    assert wire == direct


def test_search_pagination(server):
    _, full = _get(server, f"/search/{q('!the')}?limit=6")
    _, page = _get(server, f"/search/{q('!the')}?offset=3&limit=3")
    assert [r["uri"] for r in page["result"]] == [
        r["uri"] for r in full["result"][3:6]
    ]


def test_bad_query_is_400(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, f"/search/{q('AND AND (')}")
    assert ei.value.code == 400
    err = json.loads(ei.value.read())
    assert err["code"] == 400 and "parse" in err["msg"].lower()


def test_unknown_route_404(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/frobnicate/x")
    assert ei.value.code == 404


def test_completion_suggestion_shape(server):
    _, body = _get(server, f"/completion/{q('th')}?limit=5")
    # Suggestion = [(word, score)] (API.hs:67-76)
    assert isinstance(body, list) and len(body) <= 5
    for word, score in body:
        assert word.lower().startswith("th") and score > 0


def test_select_unscored(server):
    _, body = _get(server, f"/select/{q('!the')}")
    assert body["max"] == -1
    assert all(r["score"] == 1.0 for r in body["result"])
    assert len(body["result"]) == server.engine.select("!the").count()


def test_document_lifecycle_and_eval(server):
    doc = {
        "uri": "http://example.org/http-doc",
        "index": {"title": "zephyrhttp quux", "body": "zephyrhttp body words"},
        "description": {"author": "ada", "stars": 5},
    }
    st, res = _send(server, "POST", "/document", doc)
    assert st == 200 and res == {"code": 0, "res": None}
    _, found = _get(server, f"/search/{q('zephyrhttp')}?limit=5")
    assert [r["uri"] for r in found["result"]] == [doc["uri"]]
    # typed description values ride the FV_Json convention
    assert found["result"][0]["description"]["author"] == "ada"
    assert found["result"][0]["description"]["stars"] == "5"

    # PUT = update: description merges key-wise (ContextIndex.hs:326-354)
    upd = {
        "uri": doc["uri"],
        "index": {"title": "zephyrhttp updated"},
        "description": {"stars": 7},
    }
    _send(server, "PUT", "/document", upd)
    _, found = _get(server, f"/search/{q('zephyrhttp')}?limit=5")
    d = found["result"][0]["description"]
    assert d["stars"] == "7" and d["author"] == "ada"

    # /eval batch: search command result mirrors GET
    st, res = _send(
        server, "POST", "/eval",
        {"cmd": "search", "query": "zephyrhttp", "max": 5},
    )
    assert res["code"] == 0 and res["res"]["result"][0]["uri"] == doc["uri"]

    # DELETE /document by uri
    _send(server, "DELETE", "/document", {"uri": doc["uri"]})
    _, gone = _get(server, f"/search/{q('zephyrhttp')}?limit=5")
    assert gone["result"] == []


def test_eval_sequence_and_contexts(server):
    seq = [
        {"cmd": "insert-context", "context": "tags",
         "schema": {"type": "text", "weight": 2.0}},
        {"cmd": "insert", "document": {
            "uri": "http://example.org/seq1", "index": {"tags": "seqalpha"}}},
        {"cmd": "insert", "document": {
            "uri": "http://example.org/seq2", "index": {"tags": "seqalpha seqbeta"}}},
        {"cmd": "search", "query": "seqalpha", "max": 10},
    ]
    st, res = _send(server, "POST", "/eval", seq)
    assert st == 200 and res["code"] == 0
    uris = sorted(r["uri"] for r in res["res"]["result"])
    assert uris == ["http://example.org/seq1", "http://example.org/seq2"]

    # duplicate context registration fails like the reference
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(server, "POST", "/eval",
              {"cmd": "insert-context", "context": "tags", "schema": {}})
    assert ei.value.code == 400

    _send(server, "POST", "/eval", {"cmd": "delete-context", "context": "tags"})
    _, after = _get(server, f"/search/{q('seqalpha')}?limit=5")
    assert after["result"] == []


def test_malformed_body_is_400(server):
    url = f"http://127.0.0.1:{server.port}/document"
    req = urllib.request.Request(
        url, data=b"{not json", method="PUT",
        headers={"Content-Type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    assert "invalid JSON" in json.loads(ei.value.read())["msg"]


def test_insert_unknown_context_400(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(server, "POST", "/document",
              {"uri": "http://example.org/bad", "index": {"nope": "x"}})
    assert ei.value.code == 400


def test_status(server):
    _, body = _get(server, "/status")
    assert body["code"] == 0 and "postings" in body["res"]["tables"]


def test_status_subroutes(server):
    # StatusAPI sub-routes (hunt-api/src/Hunt/API.hs:138-149)
    _, gc = _get(server, "/status/gc")
    assert gc["code"] == 0 and gc["res"]["jvm_total_bytes"] > 0
    _, dt = _get(server, "/status/doctable")
    assert dt["res"]["count"] > 0
    assert {"uri", "weight", "description"} <= set(dt["res"]["docs"][0])
    _, ix = _get(server, "/status/index")
    assert "title" in ix["res"] and ix["res"]["title"]["n_docs"] > 0
    _, cx = _get(server, "/status/context/title")
    assert cx["res"]["context"] == "title" and cx["res"]["terms"]
    _, sch = _get(server, "/status/schema")
    assert sch["res"]["title"]["type"] == "text"
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/status/context/nope")
    assert ei.value.code == 404


def test_count_is_total_before_pagination(server):
    # lrCount = size of the COMPLETE result (ApiDocument.hs:60,72-81),
    # not the page length — clients paginate by it
    total = server.engine.select("!the").count()
    _, page = _get(server, f"/search/{q('!the')}?offset=3&limit=3")
    assert page["count"] == total and len(page["result"]) <= 3


def test_unlimited_search_clamped_not_500(server):
    # the reference default max=-1 (unlimited) must not overflow
    # DataFrame.limit; page is clamped to the serving cap, count is true
    st, res = _send(server, "POST", "/eval",
                    {"cmd": "search", "query": "!the"})
    assert st == 200
    lr = res["res"]
    assert lr["max"] == -1
    assert len(lr["result"]) <= server.max_k
    assert lr["count"] == server.engine.select("!the").count()


def test_weight_route(server):
    # WeightAPI (API.hs:110-113): scored result carrying doc weights
    _, body = _get(server, f"/weight/{q('!the')}")
    assert body["result"], "weight search returned no rows"
    for r in body["result"]:
        assert isinstance(r["weight"], float) and r["weight"] > 0


def test_over_cap_limit_is_413(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, f"/search/{q('!the')}?limit={server.max_k + 1}")
    assert ei.value.code == 413


def test_serving_plan_cache_is_hit(server):
    server.engine._plan_cache.clear()
    _get(server, f"/search/{q('!plancache')}?limit=7")
    assert any(
        k[0] == "!plancache" for k in server.engine._plan_cache
    ), "HTTP search path bypassed the serving plan cache"


def test_insert_existing_uri_is_409(server):
    doc = {"uri": "http://example.org/conflict",
           "index": {"title": "conflictterm"}}
    st, _ = _send(server, "POST", "/document", doc)
    assert st == 200
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(server, "POST", "/document", doc)
    assert ei.value.code == 409
    _send(server, "DELETE", "/document", {"uri": doc["uri"]})


def test_search_fields_projection(server):
    # Search's optional icFields restricts the returned description
    # (Command.hs:166-176); requires a doc with a 2-key description
    doc = {"uri": "http://example.org/fields-doc",
           "index": {"title": "fieldprojterm"},
           "description": {"author": "bob", "stars": 4}}
    _send(server, "POST", "/document", doc)
    _, res = _send(server, "POST", "/eval",
                   {"cmd": "search", "query": "fieldprojterm", "max": 5,
                    "fields": ["author"]})
    d = res["res"]["result"][0]["description"]
    assert d == {"author": "bob"}
    _send(server, "DELETE", "/document", {"uri": doc["uri"]})


def test_structured_query_json(server):
    # /eval search accepts the reference's Query JSON wire shape
    # (Grammar.hs FromJSON) and agrees with the string syntax
    _, by_string = _send(
        server, "POST", "/eval",
        {"cmd": "search", "query": "'the' OR 'and'", "max": 10},
    )
    _, by_json = _send(
        server, "POST", "/eval",
        {"cmd": "search", "max": 10, "query": {
            "type": "or",
            "query1": {"type": "fullword", "op": "nocase", "word": "the"},
            "query2": {"type": "fullword", "op": "nocase", "word": "and"},
        }},
    )
    assert [r["uri"] for r in by_json["res"]["result"]] == [
        r["uri"] for r in by_string["res"]["result"]
    ]
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(server, "POST", "/eval",
              {"cmd": "search", "query": {"type": "frob"}, "max": 5})
    assert ei.value.code == 400


def test_store_and_load_commands(server, tmp_path):
    # StoreIx/StoreIx wire verbs (Command.hs:186-187,217-218)
    export = str(tmp_path / "exported_ix")
    st, res = _send(server, "POST", "/eval",
                    {"cmd": "store", "path": export})
    assert st == 200 and res["res"]["tables"]
    # searches still work after re-loading the exported catalog
    _, before = _get(server, f"/search/{q('!the')}?limit=5")
    st, _ = _send(server, "POST", "/eval", {"cmd": "load", "path": export})
    assert st == 200
    _, after = _get(server, f"/search/{q('!the')}?limit=5")
    assert [r["uri"] for r in after["result"]] == [
        r["uri"] for r in before["result"]
    ]
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(server, "POST", "/eval",
              {"cmd": "load", "path": str(tmp_path / "nope")})
    assert ei.value.code == 404


def test_500_traceback_is_logged(caplog):
    """A 500 replies with the message only; the traceback must reach
    the hunt_spark.server log, and request lines go there at DEBUG."""
    srv = HuntServer(engine=None).start()

    def boom(path):
        raise RuntimeError(f"kernel exploded on {path}")

    srv.handle_get = boom
    try:
        with caplog.at_level(logging.DEBUG, logger="hunt_spark.server"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _get(srv, "/search/boom")
    finally:
        srv.shutdown()
        srv.httpd.server_close()
    assert ei.value.code == 500
    assert json.loads(ei.value.read())["msg"] == (
        "kernel exploded on /search/boom"
    )
    errors = [r for r in caplog.records if r.levelno == logging.ERROR]
    assert len(errors) == 1 and errors[0].name == "hunt_spark.server"
    assert "GET /search/boom" in errors[0].getMessage()
    assert errors[0].exc_info[0] is RuntimeError
    assert "in boom" in caplog.text and "Traceback" in caplog.text
    assert any(
        r.levelno == logging.DEBUG and "GET /search/boom" in r.getMessage()
        for r in caplog.records
    )
