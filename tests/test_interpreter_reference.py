"""End-to-end mirror of the reference interpreter test suite
(test/Hunt/InterpreterTests.hs) over the HTTP command surface, using the
reference's own brainDoc fixture (TestHelper.hs:225-244) and structured
Query JSON (the exact wire shapes the reference's tests build).

Covers: insert workflow (test_insert), the 8-case word/phrase
case-sensitivity matrix (test_search_* / test_phrase_*), and the
"a little bit of everything" command-flow (InterpreterTests.hs:479-531):
error on unknown context, error on duplicate context, error on
re-insert, description merge on update, delete.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.server import HuntServer

BRAIN_DOC = {
    "uri": "test://0",
    "index": {"default": "Brain"},
    "description": {
        "name": "Brain",
        "mission": "take over the world",
        "legs": "4",
    },
}


def _eval(srv, payload):
    url = f"http://127.0.0.1:{srv.port}/eval"
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def _search(srv, query, offset=0, mx=1000):
    _, res = _eval(srv, {"cmd": "search", "query": query,
                         "offset": offset, "max": mx})
    return [r["uri"] for r in res["res"]["result"]]


def qword(word, op="case"):
    return {"type": "word", "op": op, "word": word}


def qphrase(s, op="case"):
    return {"type": "phrase", "op": op, "phrase": s}


@pytest.fixture()
def srv(spark, tmp_path):
    eng = HuntEngine(
        spark, str(tmp_path / "ix"),
        BuildConfig(n_shards=2, salt_buckets=1, build_blocks=False),
    )
    s = HuntServer(eng).start()
    yield s
    s.shutdown()


def test_interpreter_everything_flow(srv):
    # insert into non-existent context results in an error
    with pytest.raises(urllib.error.HTTPError):
        _eval(srv, {"cmd": "insert", "document": BRAIN_DOC})
    # insert context succeeds
    st, res = _eval(srv, {"cmd": "insert-context", "context": "default",
                          "schema": {"type": "text"}})
    assert res["code"] == 0
    # inserting the same context again fails
    with pytest.raises(urllib.error.HTTPError):
        _eval(srv, {"cmd": "insert-context", "context": "default",
                    "schema": {"type": "text"}})
    # insert yields the correct result value (test_insert workflow)
    st, res = _eval(srv, {"cmd": "insert", "document": BRAIN_DOC})
    assert res == {"code": 0, "res": None}

    # --- word search case matrix (test_search_nocase/2, _case/2) ---
    assert _search(srv, qword("Bra", "nocase")) == ["test://0"]
    assert _search(srv, qword("bra", "nocase")) == ["test://0"]
    assert _search(srv, qword("Bra", "case")) == ["test://0"]
    assert _search(srv, qword("bra", "case")) == []

    # --- phrase search case matrix (test_phrase_nocase/2, _case/2) ---
    assert _search(srv, qphrase("Brain", "nocase")) == ["test://0"]
    assert _search(srv, qphrase("brain", "nocase")) == ["test://0"]
    assert _search(srv, qphrase("Brain", "case")) == ["test://0"]
    assert _search(srv, qphrase("brain", "case")) == []

    # searching "Brain" leads to the doc; case-sensitive too; lowercase
    # case-sensitive yields none (test_everything:498-506)
    assert _search(srv, qword("Brain", "nocase")) == ["test://0"]
    assert _search(srv, qword("Brain", "case")) == ["test://0"]
    assert _search(srv, qword("brain", "case")) == []

    # insert with default does NOT update the description (re-insert
    # fails, description stays) — test_everything:508-514
    upd = {
        "uri": "test://0",
        "index": {"default": "Brain"},
        "description": {"name": "Pinky", "mission": "ask stupid questions"},
    }
    with pytest.raises(urllib.error.HTTPError) as ei:
        _eval(srv, {"cmd": "insert", "document": upd})
    assert ei.value.code == 409
    _, res = _eval(srv, {"cmd": "search", "query": qword("Brain"), "max": 5})
    assert res["res"]["result"][0]["description"] == BRAIN_DOC["description"]

    # update MERGES the description (brainDocMerged = update keys win,
    # untouched old keys survive) — test_everything:516-521
    _, res = _eval(srv, {"cmd": "update", "document": upd})
    assert res["code"] == 0
    _, res = _eval(srv, {"cmd": "search", "query": qword("Brain"), "max": 5})
    assert res["res"]["result"][0]["description"] == {
        "name": "Pinky",
        "mission": "ask stupid questions",
        "legs": "4",
    }

    # delete returns the correct result value; the doc is gone
    # (test_everything:523-528)
    _, res = _eval(srv, {"cmd": "delete", "uri": "test://0"})
    assert res == {"code": 0, "res": None}
    assert _search(srv, qword("Brain", "nocase")) == []
