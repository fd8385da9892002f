"""Golden-output parity with the reference's doc-update HTTP test
(hunt-test/doc-update/Makefile:5-18): make-schema from the insert file,
eval the schema, eval the insert, search "this", then three updates
each re-searching — every search result compared against the
reference's canned expected{0..3}.js VERBATIM (as parsed JSON).

The pinned score 0.75 is the native scorer's case-insensitive
same-length `similar'` hit ("this" finds "This", Scoring/Keys.hs:42-54)
times tf=1; the description columns pin insert-time null dropping
(Interpreter.hs:462 deleteNull — original.js carries "comment": null
and expected0.js has no comment key) and update-time merge semantics
(ContextIndex.hs:339-354: new keys win, old keys survive, null
deletes — expected1..3.js).

Driven through the CLI exactly like the reference Makefile drives
hunt-server-cli (make-schema | eval | search), over a live server
socket.
"""

from __future__ import annotations

import json

import pytest

from hunt_spark.cli import main as cli_main
from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.server import HuntServer

# hunt-test/doc-update/original.js
ORIGINAL = {
    "cmd": "insert",
    "document": {
        "uri": "http://first-article",
        "index": {
            "title": "First Article",
            "content": "This is the first indexed article in hunt.",
        },
        "description": {"title": "First Article", "comment": None},
    },
}

# hunt-test/doc-update/update.js, update2.js, update3.js
UPDATES = [
    {
        "cmd": "update",
        "document": {
            "uri": "http://first-article",
            "description": {
                "content": "This is the first indexed article in hunt."
            },
        },
    },
    {
        "cmd": "update",
        "document": {
            "uri": "http://first-article",
            "description": {
                "content": "This is the first article with modified content."
            },
        },
    },
    {
        "cmd": "update",
        "document": {
            "uri": "http://first-article",
            "description": {
                "comment": "the content should have disappeared",
                "content": None,
            },
        },
    },
]

# hunt-test/doc-update/expected0.js .. expected3.js
EXPECTED = [
    {
        "max": 20,
        "offset": 0,
        "count": 1,
        "result": [
            {
                "score": 0.75,
                "uri": "http://first-article",
                "description": {"title": "First Article"},
            }
        ],
    },
    {
        "max": 20,
        "offset": 0,
        "count": 1,
        "result": [
            {
                "score": 0.75,
                "uri": "http://first-article",
                "description": {
                    "content": "This is the first indexed article in hunt.",
                    "title": "First Article",
                },
            }
        ],
    },
    {
        "max": 20,
        "offset": 0,
        "count": 1,
        "result": [
            {
                "score": 0.75,
                "uri": "http://first-article",
                "description": {
                    "content": "This is the first article with modified content.",
                    "title": "First Article",
                },
            }
        ],
    },
    {
        "max": 20,
        "offset": 0,
        "count": 1,
        "result": [
            {
                "score": 0.75,
                "uri": "http://first-article",
                "description": {
                    "title": "First Article",
                    "comment": "the content should have disappeared",
                },
            }
        ],
    },
]


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("golden_ix")),
        BuildConfig(n_shards=2, salt_buckets=1, build_blocks=False),
        scoring="hunt",  # the reference's native scorer
    )
    s = HuntServer(eng).start()
    yield s
    s.shutdown()


def _cli(capsys, srv, *argv) -> tuple[int, str]:
    # make-schema/make-insert are offline verbs (no server flag)
    srv_flag = (
        ["-s", f"http://127.0.0.1:{srv.port}"]
        if argv[0] in ("search", "complete", "eval")
        else []
    )
    rc = cli_main([argv[0]] + srv_flag + list(argv[1:]))
    out = capsys.readouterr().out
    return rc, out


def test_doc_update_golden_flow(srv, capsys, tmp_path):
    # make-schema original.js > schema.js  (createContextCommands)
    orig_file = tmp_path / "original.js"
    orig_file.write_text(json.dumps(ORIGINAL))
    rc, out = _cli(capsys, srv, "make-schema", str(orig_file))
    assert rc == 0
    schema_file = tmp_path / "schema.js"
    schema_file.write_text(out)

    # eval schema.js ; eval original.js
    rc, _ = _cli(capsys, srv, "eval", str(schema_file))
    assert rc == 0
    rc, _ = _cli(capsys, srv, "eval", str(orig_file))
    assert rc == 0

    # search this | diff expected0.js
    rc, out = _cli(capsys, srv, "search", "--limit", "20", "this")
    assert rc == 0
    assert json.loads(out) == EXPECTED[0]

    # eval update{,2,3}.js, re-searching after each
    for i, upd in enumerate(UPDATES, start=1):
        f = tmp_path / f"update{i}.js"
        f.write_text(json.dumps(upd))
        rc, _ = _cli(capsys, srv, "eval", str(f))
        assert rc == 0
        rc, out = _cli(capsys, srv, "search", "--limit", "20", "this")
        assert rc == 0
        assert json.loads(out) == EXPECTED[i], f"mismatch after update{i}"
