"""The WAND scorer: rank- and score-identity vs the full plan.

Mirrors the reference's guarantee that its bounded-priority-queue top-k
(hunt: Data/LimitedPriorityQueue.hs:43-101) returns exactly the global
best k — here the blocks-decoded scores must reproduce the full plan's
ranking bit-for-bit on doc ids, ties included, and its scores.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.plans.parser import parse_query
from hunt_spark.plans.wand import compile_wand
from hunt_spark.sources.corpus import corpus_df

K = 10

WAND_QUERIES = [
    "'brain'",
    "'the' OR 'brain' OR 'pinky'",   # left-nested parser chain flattens
    "'the' 'and' 'new' AND 'york'",
    "'the'",                      # hottest term, most blocks
    "'brain' 'pinky'",            # AND
    "'the' 'and' 'of'",           # hot-term AND
    "'cat' OR 'dog'",
    "'the' OR 'brain'",
    "'brain'^2.5 OR 'pinky'",
    "!'Brain'",                   # case-sensitive exact word
    "'nosuchtermxyz'",            # empty result
    "'nosuchtermxyz' OR 'brain'",
]

NON_WAND = ["bra", '"pinky and the brain"', "[ba TO bd]", "cat AND NOT dog"]


@pytest.fixture(scope="module")
def wand_engine(spark, tmp_path_factory):
    """Single-context index with tiny blocks, so terms span several."""
    root = str(tmp_path_factory.mktemp("wand_index"))
    eng = HuntEngine(
        spark, root, BuildConfig(n_shards=4, salt_buckets=2, block_size=64)
    )
    docs = corpus_df(spark, 400, partitions=4)
    eng.build(docs, {"text": F.col("text")}, build_id="wand_test")
    return eng


def test_compile_wand_shapes():
    assert compile_wand(parse_query("'a' 'b'"))[0] == "and"
    assert compile_wand(parse_query("'a' OR 'b'"))[0] == "or"
    op, legs = compile_wand(parse_query("'a'^3 OR 'b'"))
    assert op == "or" and legs[0].boost == 3.0
    for q in NON_WAND:
        assert compile_wand(parse_query(q)) is None


@pytest.mark.parametrize("q", WAND_QUERIES)
def test_wand_matches_full_plan(wand_engine, q):
    full = wand_engine.search(q, k=K, use_wand=False).collect()
    pruned = wand_engine.search(q, k=K, use_wand=True).collect()
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in full]
    for a, b in zip(pruned, full):
        assert math.isclose(a["score"], b["score"], rel_tol=0, abs_tol=1e-9)


def test_wand_fallback_on_multi_context(engine):
    # session engine has two contexts -> gate must route to the full plan
    assert engine.wand() is None
    res = engine.search("'brain' OR 'pinky'", k=K)  # auto falls back
    assert res.columns == ["doc_id", "url", "score"]


def test_wand_rejects_unshaped_when_forced(wand_engine):
    with pytest.raises(ValueError):
        wand_engine.search('"pinky and the brain"', k=K, use_wand=True)


def test_wand_forced_names_gate_reason_when_unavailable(
    engine, wand_engine, monkeypatch
):
    # WAND-able shape, but the session engine's gate is closed
    # (multi-context index): the error must say why, not claim the
    # query shape is wrong
    with pytest.raises(RuntimeError, match="WAND unavailable: multi-context"):
        engine.search("'brain' OR 'pinky'", k=K, use_wand=True)
    # an open gate, but the terms hold more postings than the driver
    # decodes: the error names the bound
    import hunt_spark.plans.wand as wand_mod

    monkeypatch.setattr(wand_mod, "DRIVER_POSTINGS", 0)
    wand_engine._plan_cache.clear()
    with pytest.raises(
        RuntimeError, match="WAND unavailable: .*DRIVER_POSTINGS = 0 postings"
    ):
        wand_engine.search("'brain'", k=K, use_wand=True)


def test_xxhash64_driver_twin_matches_jvm(spark):
    """Shard pruning relies on a driver-side xxhash64 twin; pin parity
    with Spark's expression over representative lengths (tail paths:
    0/4/1-byte; word path; 32-byte stripes) and non-ASCII."""
    from hunt_spark.functions.xxh64 import spark_xxhash64

    words = ["", "a", "abc", "brain", "pinky", "12345678", "x" * 15,
             "y" * 31, "z" * 32, "w" * 100, "heiß-über-straße", "漢字"]
    got = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(w,) for w in words], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    }
    for w in words:
        assert got[w] == spark_xxhash64(w), w


def test_wand_scores_bit_identical_to_full_plan(spark, tmp_path_factory):
    """Scores through WAND equal the full plan's with ==, not to 1e-9:
    the decode takes idf from StrictMath.log (Spark's ``ln``) and
    multiplies (sim * idf) * tf_norm like compiler._scan. At N = 150
    numpy's log differs from StrictMath.log in the last bit for df = 9
    and df = 20, and 'Zeta' is a case variant scored with sim = 0.75,
    where (idf * tf_norm) * sim rounds differently for some docs."""
    n, df_zeta, df_alpha = 150, 9, 20

    def text(i):
        words = ["filler"] * (1 + i % 5)
        if i < df_zeta:
            words += ["Zeta" if i % 3 == 0 else "zeta"] * (1 + i % 4)
        if i % 7 == 0 and i < 7 * df_alpha:
            words += ["alpha"] * (1 + i % 3)
        return " ".join(words)

    docs = spark.createDataFrame(
        [(f"https://example.org/bits/{i:03d}", text(i)) for i in range(n)],
        "url string, text string",
    )
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("wand_bits")),
        BuildConfig(n_shards=2, salt_buckets=1),
    )
    eng.build(docs, {"text": F.col("text")}, build_id="bits")
    assert eng.wand() is not None
    for q in ("'zeta'", "'zeta' OR 'alpha'", "'Zeta'^2 'alpha'"):
        full = eng.search(q, k=n, use_wand=False).collect()
        pruned = eng.search(q, k=n, use_wand=True).collect()
        assert full, q
        assert [(r["doc_id"], r["score"]) for r in pruned] == [
            (r["doc_id"], r["score"]) for r in full
        ], q


TIE_DOCS = 300


@pytest.fixture(scope="module")
def tie_engine(spark, tmp_path_factory):
    """Doc i holds w0..w7 with tf 1 + (i + j) % 3 and a word of its own,
    so the docs fall in three classes of 100 with equal tf vectors and
    lengths, whose scores are equal: the page is decided by url."""
    def text(i):
        words = []
        for j in range(8):
            words += [f"w{j}"] * (1 + (i + j) % 3)
        return " ".join(words + [f"own{i:03d}"])

    docs = spark.createDataFrame(
        [(f"https://example.org/tie8/{i:03d}", text(i)) for i in range(TIE_DOCS)],
        "url string, text string",
    )
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("tie8")),
        BuildConfig(n_shards=2, salt_buckets=1, block_size=64),
    )
    eng.build(docs, {"text": F.col("text")}, build_id="tie8")
    return eng


@pytest.mark.parametrize("n_terms", [3, 8])
def test_wand_ties_ranked_by_url(tie_engine, n_terms):
    """Every route gives the best class's first K urls. The classes are
    ranked here in Python; within one, the order is the url's alone, so
    no float summation order is involved in the expected page."""
    from hunt_spark.operators.build import BM25_B, BM25_K1

    def tfs(i):
        return [1 + (i + j) % 3 for j in range(n_terms)]

    def dl(i):
        return sum(1 + (i + j) % 3 for j in range(8)) + 1

    avg_dl = sum(dl(i) for i in range(TIE_DOCS)) / TIE_DOCS
    # every w_j is in every doc: one idf for all terms, left out
    klass = {
        c: sum(tf * (BM25_K1 + 1) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl(c) / avg_dl))
               for tf in tfs(c))
        for c in range(3)
    }
    best, second = sorted(klass.values(), reverse=True)[:2]
    assert best - second > 1e-6 * best
    top = max(klass, key=klass.get)
    want = [f"https://example.org/tie8/{i:03d}"
            for i in range(TIE_DOCS) if i % 3 == top][:K]
    q = " OR ".join(f"'w{j}'" for j in range(n_terms))
    for use_wand in (True, False):
        got = tie_engine.search(q, k=K, use_wand=use_wand).collect()
        assert [r["url"] for r in got] == want, use_wand
    rows, total = tie_engine.search_page(q, k=K)
    assert [r["url"] for r in rows] == want and total == TIE_DOCS


def _page_matches_full_plan(eng, q):
    rows, total = eng.search_page(q, k=K)
    full = eng.search(q, k=K, use_wand=False).collect()
    assert [(r["doc_id"], r["url"]) for r in rows] == [
        (r["doc_id"], r["url"]) for r in full
    ], q
    for a, b in zip(rows, full):
        assert math.isclose(a["score"], b["score"], rel_tol=0, abs_tol=1e-9)
    assert total == eng.select(q).count(), q


@pytest.mark.parametrize("q", WAND_QUERIES)
def test_search_page_routes_match_full_plan(wand_engine, q, monkeypatch):
    """search_page answers WAND-shaped queries on the driver, building
    no plan; with the postings cap at 0 the same requests run the full
    plan. Both routes give the full plan's page and its exact total."""
    import hunt_spark.plans.wand as wand_mod

    key = (q, K, 0, "auto", ())
    wand_engine._plan_cache.pop(key, None)
    _page_matches_full_plan(wand_engine, q)
    assert key not in wand_engine._plan_cache
    decoded = wand_engine.wand().last_stats["postings_decoded"]
    monkeypatch.setattr(wand_mod, "DRIVER_POSTINGS", 0)
    _page_matches_full_plan(wand_engine, q)
    # a query without postings stays on the driver
    assert (key in wand_engine._plan_cache) == (decoded > 0)


def test_last_stats_is_per_thread(wand_engine):
    import threading

    wx = wand_engine.wand()
    op, legs = compile_wand(parse_query("'brain'"))
    wx.topk_candidates(op, legs, ("text",))
    mine = wx.last_stats
    seen = []
    t = threading.Thread(target=lambda: seen.append(wx.last_stats))
    t.start()
    t.join()
    assert seen == [None]
    assert mine["postings_decoded"] > 0 and mine["blocks_read"] > 0


def test_cache_put_skipped_after_concurrent_mutation(wand_engine, monkeypatch):
    """A plan, frame or count derived before a mutation must not be
    cached after it: the generation the request started with moved."""
    eng = wand_engine
    q = "'brain' AND NOT 'pinky'"
    plan, scored = HuntEngine._search_plan, HuntEngine._scored

    def plan_then_mutation(self, *a, **kw):
        res = plan(self, *a, **kw)
        self._invalidate()
        return res

    def scored_then_mutation(self, *a, **kw):
        res = scored(self, *a, **kw)
        self._invalidate()
        return res

    monkeypatch.setattr(HuntEngine, "_search_plan", plan_then_mutation)
    eng.search(q, k=K)
    assert not eng._plan_cache and not eng._frame_cache
    monkeypatch.setattr(HuntEngine, "_search_plan", plan)
    monkeypatch.setattr(HuntEngine, "_scored", scored_then_mutation)
    eng.search_count(q)
    assert not eng._count_cache and not eng._frame_cache
    monkeypatch.setattr(HuntEngine, "_scored", scored)
    n = eng.search_count(q)
    assert eng._count_cache == {q: n} and q in eng._frame_cache


@pytest.fixture(scope="module")
def ties_server(spark, tmp_path_factory):
    """A single-context index served over HTTP, whose docs all weigh
    2.0 (uniform, so WAND stays open) and carry a description: 'alpha'
    scores ten docs equally, below four docs that hold it twice."""
    from hunt_spark.server import HuntServer

    docs = [
        (f"https://example.org/tie/{i:02d}", "alpha beta" if i < 10 else
         "alpha alpha beta" if i < 14 else "beta gamma", 2.0,
         {"author": f"a{i}", "stars": str(i % 5)})
        for i in range(20)
    ]
    df = spark.createDataFrame(
        docs,
        "url string, text string, weight double, "
        "description map<string, string>",
    )
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("ties")),
        BuildConfig(n_shards=2, salt_buckets=1),
    )
    eng.build(df, {"text": F.col("text")}, build_id="ties")
    srv = HuntServer(eng).start()
    yield srv
    srv.shutdown()


def _http(srv, path, body=None):
    import json
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=None if body is None else json.dumps(body).encode(),
        method="GET" if body is None else "POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_http_driver_route_ties_offset_weight_fields(ties_server):
    from urllib.parse import quote

    eng = ties_server.engine
    q = "'alpha'"
    full = eng.search(q, k=20, use_wand=False, fields=["weight"]).collect()
    assert len(full) == 14 and full[4]["score"] == full[13]["score"]
    eng._plan_cache.clear()
    # the 6th result is the 2nd of ten docs tied on score: url decides
    page = _http(ties_server, f"/search/{quote(q)}?offset=3&limit=3")
    assert [r["uri"] for r in page["result"]] == [r["url"] for r in full[3:6]]
    assert page["count"] == 14
    for got, want in zip(page["result"], full[3:6]):
        assert got["score"] == pytest.approx(want["score"], abs=1e-12)
        i = int(want["url"][-2:])
        assert got["description"] == {"author": f"a{i}", "stars": str(i % 5)}
    # offset past the total: an empty page with the true count
    page = _http(ties_server, f"/search/{quote(q)}?offset=30&limit=5")
    assert page["result"] == [] and page["count"] == 14
    # /weight projects the doc weight; the scores already carry it
    page = _http(ties_server, f"/weight/{quote(q)}")
    assert [r["uri"] for r in page["result"]] == [r["url"] for r in full]
    assert all(r["weight"] == 2.0 for r in page["result"])
    # description projection keeps only the asked-for keys
    res = _http(ties_server, "/eval", {"cmd": "search", "query": q, "max": 2,
                                       "fields": ["author"]})["res"]
    assert [r["description"] for r in res["result"]] == [
        {"author": "a" + str(int(r["url"][-2:]))} for r in full[:2]
    ]
    # an unknown term matches nothing
    page = _http(ties_server, "/search/" + quote("'nosuchterm'"))
    assert page["result"] == [] and page["count"] == 0
    # every one of these ran on the driver: no plan was built
    assert not eng._plan_cache


def test_driver_route_on_emptied_index(spark, tmp_path_factory):
    """Deleting every doc and compacting leaves empty doc_meta and
    blocks snapshots and the WAND gate open: the driver route answers
    the full plan's empty page with count 0, also when the doc_meta
    snapshot holds no data file at all (the state IndexCatalog.read
    rebuilds from the recorded schema)."""
    import glob
    import os

    docs = spark.createDataFrame(
        [(f"https://example.org/gone/{i}", "alpha beta", {"author": f"a{i}"})
         for i in range(6)],
        "url string, text string, description map<string, string>",
    )
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("emptied")),
        BuildConfig(n_shards=2, salt_buckets=1),
    )
    eng.build(docs, {"text": F.col("text")}, build_id="emptied")
    eng.delete_docs([f"https://example.org/gone/{i}" for i in range(6)])
    eng.compact()
    for drop_files in (False, True):
        if drop_files:
            for e in eng.catalog.current_entries("doc_meta"):
                for f in glob.glob(os.path.join(e["path"], "*.parquet")):
                    os.remove(f)
            eng._invalidate()
        assert eng.wand() is not None
        assert eng.search_page("'alpha'", k=K) == ([], 0)
        assert eng.search_page("'alpha'", k=K, fields=["description"]) == ([], 0)
        assert eng.wand().last_stats == {"blocks_read": 0, "postings_decoded": 0}
        assert not eng._plan_cache  # the driver route built no plan
        assert eng.search("'alpha'", k=K, use_wand=False).collect() == []


def test_wand_closed_on_typed_context(spark, tmp_path_factory):
    """An int context stores zero-filled keys: the full plan normalizes
    the query word, the WAND legs would look up '2005' as typed and
    find nothing, so the gate stays closed and auto-routing finds it."""
    rows = [(f"u{y}", str(y)) for y in (2000, 2005, 2010)]
    eng = HuntEngine(
        spark, str(tmp_path_factory.mktemp("typed_wand")),
        BuildConfig(n_shards=2, salt_buckets=1, context_types={"year": "int"}),
    )
    eng.build(spark.createDataFrame(rows, "url string, year string"),
              {"year": F.col("year")}, build_id="typed")
    assert eng.wand() is None
    assert eng._wand_unavailable == "context normalizes query words"
    rows, total = eng.search_page("'2005'", k=K)
    assert [r["url"] for r in rows] == ["u2005"] and total == 1
