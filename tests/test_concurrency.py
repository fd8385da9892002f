"""Mutation serialization under concurrent callers (the reference
interpreter's MVar on the ContextIndex): the HTTP server dispatches on
many threads, so mutating verbs must not race the duplicate-URI
validation or interleave manifest appends."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.sources.corpus import CORPUS_SCHEMA, corpus_pandas


@pytest.fixture()
def eng(spark, tmp_path_factory):
    e = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("conc_idx")),
        BuildConfig(n_shards=4, salt_buckets=2, build_blocks=False),
    )
    docs = spark.createDataFrame(corpus_pandas(40), schema=CORPUS_SCHEMA)
    e.build(docs, {"text": F.col("text")}, build_id="c")
    return e


def test_concurrent_distinct_inserts(spark, eng):
    def ins(i: int):
        d = spark.createDataFrame(
            [(f"conc://d{i}", f"uniqterm{i} filler words")],
            "url string, text string",
        )
        eng.insert(d, {"text": F.col("text")})

    with ThreadPoolExecutor(4) as ex:
        list(ex.map(ins, range(6)))
    # commit log intact and every doc searchable
    assert eng.catalog.snapshots()
    for i in range(6):
        assert eng.search(f"'uniqterm{i}'", k=5).count() == 1, i


def test_concurrent_same_uri_insert_exactly_one_wins(spark, eng):
    def ins(_i: int):
        d = spark.createDataFrame(
            [("conc://same", "duplicated payload")], "url string, text string"
        )
        try:
            eng.insert(d, {"text": F.col("text")})
            return "ok"
        except ValueError:
            return "dup"

    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(ins, range(2)))
    # without the mutation lock both threads pass the already-indexed
    # check and the doc is inserted twice; with it, exactly one wins
    assert sorted(results) == ["dup", "ok"], results
    assert eng.search("'duplicated'", k=10).count() == 1


def test_cache_puts_never_outlive_an_invalidation(tmp_path):
    """Serving threads put cache entries while mutations invalidate:
    an entry derived before an invalidation must never stay cached
    after it. Each put stores the generation it started at, so after
    the last invalidation every cached value must equal the current
    generation."""
    import sys
    import threading

    eng = HuntEngine(None, str(tmp_path / "cat"))
    stop = threading.Event()

    def reader(tid: int) -> None:
        i = 0
        while not stop.is_set():
            gen = eng._gen
            eng._cache_put(eng._plan_cache, (tid, i % 300), gen, gen)
            eng._plan_cache.get((tid, (i * 7) % 300))
            i += 1

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for _ in range(300):
            eng._invalidate()
        stop.set()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert eng._gen == 300
    assert all(v == eng._gen for v in list(eng._plan_cache.values()))
