"""Insert-time incremental stats maintenance: after a disjoint insert,
the merged stats artifacts must be BITWISE-identical to a full
recompute over all postings (O(batch + vocab) vs O(corpus) — the
scale-critical difference; at 10^12 docs a full-corpus re-aggregation
per insert batch is the bottleneck). Also pins the freshness gate: a
stale-stats catalog (streaming-style refresh_stats=False insert) falls
back to the full path and still ends exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import (
    BuildConfig,
    context_stats,
    term_stats,
    term_totals,
)
from hunt_spark.sources.corpus import CORPUS_SCHEMA, corpus_pandas


@pytest.fixture()
def eng(spark, tmp_path_factory):
    e = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("inc_idx")),
        BuildConfig(n_shards=4, salt_buckets=2),
    )
    docs = spark.createDataFrame(corpus_pandas(100), schema=CORPUS_SCHEMA)
    e.build(docs, {"text": F.col("text")}, build_id="inc")
    return e


def _batch(spark, start: int, n: int):
    pdf = corpus_pandas(start + n).iloc[start:]
    return spark.createDataFrame(pdf, schema=CORPUS_SCHEMA)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_stats_equal_full_recompute(eng):
    """Stored stats artifacts == recompute from the live postings,
    value-for-value including the avg_dl doubles (no tolerance)."""
    p = eng._postings()
    got_cs = eng.catalog.read(eng.spark, "context_stats")
    got_ts = eng.catalog.read(eng.spark, "term_stats")
    got_tt = eng.catalog.read(eng.spark, "term_totals")
    assert _rows(got_cs, ["context", "n_docs", "avg_dl"]) == _rows(
        context_stats(p), ["context", "n_docs", "avg_dl"]
    )
    assert _rows(got_ts, ["context", "term_lc", "df", "max_tf"]) == _rows(
        term_stats(p), ["context", "term_lc", "df", "max_tf"]
    )
    assert _rows(got_tt, ["context", "term", "term_lc", "sum_tf"]) == _rows(
        term_totals(p), ["context", "term", "term_lc", "sum_tf"]
    )


def test_incremental_insert_stats_bitwise_exact(spark, eng):
    assert eng._derived_fresh()
    eng.insert(
        _batch(spark, 100, 40), {"text": F.col("text")}
    )  # takes the incremental path (fresh stats + disjoint URIs)
    _assert_stats_equal_full_recompute(eng)
    # a second stacked incremental insert stays exact
    eng.insert(_batch(spark, 140, 25), {"text": F.col("text")})
    _assert_stats_equal_full_recompute(eng)


def test_incremental_path_taken_when_fresh(spark, eng, monkeypatch):
    called = {"inc": 0, "full": 0}
    orig_inc = eng._refresh_stats_incremental
    orig_full = eng._refresh_stats
    monkeypatch.setattr(
        eng, "_refresh_stats_incremental",
        lambda p: (called.__setitem__("inc", called["inc"] + 1), orig_inc(p)),
    )
    monkeypatch.setattr(
        eng, "_refresh_stats",
        lambda: (called.__setitem__("full", called["full"] + 1), orig_full()),
    )
    eng.insert(_batch(spark, 100, 10), {"text": F.col("text")})
    assert called == {"inc": 1, "full": 0}


def test_stale_stats_fall_back_to_full(spark, eng):
    # streaming-style insert leaves stats stale…
    eng.insert(
        _batch(spark, 100, 10), {"text": F.col("text")}, refresh_stats=False
    )
    assert not eng._derived_fresh()
    # …so the next stats-refreshing insert must use the full path and
    # land exact anyway
    eng.insert(_batch(spark, 110, 10), {"text": F.col("text")})
    _assert_stats_equal_full_recompute(eng)
    assert eng._derived_fresh()


def test_incremental_stats_serve_identical_bm25(spark, eng):
    eng.insert(_batch(spark, 100, 30), {"text": F.col("text")})
    inc = [
        (r["doc_id"], r["score"]) for r in eng.search("'the'", k=10).collect()
    ]
    eng._refresh_stats()  # force a full recompute over the same corpus
    full = [
        (r["doc_id"], r["score"]) for r in eng.search("'the'", k=10).collect()
    ]
    assert inc == full


def test_unvalidated_insert_takes_full_path_and_stays_exact(
    spark, eng, monkeypatch
):
    """Regression (ADVICE r5 medium): the incremental merge assumes the
    batch is doc_id-disjoint from the live set, but only
    validate_uris=True PROVES that — an unvalidated re-insert of an
    already-indexed URI would double-count df/n_docs on the fast path.
    Unvalidated inserts must take the full recompute, which counts the
    duplicated postings the same way any later full recompute would."""
    called = {"inc": 0, "full": 0}
    orig_inc = eng._refresh_stats_incremental
    orig_full = eng._refresh_stats
    monkeypatch.setattr(
        eng, "_refresh_stats_incremental",
        lambda p: (called.__setitem__("inc", called["inc"] + 1), orig_inc(p)),
    )
    monkeypatch.setattr(
        eng, "_refresh_stats",
        lambda: (called.__setitem__("full", called["full"] + 1), orig_full()),
    )
    assert eng._derived_fresh()
    # re-insert docs 0..9 — already indexed by the fixture's build
    eng.insert(_batch(spark, 0, 10), {"text": F.col("text")},
               validate_uris=False)
    assert called == {"inc": 0, "full": 1}
    _assert_stats_equal_full_recompute(eng)
