"""Maintenance verbs: Update (MERGE-style re-index), field selection,
WAND staleness gating across the mutation lifecycle (Hunt
Interpreter.hs:488-504 Update; :585-593 mkSelect)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.sources.corpus import CORPUS_SCHEMA, corpus_pandas


@pytest.fixture()
def eng(spark, tmp_path_factory):
    e = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("maint_idx")),
        BuildConfig(n_shards=4, salt_buckets=2),
    )
    docs = spark.createDataFrame(corpus_pandas(120), schema=CORPUS_SCHEMA)
    e.build(docs, {"text": F.col("text")}, build_id="m")
    return e


def test_update_reindexes_document(spark, eng):
    url = "https://example.org/en/doc00000000"  # planted pinky/brain doc
    before = {r["doc_id"] for r in eng.select("'pinky'").collect()}
    updated = spark.createDataFrame(
        [(url, "zebra xylophone unique content only here")],
        "url string, text string",
    )
    eng.update(updated, {"text": F.col("text")})
    # old terms of the updated doc are gone, new terms findable
    doc_id = spark.createDataFrame([(url,)], "url string").select(
        F.xxhash64("url").alias("id")
    ).first()["id"]
    after_pinky = {r["doc_id"] for r in eng.select("'pinky'").collect()}
    assert doc_id in before and doc_id not in after_pinky
    hits = {r["doc_id"] for r in eng.select("'xylophone'").collect()}
    assert hits == {doc_id}
    # doc count unchanged (replacement, not insertion)
    assert eng.doc_meta().count() == 120
    assert eng.doc_meta().filter(F.col("doc_id") == doc_id).count() == 1


def test_update_closes_wand_gate_until_compact(spark, eng):
    assert eng.wand() is not None
    updated = spark.createDataFrame(
        [("https://example.org/en/doc00000001", "fresh words")],
        "url string, text string",
    )
    eng.update(updated, {"text": F.col("text")})
    assert eng.wand() is None  # blocks predate the postings rewrite
    eng.compact()
    assert eng.wand() is not None
    w = eng.search("'the'", k=5, use_wand=True).collect()
    f = eng.search("'the'", k=5, use_wand=False).collect()
    assert [r["doc_id"] for r in w] == [r["doc_id"] for r in f]


def test_insert_closes_wand_gate(spark, eng):
    assert eng.wand() is not None
    new = spark.createDataFrame(
        corpus_pandas(5, offset=500), schema=CORPUS_SCHEMA
    )
    eng.insert(new, {"text": F.col("text")})
    assert eng.wand() is None


def test_plan_cache_serves_fresh_results_after_mutation(spark, eng):
    """The serving-path plan cache reuses logical plans across repeated
    string queries but must never serve stale results: any mutation
    invalidates it."""
    q = "'the'"
    r1 = eng.search(q, k=5).collect()
    assert (q, 5, 0, "auto", ()) in eng._plan_cache
    r2 = eng.search(q, k=5).collect()  # served from the cached plan
    assert [r["doc_id"] for r in r1] == [r["doc_id"] for r in r2]
    url = r1[0]["url"]
    eng.delete_docs([url])
    assert not eng._plan_cache  # mutation cleared it
    r3 = eng.search(q, k=5).collect()
    assert url not in {r["url"] for r in r3}


def test_insert_rejects_duplicate_and_existing_uris(spark, eng):
    """Hunt's insert validation (Interpreter.hs:421-480): duplicate
    URIs within a batch and URIs already in the index are errors —
    Update is the re-index verb."""
    import pytest

    dup = spark.createDataFrame(
        [("test://dup", "a words"), ("test://dup", "b words")],
        "url string, text string",
    )
    with pytest.raises(ValueError, match="duplicate URIs"):
        eng.insert(dup, {"text": F.col("text")})

    already = spark.createDataFrame(
        corpus_pandas(1), schema=CORPUS_SCHEMA  # doc 0 is indexed
    )
    with pytest.raises(ValueError, match="already-indexed"):
        eng.insert(already, {"text": F.col("text")})
    # validate_uris=False is the bulk/streaming escape hatch: the
    # append itself succeeds (doc replacement then happens at
    # compact/merge time in a real pipeline)
    fresh = spark.createDataFrame(
        corpus_pandas(5, offset=900), schema=CORPUS_SCHEMA
    )
    eng.insert(fresh, {"text": F.col("text")}, validate_uris=False)


def test_search_field_selection(eng):
    res = eng.search("brain", k=3, fields=["lang", "warc_ts"])
    assert res.columns == ["doc_id", "url", "score", "lang", "warc_ts"]
    rows = res.collect()
    assert rows and all(r["lang"] in ("en", "de") for r in rows)


def test_update_merges_description(spark, tmp_path_factory):
    """Golden merge semantics from the reference
    (test/Hunt/InterpreterTests.hs:479-528 via ContextIndex.hs:326-354
    modifyWithDescription): brainDoc carries {name: Brain, mission:
    take over the world, legs: 4}; updating with {name: Pinky, mission:
    ask stupid questions} yields the MERGED description — new keys win,
    untouched old keys survive. A null value deletes its key
    (DocDesc.deleteNull); an update without a weight keeps the old
    weight (updateWeight on noScore)."""
    e = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("desc_idx")),
        BuildConfig(n_shards=2, salt_buckets=1),
    )
    brain = spark.createDataFrame(
        [("test://0", "Brain",
          {"name": "Brain", "mission": "take over the world", "legs": "4"},
          2.0)],
        "url string, text string, description map<string,string>, weight double",
    )
    e.build(brain, {"default": F.col("text")}, build_id="d")

    upd = spark.createDataFrame(
        [("test://0", "Brain",
          {"name": "Pinky", "mission": "ask stupid questions"})],
        "url string, text string, description map<string,string>",
    )
    e.update(upd, {"default": F.col("text")})
    row = e.doc_meta().collect()[0]
    assert row["description"] == {
        "name": "Pinky", "mission": "ask stupid questions", "legs": "4",
    }
    assert row["weight"] == 2.0  # no weight in the update -> old kept

    # field projection pulls description keys (Hunt mkSelect)
    r = e.search("!'Brain'", k=1, fields=["mission", "legs"]).collect()[0]
    assert (r["mission"], r["legs"]) == ("ask stupid questions", "4")

    # null value deletes the key; provided weight replaces
    upd2 = spark.createDataFrame(
        [("test://0", "Brain", {"legs": None, "arms": "2"}, 5.0)],
        "url string, text string, description map<string,string>, weight double",
    )
    e.update(upd2, {"default": F.col("text")})
    row = e.doc_meta().collect()[0]
    assert row["description"] == {
        "name": "Pinky", "mission": "ask stupid questions", "arms": "2",
    }
    assert row["weight"] == 5.0

    # update may introduce a brand-new doc (Hunt Update inserts unknown
    # URIs) — it gets its own description, no old row to merge
    upd3 = spark.createDataFrame(
        [("test://1", "Pinky", {"name": "Pinky"})],
        "url string, text string, description map<string,string>",
    )
    e.update(upd3, {"default": F.col("text")})
    by_url = {r["url"]: r for r in e.doc_meta().collect()}
    assert by_url["test://1"]["description"] == {"name": "Pinky"}
    assert by_url["test://1"]["weight"] == 1.0


def test_completion_dictionary_fresh_across_mutations(spark, eng):
    # the term_totals dictionary is recommitted tombstone-filtered by
    # every mutation, so the completion fast path stays open AND exact
    assert eng._fresh_term_totals() is not None
    # delete every doc containing 'pinky'; the suggestion must vanish
    urls = [
        r["url"]
        for r in eng.search("'pinky'", k=1000).select("url").collect()
    ]
    assert urls
    eng.delete_docs(urls)
    assert eng._fresh_term_totals() is not None  # refreshed, not stale
    terms = {r["term"] for r in eng.completion("pink", k=50).collect()}
    assert "pinky" not in terms
    # insert a doc with a fresh unique term; it must appear
    new = spark.createDataFrame(
        [("cli://zz", "qqxterm qqxterm other words")],
        "url string, text string",
    )
    eng.insert(new, {"text": F.col("text")})
    assert eng._fresh_term_totals() is not None
    terms = {r["term"] for r in eng.completion("qqx", k=10).collect()}
    assert terms == {"qqxterm"}


def test_insert_tombstoned_uri_rejected_until_compact(spark, eng):
    """Re-inserting a deleted URI before compact() must fail loudly:
    doc_id = xxhash64(url), so the pending tombstone would anti-join
    the NEW postings too — the doc would be silently unsearchable while
    incremental stats counted it as live."""
    url = "https://example.org/en/doc00000002"
    eng.delete_docs([url])
    fresh = spark.createDataFrame(
        [(url, "resurrected content")], "url string, text string"
    )
    with pytest.raises(ValueError, match="tombstone"):
        eng.insert(fresh, {"text": F.col("text")})
    eng.compact()  # consumes tombstones
    eng.insert(fresh, {"text": F.col("text")})
    hits = {r["url"] for r in eng.search("'resurrected'", k=5).collect()}
    assert hits == {url}


def test_description_only_update_skips_stats_refresh(spark, eng):
    """A metadata-only update (empty context_cols) leaves postings
    untouched, so stats are provably unchanged — it must not trigger
    the O(corpus) re-aggregation (three stats commits per metadata
    edit)."""
    stats_before = len(eng.catalog.snapshots("context_stats"))
    upd = spark.createDataFrame(
        [("https://example.org/en/doc00000003", {"k": "v"})],
        "url string, description map<string,string>",
    )
    eng.update(upd, {})
    assert len(eng.catalog.snapshots("context_stats")) == stats_before
    # the metadata merge itself landed
    row = eng.doc_meta().filter(
        F.col("url") == "https://example.org/en/doc00000003"
    ).first()
    assert row["description"]["k"] == "v"


def test_update_of_deleted_uri_resurrects_document(spark, eng):
    """update() rewrites the postings base from the tombstone-filtered
    view, so it must also CONSUME tombstones — leaving one in place
    anti-joined the updated doc's fresh rows out (200 from the server,
    invisible document)."""
    url = "https://example.org/en/doc00000004"
    eng.delete_docs([url])
    eng.update(
        spark.createDataFrame(
            [(url, "phoenix content risen")], "url string, text string"
        ),
        {"text": F.col("text")},
    )
    hits = {r["url"] for r in eng.search("'phoenix'", k=5).collect()}
    assert hits == {url}
    assert eng.doc_meta().filter(F.col("url") == url).count() == 1


def test_delete_of_unknown_uri_is_noop(spark, eng):
    """Hunt's delete ignores absent docs; tombstoning an unknown URI
    would block its FIRST insert behind the pending-tombstone guard."""
    url = "https://example.org/en/never-indexed"
    before = eng.doc_meta().count()
    commits = len(eng.catalog.snapshots())
    eng.delete_docs([url])
    eng.delete_by_query("'nosuchtermxyz'")
    assert eng.doc_meta().count() == before
    # nothing matched, so nothing is committed (no empty tombstones
    # delta, no stats refresh)
    assert len(eng.catalog.snapshots()) == commits
    eng.insert(  # first insert must not be blocked
        spark.createDataFrame([(url, "fresh doc")], "url string, text string"),
        {"text": F.col("text")},
    )
    assert {r["url"] for r in eng.search("'fresh'", k=5).collect()} == {url}


def test_insert_description_only_document(spark, eng):
    """A description-only ApiDocument (empty index map — legal in the
    reference) lands metadata without postings; the old path crashed
    on per_cx[0]."""
    url = "https://example.org/en/desc-only"
    docs = spark.createDataFrame(
        [(url, {"k": "v"})], "url string, description map<string,string>"
    )
    eng.insert(docs, {})
    row = eng.doc_meta().filter(F.col("url") == url).first()
    assert row is not None and row["description"]["k"] == "v"


def test_update_does_not_resurrect_deleted_docs(spark, eng):
    """Regression (ADVICE r5 high): update() used to clear the consumed
    tombstones BEFORE rewriting doc_meta — catalog reads pin snapshot
    paths at construction, so the doc_meta rewrite anti-joined against
    an already-emptied tombstone set and resurrected every previously
    deleted document's metadata (postings-less phantom rows whose URIs
    then permanently rejected insert with 'already-indexed URI(s)')."""
    dead = "https://example.org/en/doc00000007"
    other = "https://example.org/en/doc00000008"
    eng.delete_docs([dead])
    assert eng.doc_meta().filter(F.col("url") == dead).count() == 0
    eng.update(
        spark.createDataFrame(
            [(other, "unrelated refreshed content")], "url string, text string"
        ),
        {"text": F.col("text")},
    )
    # the deleted doc must NOT reappear in doc_meta...
    assert eng.doc_meta().filter(F.col("url") == dead).count() == 0
    # ...and its URI must be insertable again (tombstone was consumed
    # by the update's postings rewrite, metadata stayed dead)
    eng.insert(
        spark.createDataFrame(
            [(dead, "lazarus walks anew")], "url string, text string"
        ),
        {"text": F.col("text")},
    )
    assert {r["url"] for r in eng.search("'lazarus'", k=5).collect()} == {dead}
    assert eng.doc_meta().filter(F.col("url") == dead).count() == 1


def test_mutated_then_compacted_derived_tables_equal_fresh_build(
    spark, tmp_path_factory
):
    """build, refresh, incremental insert and compact derive the stats
    and blocks tables through one declaration: after an insert, a delete
    and compact(), every derived table equals row for row what a fresh
    build of the surviving docs commits."""
    cfg = dict(n_shards=2, salt_buckets=1, block_size=8)
    base, batch = corpus_pandas(60), corpus_pandas(10, offset=60)
    gone = [base.url[3], base.url[17], batch.url[4]]
    e = HuntEngine(spark, str(tmp_path_factory.mktemp("derived_a")),
                   BuildConfig(**cfg))
    e.build(spark.createDataFrame(base, schema=CORPUS_SCHEMA),
            {"text": F.col("text")}, build_id="a")
    e.insert(spark.createDataFrame(batch, schema=CORPUS_SCHEMA),
             {"text": F.col("text")})
    e.delete_docs(gone)
    e.compact()

    live = pd.concat([base, batch], ignore_index=True)
    live = live[~live.url.isin(gone)]
    fresh = HuntEngine(spark, str(tmp_path_factory.mktemp("derived_b")),
                       BuildConfig(**cfg))
    fresh.build(spark.createDataFrame(live, schema=CORPUS_SCHEMA),
                {"text": F.col("text")}, build_id="b")

    keys = {
        "context_stats": ["context"],
        "term_stats": ["context", "term_lc"],
        "term_totals": ["context", "term"],
        "blocks": ["context", "term_lc", "block_id"],
    }

    def rows(eng, table, key):
        out = [r.asDict() for r in eng.catalog.read(spark, table).collect()]
        return sorted(out, key=lambda d: [d[k] for k in key])

    for table, key in keys.items():
        want = rows(fresh, table, key)
        assert want and rows(e, table, key) == want, table
