"""StoreIx/LoadIx round-trip contracts (BasicCommand.hs:30-79):
layout config survives the export, commit order survives the manifest
rewrite (so the WAND staleness gate stays open on loaded indexes), and
a foreign catalog with an incompatible shard layout fails loudly
instead of serving silently-wrong shard-pruned lookups."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.sources.corpus import CORPUS_SCHEMA, corpus_pandas


@pytest.fixture()
def built(spark, tmp_path_factory):
    e = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("sl_idx")),
        BuildConfig(n_shards=4, salt_buckets=2, block_size=256),
    )
    docs = spark.createDataFrame(corpus_pandas(120), schema=CORPUS_SCHEMA)
    e.build(docs, {"text": F.col("text")}, build_id="sl")
    return e


def test_export_preserves_commit_order_and_wand(built, spark, tmp_path_factory):
    export = str(tmp_path_factory.mktemp("sl_export") / "ix")
    built.store_index(export)
    # the exported manifest must keep original seq order: grouped-by-
    # table-name would put blocks before postings and permanently close
    # the WAND gate on every load
    with open(os.path.join(export, "_snapshots.jsonl")) as f:
        tables = [json.loads(line)["table"] for line in f if line.strip()]
    i_post = max(i for i, t in enumerate(tables) if t == "postings")
    i_blk = max(i for i, t in enumerate(tables) if t == "blocks")
    assert i_post < i_blk
    built.load_index(export)
    assert built.wand() is not None, built._wand_unavailable


def test_load_restores_layout_config(built, spark, tmp_path_factory):
    export = str(tmp_path_factory.mktemp("sl_export2") / "ix")
    built.store_index(export)
    # exports from builds that also wrote a front-coded term_dict carry
    # a build_term_dict key: they still load, and the key is ignored
    meta_path = os.path.join(export, "_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    with open(meta_path, "w") as f:
        json.dump({**meta, "build_term_dict": True}, f)
    before = [r["url"] for r in built.search("!brain", k=5).collect()]
    # a fresh engine configured with a DIFFERENT shard count must pick
    # up the exported layout (exact-word lookups prune by
    # pmod(xxhash64(term), n_shards) — wrong n_shards = wrong shard =
    # silently empty results)
    other = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("sl_other")),
        BuildConfig(n_shards=16, salt_buckets=2),
    )
    other.load_index(export)
    assert other.cfg.n_shards == 4
    assert not hasattr(other.cfg, "build_term_dict")
    got = [r["url"] for r in other.search("!brain", k=5).collect()]
    assert got == before and got




def _strip_manifest_meta(export: str) -> None:
    """Make a catalog 'truly legacy': drop the layout meta that build
    commits now record in the manifest (and that load_index prefers
    over the directory heuristic)."""
    mp = os.path.join(export, "_snapshots.jsonl")
    with open(mp) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    for e in entries:
        e.pop("meta", None)
    with open(mp, "w") as f:
        for e in entries:
            f.write(json.dumps(e) + "\n")

def test_load_without_meta_rejects_shard_mismatch(built, spark, tmp_path_factory):
    # truly legacy catalog: neither _index_meta.json nor manifest-level
    # layout meta (a catalog with either self-heals instead of failing)
    export = str(tmp_path_factory.mktemp("sl_export3") / "ix")
    built.store_index(export)
    os.remove(os.path.join(export, "_index_meta.json"))
    _strip_manifest_meta(export)
    other = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("sl_other2")),
        BuildConfig(n_shards=2, salt_buckets=2),
    )
    with pytest.raises(ValueError, match="n_shards"):
        other.load_index(export)
    # ...but a matching config loads fine without the meta file
    ok = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("sl_other3")),
        BuildConfig(n_shards=4, salt_buckets=2),
    )
    ok.load_index(export)
    assert ok.search("!brain", k=1).collect()


def test_server_load_mismatch_is_409(built, spark, tmp_path_factory):
    import json as _json
    import urllib.error
    import urllib.request

    from hunt_spark.server import HuntServer

    export = str(tmp_path_factory.mktemp("sl_export4") / "ix")
    built.store_index(export)
    os.remove(os.path.join(export, "_index_meta.json"))
    _strip_manifest_meta(export)
    other = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("sl_srv")),
        BuildConfig(n_shards=2, salt_buckets=2),
    )
    docs = spark.createDataFrame(corpus_pandas(10), schema=CORPUS_SCHEMA)
    other.build(docs, {"text": F.col("text")}, build_id="srv")
    srv = HuntServer(other).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/eval",
            data=_json.dumps({"cmd": "load", "path": export}).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 409
    finally:
        srv.shutdown()


def test_load_build_catalog_restores_n_shards_from_manifest(
    spark, tmp_path_factory
):
    """A direct build catalog (no _index_meta.json — only store_index
    writes that) records n_shards on its postings commits; load_index
    must restore it in BOTH directions. Before the manifest meta, a
    4-shard catalog under a 16-shard engine loaded silently and exact
    lookups pruned to empty shards for ~3/4 of terms."""
    root = str(tmp_path_factory.mktemp("nb_idx"))
    builder = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    docs = spark.createDataFrame(corpus_pandas(60), schema=CORPUS_SCHEMA)
    builder.build(docs, {"text": F.col("text")}, build_id="nb")
    expect = {r["doc_id"] for r in builder.select("'pinky'").collect()}
    assert expect

    other = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("nb_other")),
        BuildConfig(n_shards=16, salt_buckets=2),
    )
    other.load_index(root)
    assert other.cfg.n_shards == 4
    assert {r["doc_id"] for r in other.select("'pinky'").collect()} == expect


def test_load_resets_per_context_schema_config(spark, tmp_path_factory):
    """All five schema-backed cfg dicts must re-seed from the LOADED
    catalog: _sync_cfg_from_schema seeds with setdefault, so a stale
    normalizer chain / regex from the previous catalog would override
    the loaded schema (uppercased query constants against an index
    whose terms were never uppercased -> empty results; corrupted
    postings on subsequent inserts)."""
    root_b = str(tmp_path_factory.mktemp("plain_idx"))
    plain = HuntEngine(spark, root_b, BuildConfig(n_shards=4, salt_buckets=2))
    docs = spark.createDataFrame(corpus_pandas(60), schema=CORPUS_SCHEMA)
    plain.build(docs, {"text": F.col("text")}, build_id="plain")
    expect = {r["doc_id"] for r in plain.select("'pinky'").collect()}
    assert expect

    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("norm_idx")),
        BuildConfig(
            n_shards=4,
            salt_buckets=2,
            context_normalizers={"text": ["UpperCase"]},
            context_regexes={"text": r"[a-z]+"},
        ),
    )
    eng.build(docs, {"text": F.col("text")}, build_id="norm")
    eng.load_index(root_b)
    eng.compiler()  # re-seeds cfg from the loaded schema
    assert eng.cfg.context_normalizers == {}
    assert eng.cfg.context_regexes == {}
    assert {r["doc_id"] for r in eng.select("'pinky'").collect()} == expect
