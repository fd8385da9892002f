"""Snapshot catalog semantics: stage-keyed resume, pinned reads
(VERSION AS OF), lineage metrics, tombstone/compact lifecycle —
the Spark analogue of Hunt's gen_N generations + RevSpec pinning
(Hunt/SegmentIndex.hs:94-113, Open.hs:80-108)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig
from hunt_spark.sources.catalog import IndexCatalog
from hunt_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_df(spark, 200, partitions=4)


def test_rerun_same_build_id_skips_all_stages(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_full"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    cxs = {"text": F.col("text")}
    first = eng.build(docs, cxs, build_id="b1")
    n_snaps = len(eng.catalog.snapshots())
    second = eng.build(docs, cxs, build_id="b1")
    # no new snapshots; every stage returned the committed entry
    assert len(eng.catalog.snapshots()) == n_snaps
    for stage, entry in second.items():
        assert entry["snapshot_id"] == first[stage]["snapshot_id"], stage


def test_interrupted_build_resumes_midway(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_partial"))
    cxs = {"text": F.col("text")}
    # phase 1: crash before the blocks stage (simulated by a config
    # that stops after stats)
    eng1 = HuntEngine(
        spark, root, BuildConfig(n_shards=4, salt_buckets=2, build_blocks=False)
    )
    partial = eng1.build(docs, cxs, build_id="b2")
    assert "blocks" not in partial
    postings_snap = partial["postings"]["snapshot_id"]
    # phase 2: restart with the full config and the same build id
    eng2 = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    full = eng2.build(docs, cxs, build_id="b2")
    assert full["postings"]["snapshot_id"] == postings_snap  # not rebuilt
    assert "blocks" in full
    assert eng2.search("brain", k=5).count() > 0


def test_new_build_id_rebuilds(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_newid"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    cxs = {"text": F.col("text")}
    a = eng.build(docs, cxs, build_id="in1")
    b = eng.build(docs, cxs, build_id="in2")
    assert a["postings"]["snapshot_id"] != b["postings"]["snapshot_id"]


def test_pinned_snapshot_read(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pinned"))
    cat = IndexCatalog(root)
    d1 = spark.createDataFrame([(1, "a")], "id long, v string")
    d2 = spark.createDataFrame([(2, "b")], "id long, v string")
    e1 = cat.commit(d1, "t", "s1")
    cat.commit(d2, "t", "s2")
    assert [r["v"] for r in cat.read(spark, "t").collect()] == ["b"]
    pinned = cat.read(spark, "t", pinned_snapshot=e1["snapshot_id"])
    assert [r["v"] for r in pinned.collect()] == ["a"]


def test_lineage_metrics_recorded(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lineage"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    eng.build(docs, {"text": F.col("text")}, build_id="lin")
    for e in eng.catalog.snapshots("postings"):
        assert e["wall_ms"] >= 0
        parts = e["lineage"]
        assert len(parts) >= 1
        assert sum(p["rows"] for p in parts) > 0
        assert all(p["bytes"] > 0 for p in parts)
        # partitioned layout: per-(context, shard) directories
        assert any("shard=" in p["partition"] for p in parts)


def test_delete_compact_cycle(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compact"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    eng.build(docs, {"text": F.col("text")}, build_id="c1")
    before = eng.search("brain", k=5, use_wand=False).collect()
    victim = before[0]
    eng.delete_docs([victim["url"]])
    after = eng.search("brain", k=5, use_wand=False).collect()
    assert victim["doc_id"] not in [r["doc_id"] for r in after]
    eng.compact()
    # tombstones consumed; results unchanged by compaction
    assert eng.catalog.read(spark, "tombstones").count() == 0
    compacted = eng.search("brain", k=5, use_wand=False).collect()
    assert [r["doc_id"] for r in compacted] == [r["doc_id"] for r in after]
    for x, y in zip(compacted, after):
        assert math.isclose(x["score"], y["score"], rel_tol=0, abs_tol=1e-9)
    # the WAND gate reopens after compaction, against REBUILT blocks —
    # the deleted doc must not resurface and scores must match the
    # compacted full plan
    assert eng.wand() is not None
    wand = eng.search("'brain'", k=5, use_wand=True).collect()
    full = eng.search("'brain'", k=5, use_wand=False).collect()
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in full]
    assert victim["doc_id"] not in [r["doc_id"] for r in wand]


def test_expire_snapshots_lifecycle(spark, tmp_path_factory):
    """expire_snapshots keeps the newest N base lineages readable,
    physically drops older snapshot dirs, preserves manifest history
    (stage resume keys), and pinned reads of expired snapshots raise —
    Iceberg expire_snapshots semantics."""
    import os

    from hunt_spark.sources.catalog import IndexCatalog

    root = str(tmp_path_factory.mktemp("expire_cat"))
    cat = IndexCatalog(root)
    ids = []
    for i in range(4):
        df = spark.range(i, i + 3).withColumnRenamed("id", "v")
        ids.append(cat.commit(df, "t", f"stage/{i}")["snapshot_id"])

    res = cat.expire_snapshots(keep_last=2)
    assert res["expired"] == ids[:2]
    # current read unaffected (newest base)
    assert sorted(r["v"] for r in cat.read(spark, "t").collect()) == [3, 4, 5]
    # pinned read of a kept snapshot works; of an expired one raises
    assert cat.read(spark, "t", pinned_snapshot=ids[2]).count() == 3
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="expired"):
        cat.current_paths("t", pinned_snapshot=ids[0])
    # dirs gone, manifest history intact (resume keys still visible)
    assert not os.path.exists(
        os.path.join(root, "t", f"snap_{ids[0]}")
    )
    assert cat.completed_stage("stage/0") is not None
    # idempotent
    assert cat.expire_snapshots(keep_last=2)["expired"] == []


def test_postings_partitions_balanced_under_hot_terms(spark, tmp_path_factory):
    """Skew evidence: the corpus's hottest term ('the', in nearly every
    doc) must not concentrate postings writes — the salted
    (context, shard, salt) layout keeps written partition sizes within
    a small factor of the mean (read from the manifest's per-partition
    lineage ledger)."""
    from hunt_spark.engine import HuntEngine
    from hunt_spark.operators.build import BuildConfig
    from hunt_spark.sources.corpus import corpus_df

    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("skew_idx"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    eng.build(
        corpus_df(spark, 300, partitions=4), {"text": F.col("text")},
        build_id="skew",
    )
    entry = [e for e in eng.catalog.snapshots("postings")][-1]
    rows = [p["rows"] for p in entry["lineage"] if p["rows"] > 0]
    assert len(rows) >= 4
    assert max(rows) <= 4 * (sum(rows) / len(rows)), rows


def test_failed_stage_poisons_dependents(spark, docs, tmp_path_factory):
    """A stage failure must propagate out of build() and leave NO
    dependent commits behind it — the dependency-scheduled graph sets a
    failed stage's done-event so dependents wake, but they must see the
    error and refuse to commit (a term_stats commit over a missing
    postings snapshot would strand the catalog unresumable)."""
    root = str(tmp_path_factory.mktemp("poison"))
    eng = HuntEngine(spark, root, BuildConfig(n_shards=4, salt_buckets=2))
    with pytest.raises(Exception):
        # the column resolves at plan time but every task fails at run
        # time, so the postings stage dies mid-write
        eng.build(
            docs,
            {"text": F.raise_error(F.lit("boom")).cast("string")},
            build_id="poison",
        )
    cat = IndexCatalog(root)
    committed = {e["table"] for e in cat.snapshots()}
    # postings never committed, so nothing downstream of it may have
    for t in ("postings", "term_stats", "term_totals", "context_stats",
              "blocks"):
        assert t not in committed, committed
    # the independent JVM-only head stages may or may not have landed
    # (they race the failure); a rerun under the same build id must
    # complete cleanly either way
    entries = eng.build(docs, {"text": F.col("text")}, build_id="poison")
    assert "postings" in entries and "blocks" in entries


def test_partition_lineage_threaded_matches_tree(tmp_path):
    """_partition_lineage fans footer reads over a thread pool (it runs
    on the driver after every commit while all executor slots idle — a
    core-invariant constant on the scaling ladder); the aggregate must
    be identical to a serial walk of the same tree."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "snap"
    expect_rows = 0
    for part in ("context=a/shard=0", "context=a/shard=1", "context=b/shard=0"):
        d = root / part
        d.mkdir(parents=True)
        for i in range(3):
            n = 10 + i
            pq.write_table(pa.table({"x": list(range(n))}), str(d / f"f{i}.parquet"))
            expect_rows += n
    (root / "_SUCCESS").touch()  # non-parquet files are ignored

    lin = IndexCatalog._partition_lineage(str(root))
    assert [r["partition"] for r in lin] == [
        "context=a/shard=0", "context=a/shard=1", "context=b/shard=0"
    ]  # sorted, deterministic under the pool
    assert sum(r["rows"] for r in lin) == expect_rows
    assert all(r["files"] == 3 for r in lin)
    assert all(r["bytes"] > 0 for r in lin)
    # empty snapshot dir: no footers, no crash
    assert IndexCatalog._partition_lineage(str(tmp_path / "empty")) == []
