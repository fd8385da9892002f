"""The blocks stage re-derives term stats in-job (build.py
commit_blocks; engine.py compact) instead of waiting on the committed
term_stats stage — that removed a commit boundary from the build's
critical path. The claim that funds it: the artifact is byte-identical
either way. Pin that claim, binary columns included.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig, build_blocks, term_stats
from hunt_spark.sources.corpus import corpus_df


def test_blocks_from_in_job_stats_byte_identical(spark, tmp_path):
    eng = HuntEngine(
        spark, str(tmp_path),
        BuildConfig(n_shards=2, salt_buckets=2, block_size=64),
    )
    docs = corpus_df(spark, 200, partitions=2)
    eng.build(docs, {"text": F.col("text")}, build_id="ident")

    postings = eng.catalog.read(spark, "postings")
    committed = build_blocks(
        spark, postings, eng.catalog.read(spark, "term_stats"), eng.cfg
    )
    in_job = build_blocks(spark, postings, term_stats(postings), eng.cfg)

    def rows(df):
        return sorted(
            df.collect(),
            key=lambda r: (r["context"], r["shard"], r["term_lc"],
                           r["block_id"]),
        )

    ra, rb = rows(committed), rows(in_job)
    assert len(ra) == len(rb) and len(ra) > 0
    for x, y in zip(ra, rb):
        assert x == y  # Row equality covers doc_ids_vb bytes + arrays
