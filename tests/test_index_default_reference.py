"""Parity suite for the reference's per-context-type Index matrix
(test/Hunt/Index/Default.hs:34-52): for every ContextType in
contextTypes (Interpreter.hs:185) — ctText "test", ctTextSimple
"test", ctInt "1000", ctDate "2012-01-01", ctPosition "1-1",
ctPositionRTree "1-1" — run the insert / insertList / delete /
deleteDocs / empty / toList lifecycle through the engine's verb
surface. "position" and "position-rtree" are the reference wire names
for the geo capability (both resolve to the z-order layout here;
RTreeIndex.hs answers the same in-rect lookups — SURVEY §2 I11); the
rebuild's native "geo" name is exercised too."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.functions.analysis import CONTEXT_NORMS_PY
from hunt_spark.operators.build import BuildConfig

# (ctype, reference key, second valid key for the 'empty'/filler case)
CONTEXT_TYPES = [
    ("text", "test", "filler"),
    ("text-small", "test", "filler"),
    ("int", "1000", "7"),
    ("date", "2012-01-01", "1999-05-04"),
    ("geo", "1-1", "2-2"),  # rebuild-native name for the position type
    ("position", "1-1", "2-2"),  # ctPosition wire name (Schema.hs:167)
    ("position-rtree", "1-1", "2-2"),  # ctPositionRTree (Schema.hs:175)
]


@pytest.mark.parametrize(
    "ctype,key,filler", CONTEXT_TYPES, ids=[c[0] for c in CONTEXT_TYPES]
)
def test_index_lifecycle_per_context_type(spark, tmp_path_factory, ctype, key, filler):
    cfg = BuildConfig(
        n_shards=4,
        salt_buckets=2,
        build_blocks=False,
        context_types={} if ctype == "text" else {"cx": ctype},
    )
    eng = HuntEngine(spark, str(tmp_path_factory.mktemp(f"dflt_{ctype}")), cfg)
    docs = spark.createDataFrame(
        [("ix://d1", f"{key} {filler}"), ("ix://d2", filler)],
        "url string, text string",
    )
    eng.build(docs, {"cx": F.col("text")}, build_id="dflt")
    q = f"cx:'{key}'"

    def hit_urls():
        ids = eng.select(q)
        return {
            r["url"]
            for r in ids.join(eng.doc_meta(), "doc_id").select("url").collect()
        }

    # insert: the key resolves to exactly the doc carrying it
    assert hit_urls() == {"ix://d1"}
    # insertList: a batch of two more docs with the key all land
    more = spark.createDataFrame(
        [("ix://d3", f"{key}"), ("ix://d4", f"{key} {filler}")],
        "url string, text string",
    )
    eng.insert(more, {"cx": F.col("text")})
    assert hit_urls() == {"ix://d1", "ix://d3", "ix://d4"}
    # delete: one doc's postings leave the result set immediately
    eng.delete_docs(["ix://d1"])
    assert hit_urls() == {"ix://d3", "ix://d4"}
    # deleteDocs: the rest go too -> empty result, engine still serves
    eng.delete_docs(["ix://d3", "ix://d4"])
    assert hit_urls() == set()
    # empty: a valid key with no postings matches nothing (filler doc
    # remains indexed, so the index itself is non-empty)
    assert eng.select(f"cx:'{filler}'").count() == 1
    # toList (Ix.toList): the context's term listing holds exactly the
    # normalized surviving keys
    from hunt_spark.functions.analysis import canonical_ctype

    norm = CONTEXT_NORMS_PY.get(canonical_ctype(ctype))
    want = norm(filler) if norm else filler
    terms = set(eng.status_context("cx", limit=100)["terms"])
    assert terms == {want}, (terms, want)
