"""text-small (positions-free) context type — ctTextSimple,
Hunt/Index/Schema.hs:138-144: tokenizes like text, stores no positions
(the I14 DocIdSet tier), so phrase/NEAR/FOLLOW cannot run on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators.build import BuildConfig

ROWS = [
    ("u1", "alpha beta gamma", "alpha beta gamma"),
    ("u2", "beta gamma delta", "beta gamma delta"),
    ("u3", "gamma delta alpha", "gamma delta alpha"),
    ("u4", "epsilon zeta", "epsilon zeta"),
]


@pytest.fixture(scope="module")
def small_engine(spark, tmp_path_factory):
    # twin contexts with IDENTICAL text: "full" stores positions,
    # "small" is text-small — retrieval must agree, storage must not
    df = spark.createDataFrame(ROWS, "url string, full string, small string")
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("small_idx")),
        BuildConfig(
            n_shards=2, salt_buckets=1,
            context_types={"small": "text-small"},
            build_blocks=False,
        ),
    )
    eng.build(df, {"full": F.col("full"), "small": F.col("small")},
              build_id="small")
    return eng


def test_positions_null_for_text_small(small_engine):
    p = small_engine.catalog.read(small_engine.spark, "postings")
    small = p.filter(F.col("context") == "small")
    assert small.count() > 0
    assert small.filter(F.col("positions").isNotNull()).count() == 0
    # the text twin keeps its positions
    full = p.filter(F.col("context") == "full")
    assert full.filter(F.col("positions").isNull()).count() == 0


def test_term_retrieval_identical_to_text(small_engine):
    got_small = {
        r["doc_id"]
        for r in small_engine.select("small:'gamma'").collect()
    }
    got_full = {
        r["doc_id"] for r in small_engine.select("full:'gamma'").collect()
    }
    assert got_small == got_full and len(got_small) == 3
    # prefix + completion work too (word-level ops need no positions)
    assert small_engine.completion("ga", contexts=["small"]).count() == 1


def test_phrase_on_text_small_rejected(small_engine):
    for q in (
        'small:"alpha beta"',
        "small:('alpha' NEAR 2 'beta')",
        "small:('alpha' FOLLOW 2 'beta')",
    ):
        with pytest.raises(ValueError, match="text-small"):
            small_engine.select(q)


def test_mixed_fanout_phrase_uses_positional_contexts(small_engine):
    # unscoped phrase fans over both contexts; the text-small one
    # contributes no matches (null positions) instead of erroring
    got = {r["doc_id"] for r in small_engine.select('"alpha beta"').collect()}
    want = {r["doc_id"] for r in small_engine.select('full:"alpha beta"').collect()}
    assert got == want and len(got) == 1


def test_scan_prunes_positions_column(small_engine):
    import contextlib
    import io

    df = small_engine.compiler().eval(small_engine._ast("small:'gamma'"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scan = plan[plan.index("Scan parquet"):]
    schema_line = scan.split("ReadSchema:")[1].split("\n")[0]
    assert "positions" not in schema_line


def test_insert_context_accepts_text_small(small_engine):
    small_engine.insert_context("notes", ctype="text-small")
    assert small_engine._schema()["notes"] == ("text-small", 1.0, None, True, ())
    spark = small_engine.spark
    doc = spark.createDataFrame([("u9", "omega psi")], "url string, notes string")
    small_engine.insert(doc, {"notes": F.col("notes")})
    assert small_engine.select("notes:'omega'").count() == 1
    with pytest.raises(ValueError, match="text-small"):
        small_engine.select('notes:"omega psi"')
