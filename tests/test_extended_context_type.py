"""Custom context-type plugin — the reference's open ContextType set.

A Hunt instance is configured with a LIST of context types
(DefHuntEnv huntTypes, Interpreter.hs:185), and the extended-hunt demo
(hunt-demos/extended-hunt/src/Main.hs) plugs a custom "realInt" CType
(int grammar over an IntMap index) into it:

    hunt <- initHunt >>= \\e -> return e { huntTypes = cRealInt:huntTypes e }

This suite registers the same "realInt" type via ContextTypePlugin /
register_context_type and replays the demo's exact flow (Main.hs:40-62):
insert-context "number" with the custom type, insert one doc whose
number context is "index only 3 numbers 44" (the validator drops the
prose tokens), then the demo's four searches — word 3 (hit), word 23
(miss), range [3 TO 44] (hit), range [6 TO 41] (miss).

The plugin's key layout is deliberately DIFFERENT from the built-in
int ZeroFill (a 20-digit offset encoding) so a pass proves the plugin
path, not the built-in, produced the index.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.functions.analysis import (
    CONTEXT_TYPE_REGISTRY,
    ContextTypePlugin,
    register_context_type,
)
from hunt_spark.operators.build import BuildConfig

_OFFSET = 10**19
_INT_RE = re.compile(r"-?[0-9]{1,19}")


def _realint_norm_py(tok: str) -> str | None:
    if not _INT_RE.fullmatch(tok or ""):
        return None
    return str(int(tok) + _OFFSET).zfill(20)


def _realint_norm_expr(toks):
    return F.transform(
        toks,
        lambda t: F.when(
            t.rlike(r"^-?[0-9]{1,19}$"),
            F.lpad(
                (
                    t.cast("decimal(21,0)")
                    + F.lit(str(_OFFSET)).cast("decimal(21,0)")
                )
                .cast("decimal(21,0)")
                .cast("string"),
                20,
                "0",
            ),
        ),
    )


@pytest.fixture()
def realint_registered():
    register_context_type(
        ContextTypePlugin(
            "realInt",
            norm_expr=_realint_norm_expr,
            norm_py=_realint_norm_py,
        )
    )
    yield
    CONTEXT_TYPE_REGISTRY.pop("realInt", None)


def _demo_engine(spark, root) -> HuntEngine:
    eng = HuntEngine(
        spark, root,
        BuildConfig(n_shards=2, salt_buckets=1, build_blocks=False),
    )
    # the demo's InsertContext "number" def { cxType = cRealInt }
    eng.insert_context("number", ctype="realInt")
    eng.insert(
        eng.spark.createDataFrame(
            [("id://1", "index only 3 numbers 44")], "url string, number string"
        ),
        {"number": F.col("number")},
    )
    return eng


def _uris(eng, q):
    return [r["url"] for r in eng.search(q, k=10).collect()]


def test_extended_hunt_demo_flow(spark, tmp_path_factory, realint_registered):
    eng = _demo_engine(spark, str(tmp_path_factory.mktemp("ix_realint")))
    # Main.hs:50-62 — the four demo searches
    assert _uris(eng, "number:3") == ["id://1"]
    assert _uris(eng, "number:23") == []
    assert _uris(eng, "number:[3 TO 44]") == ["id://1"]
    assert _uris(eng, "number:[6 TO 41]") == []


def test_plugin_key_layout_is_used(spark, tmp_path_factory, realint_registered):
    # the postings carry the plugin's offset keys, not ZeroFill —
    # proof the custom ctIxImpl analogue actually built the index
    eng = _demo_engine(spark, str(tmp_path_factory.mktemp("ix_realint_keys")))
    terms = {
        r["term"]
        for r in eng._postings().filter(F.col("context") == "number").collect()
    }
    assert terms == {_realint_norm_py("3"), _realint_norm_py("44")}
    assert all(len(t) == 20 for t in terms)  # not the 21-char ZeroFill


def test_plugin_persists_by_name_and_requires_registration(
    spark, tmp_path_factory, realint_registered
):
    root = str(tmp_path_factory.mktemp("ix_realint_reopen"))
    _demo_engine(spark, root)
    # reopening with the plugin registered works (schema names the type)
    reopened = HuntEngine(spark, root, BuildConfig(n_shards=2))
    assert reopened._schema()["number"][0] == "realInt"
    assert _uris(reopened, "number:[3 TO 44]") == ["id://1"]
    # without registration the type is unknown — like running the demo
    # binary without the custom CType compiled in
    CONTEXT_TYPE_REGISTRY.pop("realInt")
    fresh = HuntEngine(spark, root, BuildConfig(n_shards=2))
    with pytest.raises(Exception, match="realInt"):
        fresh.insert(
            spark.createDataFrame([("id://2", "7")], "url string, number string"),
            {"number": F.col("number")},
        )


def test_builtin_names_reserved():
    with pytest.raises(ValueError, match="built in"):
        register_context_type(
            ContextTypePlugin("int", norm_expr=lambda t: t, norm_py=lambda s: s)
        )
