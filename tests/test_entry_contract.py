"""Replicates the driver's correctness gate locally: every queries()
entry vs its oracle_sql() in DuckDB on the same parquet tables —
row-count, column names, and order-insensitive value equality."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("HUNT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(rows, cols):
    # order-insensitive, column-name-sorted compare (driver protocol)
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in idx) for r in rows)


ALL = sorted(entrymod.queries())
WITH_ORACLE = sorted(set(ALL) & set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    got_cols = df.columns
    got = _norm([tuple(r) for r in df.collect()], got_cols)
    res = ddb.sql(entrymod.oracle_sql()[name])
    want_cols = res.columns
    want = _norm(res.fetchall(), want_cols)
    assert sorted(got_cols) == sorted(want_cols), f"{name}: column names differ"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    assert got == want, f"{name}: values differ\n got[:5]={got[:5]}\nwant[:5]={want[:5]}"


@pytest.mark.parametrize("name", sorted(set(ALL) - set(WITH_ORACLE)))
def test_query_without_oracle_runs(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "score_x1e4"}


# the gate order queries() and oracle_sql() expose (a correctness run
# may cover only a window of the first entries): changing it must be a
# deliberate edit here
GATE_ORDER = [
    "dedup_span_stats", "dedup_strip_spans", "dedup_cluster",
    "dedup_embedding", "emb_cosine_topk", "emb_ann_lsh", "emb_ann_ivf",
    "mm_payload_meta", "mm_frame_sample", "mm_near_dup", "mm_decode_png",
    "crawl_frontier", "evt_sessionize", "cmp_query_and",
    "idx_phrase", "idx_near", "idx_follow", "idx_bm25_prefix",
    "idx_bm25_range", "idx_wand_and", "idx_wand_or", "idx_bm25_offset",
    "idx_prefix_word_limit", "idx_prefix_doc_limit", "idx_int_range",
    "idx_date_range", "idx_date_regex_scan", "idx_date_tz_range",
    "idx_geo_rect", "idx_geo_rtree", "idx_text_small", "idx_selector_title",
    "idx_completion", "txt_pii", "txt_clean", "txt_repetition",
    "txt_contamination", "txt_line_dedup", "op_sample_stratified",
    "op_sample_weighted", "pipeline_kept", "src_warc_ingest",
    "web_url_canonical", "web_url_dedup", "web_url_filter",
    "web_domain_cap", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_substring",
    "idx_term_lookup", "idx_bool_and", "idx_bool_or", "idx_bool_andnot",
    "idx_bm25_single", "idx_bm25_and", "idx_bm25_or", "idx_bm25_boost",
    "txt_token_count", "txt_token_count_bpe", "txt_quality",
    "txt_fingerprint", "txt_langid", "dedup_exact",
]


def test_gate_order_is_pinned():
    assert list(entrymod.queries()) == GATE_ORDER
    assert list(entrymod.oracle_sql()) == GATE_ORDER


def test_oracle_sql_tolerates_rows_only_gates(monkeypatch):
    # a gate listed in the order but without oracle SQL is skipped
    monkeypatch.setattr(
        entrymod, "GATE_ORDER", ["rows_only_probe", *entrymod.GATE_ORDER]
    )
    assert list(entrymod.oracle_sql()) == GATE_ORDER


def test_reorder_gates_rejects_unknown_or_overlapping_names(monkeypatch):
    # GATE_ORDER must name each queries() gate exactly once: a renamed
    # gate or a listed-twice name fails loudly
    renamed = [("x_" + k if k == "emb_ann_ivf" else k) for k in GATE_ORDER]
    monkeypatch.setattr(entrymod, "GATE_ORDER", renamed)
    with pytest.raises(AssertionError, match="emb_ann_ivf"):
        entrymod.queries()
    monkeypatch.setattr(entrymod, "GATE_ORDER", GATE_ORDER + ["emb_ann_lsh"])
    with pytest.raises(AssertionError, match="once"):
        entrymod.queries()
