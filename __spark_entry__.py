"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a hunt_spark operator (SURVEY.md §2 +
training-data extensions) over the driver's parquet tables; the
matching ``oracle_sql()`` entry is the ANSI-SQL equivalent DuckDB
runs on the same tables. Column names/values are aligned exactly;
scores are fixed-point ``*_x1e4`` bigints so cross-engine float noise
cannot flip the hash.
"""

from __future__ import annotations

import datetime as _dt
import os as _os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.operators import events as evt
from hunt_spark.operators import multimodal as mm
from hunt_spark.operators import textops, urlops
from hunt_spark.sources import warc as warc_src
from hunt_spark.operators.build import BuildConfig
from hunt_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_ann_topk,
    lsh_ann_topk,
)

_ENGINES: dict[str, HuntEngine] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _typed_engine(spark: SparkSession, sf_dir: str) -> HuntEngine:
    """Typed-context index (int year / packed date / geo z-order) over
    deterministic columns derived from doc_id with integer-only string
    building — the DuckDB twins derive the identical values, so the
    typed gates are checked against implementation-independent
    semantics (BETWEEN on the raw numbers), not a re-implementation of
    the z-order/zero-fill internals."""
    key = sf_dir + "#typed"
    eng = _ENGINES.get(key)
    if eng is None:
        did = F.col("doc_id")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            # deterministic url: lexicographic == doc_id order
            F.concat(F.lit("t"), F.lpad(did.cast("string"), 10, "0")).alias("url"),
            (F.lit(1990) + did % 40).cast("string").alias("year"),
            F.format_string(
                "%04d-%02d-%02d",
                (F.lit(1990) + did % 30),
                (F.lit(1) + did % 12),
                (F.lit(1) + did % 28),
            ).alias("date"),
            F.concat(
                F.floor((did % 900) / 10).cast("string"), F.lit("."),
                (did % 900 % 10).cast("string"), F.lit("-"),
                F.floor(((did * 7) % 1790) / 10).cast("string"), F.lit("."),
                ((did * 7) % 1790 % 10).cast("string"),
            ).alias("pos"),
            # second position column with independent coordinates for
            # the "position-rtree" wire-name twin (ctPositionRTree,
            # Schema.hs:173-179 — same capability, declared under the
            # reference's R-tree type name)
            F.concat(
                F.floor(((did * 3) % 900) / 10).cast("string"), F.lit("."),
                ((did * 3) % 900 % 10).cast("string"), F.lit("-"),
                F.floor(((did * 11) % 1790) / 10).cast("string"), F.lit("."),
                ((did * 11) % 1790 % 10).cast("string"),
            ).alias("posr"),
            # punctuation-adjacent date inside running prose: only the
            # cxRegEx scan (the reference's ctDate default regex,
            # Schema.hs:158) lifts it out — the default whitespace scan
            # would see "2001-02-03," and reject it
            F.format_string(
                "event at %04d-%02d-%02d, closed.",
                (F.lit(1990) + (did * 3) % 30),
                (F.lit(1) + (did * 5) % 12),
                (F.lit(1) + (did * 7) % 28),
            ).alias("logline"),
        )
        root = tempfile.mkdtemp(prefix="hunt_typed_idx_")
        from hunt_spark.functions.analysis import REFERENCE_SCAN_REGEXES

        eng = HuntEngine(
            spark, root,
            BuildConfig(
                n_shards=4, salt_buckets=2,
                context_types={
                    "year": "int",
                    "date": "date",
                    "pos": "geo",
                    "posr": "position-rtree",
                    "logline": "date",
                },
                context_regexes={
                    "logline": REFERENCE_SCAN_REGEXES["date"],
                },
                build_blocks=False,
            ),
        )
        eng.build(
            docs,
            {c: F.col(c) for c in ("year", "date", "pos", "posr", "logline")},
            build_id=key,
        )
        _ENGINES[key] = eng
    return eng


def _small_engine(spark: SparkSession, sf_dir: str) -> HuntEngine:
    """Positions-free index: the documents text indexed as a
    "text-small" context (ctTextSimple, Schema.hs:138-144) — same
    tokenization as text, no positions stored."""
    key = sf_dir + "#small"
    eng = _ENGINES.get(key)
    if eng is None:
        root = tempfile.mkdtemp(prefix="hunt_small_idx_")
        eng = HuntEngine(
            spark, root,
            BuildConfig(
                n_shards=4, salt_buckets=2,
                context_types={"text": "text-small"},
                build_blocks=False,
            ),
        )
        eng.build(_docs(spark, sf_dir), {"text": F.col("text")}, build_id=key)
        _ENGINES[key] = eng
    return eng


def _selector_engine(spark: SparkSession, sf_dir: str) -> HuntEngine:
    """Per-context selector extraction (html-hunter -c cx:xpath,
    HtmlHunter.hs:107-142): deterministic html is assembled from the
    documents columns (title <- source, body <- text; text is verified
    markup-free in this corpus), and each context indexes ONLY its
    selector's part. The gate query mixes a title token with a hot
    body token under the title context — if selector routing broke
    (whole document into every context), the body token would match
    and the doc set would explode, so the oracle (source equality)
    would mismatch."""
    key = sf_dir + "#selector"
    eng = _ENGINES.get(key)
    if eng is None:
        html = F.concat(
            F.lit("<html><head><title>"),
            F.col("source"),
            F.lit("</title></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        )
        docs = _docs(spark, sf_dir).select("doc_id", html.alias("html"))
        root = tempfile.mkdtemp(prefix="hunt_sel_idx_")
        eng = HuntEngine(
            spark, root,
            BuildConfig(
                n_shards=4, salt_buckets=2,
                extract_html=True,
                context_selectors={"title": "title", "body": "body"},
                build_blocks=False,
            ),
        )
        eng.build(
            docs,
            {"title": F.col("html"), "body": F.col("html")},
            build_id=key,
        )
        _ENGINES[key] = eng
    return eng


def _pipeline_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline over the documents table: keep a
    doc iff it clears the quality floor (>= 30 tokens), the repetition
    ceiling (duplicate-2-gram fraction <= 15%), is not detected German,
    is its exact-dup group's canonical doc, and survives the per-lang
    stratified sample. Output = (doc_id, lang, n_tokens) of the kept
    corpus — what a data release actually ships."""
    return textops.curate(
        _docs(spark, sf_dir),
        min_tokens=30,
        max_dup_frac_x1e4=1500,
        drop_pred_langs=("de",),
        rates={"en": 0.5, "zh": 0.1},
        default_rate=0.25,
    )


def _pii_planted(docs: DataFrame) -> DataFrame:
    """Deterministically append PII-shaped footers (email+IP+SSN on
    doc_id%7==0, phone+card on doc_id%11==0) — the oracle twin builds
    the identical text, so the txt_pii gate verifies Java-regex/RE2
    parity on non-trivial counts (the synthetic corpus has no digits)."""
    did = F.col("doc_id")
    s = did.cast("string")
    footer7 = F.concat(
        F.lit(" contact user"), s, F.lit("@example.com or 10.0."),
        (did % 256).cast("string"), F.lit("."),
        ((did * 7) % 256).cast("string"), F.lit(" ssn 123-45-6789"),
    )
    footer11 = F.concat(
        F.lit(" call 555-123-4567 card 4111 1111 1111 1111"),
    )
    text = F.concat(
        F.col("text"),
        F.when(did % 7 == 0, footer7).otherwise(F.lit("")),
        F.when(did % 11 == 0, footer11).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


def _multiline_docs(docs: DataFrame) -> DataFrame:
    """The synthetic corpus is single-line; derive a deterministic
    multi-line twin (every 3 tokens -> one line, '\\n'-joined) so the
    txt_line_dedup gate exercises real cross-document line repeats —
    the tiny vocabulary makes 3-token lines collide across docs just
    like site boilerplate does. The oracle builds the identical text,
    so the gate checks the operator, not the derivation."""
    tk = F.regexp_extract_all(F.col("text"), F.lit(r"\w+"), 0)
    # Chunk the ONE space-joined token string with a single regex pass:
    # the previous lambda form (transform over slice(tk, ...)) put the
    # tokenizer expression inside the lambda body, where Catalyst
    # re-evaluates it PER LINE (~n/3 regex scans of the full text per
    # doc per consumer — measured as the dominant cost of the
    # line-dedup path at 50k docs). \w+ tokens contain no whitespace,
    # so greedy left-to-right 3-token chunks equal the slice groups.
    joined = F.array_join(tk, " ")
    lines = F.regexp_extract_all(joined, F.lit(r"\S+(?: \S+){0,2}"), 0)
    text = F.when(
        F.size(tk) >= 1, F.array_join(lines, "\n")
    ).otherwise(F.lit(""))
    return docs.select("doc_id", text.alias("text"))


_WARC_DIRS: dict[str, str] = {}


def _warc_shards(sf_dir: str) -> str:
    """Synthesize (once per sf_dir) 4 gzipped WARC shard files from the
    documents table — response records with the doc text as body and
    the doc_id in the target URI — so the src_warc_ingest gate drives
    the real shard-file read path (binaryFile -> member-at-a-time gzip
    -> record parse -> HTTP envelope split) against an oracle that
    reads the same table directly. Fixture synthesis is driver-side
    pandas over the gate corpus; the READ under test is distributed."""
    d = _WARC_DIRS.get(sf_dir)
    if d is None:
        import pandas as _pd

        from hunt_spark.sources import warc as _warc

        pdf = _pd.read_parquet(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        d = tempfile.mkdtemp(prefix="hunt_warc_")
        for shard in range(4):
            part = pdf[pdf.doc_id % 4 == shard]
            recs = [
                {
                    "type": "response",
                    "uri": f"http://corpus.example.com/d/{int(r.doc_id)}",
                    "date": _dt.datetime(2021, 1, 1),
                    "record_id": f"<urn:uuid:{int(r.doc_id)}>",
                    "http_status": 200,
                    "content_type": "text/plain",
                    "body": str(r.text).encode(),
                }
                for r in part.itertuples()
            ]
            with open(_os.path.join(d, f"shard{shard}.warc.gz"), "wb") as f:
                f.write(_warc.write_warc_bytes(recs))
        _WARC_DIRS[sf_dir] = d
    return d


def _boiler_docs(docs: DataFrame) -> DataFrame:
    """Documents with a 7-token boilerplate tail planted on every 3rd
    doc — shared input derivation of the three duplicated-substring
    gates (detection, stats, stripping); the oracles build the same
    text in SQL."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" common tail line alpha beta gamma delta"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _web_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy URL per document, exercising every
    canonicalization rule: upper-case scheme/host, `www.`, matching
    default ports, trailing slash, utm tracking params (adjacent AND
    all-utm cases), fragments. The oracle constructs the CANONICAL
    form directly from the clean parts, so the gate checks the
    canonicalizer against independent ground truth rather than a
    mirrored regex (which could be wrong the same way twice)."""
    d = F.col("doc_id")
    even = d % 2 == 0
    url = F.concat(
        F.when(even, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(even & (d % 5 == 0), F.lit(":80"))
        .when(d % 5 == 0, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/Doc"),
        d.cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            even,
            F.concat(
                F.lit("?utm_source=t&q="), d.cast("string"), F.lit("&utm_medium=m")
            ),
        )
        .when(d % 7 == 0, F.lit("?utm_a=1&utm_b=2"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#Sec")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


def _engine(spark: SparkSession, sf_dir: str) -> HuntEngine:
    """Build (once per sf_dir) a single-context index over documents."""
    eng = _ENGINES.get(sf_dir)
    if eng is None:
        root = tempfile.mkdtemp(prefix="hunt_idx_")
        eng = HuntEngine(spark, root, BuildConfig(n_shards=8, salt_buckets=2))
        eng.build(_docs(spark, sf_dir), {"text": F.col("text")}, build_id=sf_dir)
        _ENGINES[sf_dir] = eng
    return eng


_NDOCS: dict[str, int] = {}


def _n_docs(eng: HuntEngine, sf_dir: str) -> int:
    """Corpus size, cached per sf_dir: it parameterizes k=all for the
    scored gates and is invariant per built engine — re-counting
    doc_meta added one full Spark job to EVERY scored-query run."""
    n = _NDOCS.get(sf_dir)
    if n is None:
        n = _NDOCS[sf_dir] = eng.doc_meta().count()
    return n


def _ranked(df: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic top-k on the fixed-point score: ties broken by
    doc_id — identical ordering rule in the oracle SQL."""
    out = df.select(
        "doc_id", F.round(F.col("score") * 10000).cast("long").alias("score_x1e4")
    )
    return out.orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def _q_search(q: str, k: int = 10, use_wand: bool | str = "auto"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        n = _n_docs(eng, sf_dir)
        return _ranked(eng.search(q, k=n, use_wand=use_wand), k)

    return run


def _q_search_word_limited(q: str, word_limit: int, k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        lim = HuntEngine(spark, eng.catalog.root, eng.cfg, word_limit=word_limit)
        n = _n_docs(eng, sf_dir)
        return _ranked(lim.search(q, k=n, use_wand=False), k)

    return run


def _q_search_doc_limited(q: str, doc_limit: int, k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        lim = HuntEngine(spark, eng.catalog.root, eng.cfg, doc_limit=doc_limit)
        n = _n_docs(eng, sf_dir)
        return _ranked(lim.search(q, k=n, use_wand=False), k)

    return run


def _q_select(q: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).select(q)

    return run


def _crawl_frontier_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler gate (S3, hunt-crawler/Core.hs): distributed BFS over the
    deterministic synthetic site (sources/crawler.synthetic_site) —
    page i links to (2i+1)%n, (3i+7)%n and, via a RELATIVE href, its
    same-host successor i+3; each host's robots.txt
    disallows pages with i%17==3 (taken-but-never-fetched, never
    expanded). Output is (doc_id, level) = the fetched set with BFS
    min-levels; the oracle walks the same arithmetic graph with a
    recursive CTE. Independent of sf_dir by construction (the site is
    synthesized, not read — no external data)."""
    from hunt_spark.sources.crawler import CrawlConfig, crawl, synthetic_site

    n = 240
    docs = crawl(spark, CrawlConfig(
        seeds=["http://h0.test/d000000"],
        fetcher=synthetic_site(n),
        follow_allow=[r"^http://h\d+\.test/d"],
        batch_docs=4096,
    ))
    return docs.select(
        F.regexp_extract("url", r"/d(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("level").cast("long").alias("level"),
    )


def _mm_decode_png_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec gate body: doc_id -> deterministic uniform PNG
    (value v = doc_id mod 256, size varied mod 5/7) -> decode_png ->
    4x4 mean-pooled luma. Uniform pixels make every pooled cell exactly
    v/255 regardless of the grid geometry, so the oracle derives the
    features from doc_id in pure SQL while the Spark side runs the
    whole binary pipeline (encode -> Arrow batch -> chunk parse ->
    inflate -> unfilter -> pool)."""
    import pandas as pd

    docs = _docs(spark, sf_dir).select("doc_id").orderBy("doc_id").limit(64)

    def gen(batches):
        import numpy as np

        from hunt_spark.functions.codecs import encode_png

        for b in batches:
            payloads = []
            for did in b["doc_id"]:
                v = int(did) % 256  # python %: non-negative (pmod)
                h = 4 + int(did) % 5
                w = 4 + int(did) % 7
                payloads.append(
                    encode_png(np.full((h, w, 3), v, dtype=np.uint8))
                )
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    pay = docs.mapInPandas(gen, "doc_id long, payload binary")
    feats = mm.decode_image(pay, dim=16)  # real path (no fake=)
    return feats.select(
        "doc_id", F.posexplode("features").alias("i", "f")
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.round(F.col("f").cast("double") * 10000).cast("long").alias(
            "luma_x1e4"
        ),
    )


# The gate order queries() and oracle_sql() expose. A correctness run
# may cover only a window of the first entries, so the order allocates
# that window: the newest/riskiest gates first (evt_sessionize — the
# one historically red gate — the dedup span/embedding gates,
# mm_decode_png, crawl_frontier, and the gates that once fell out of
# the window), multi-round-stable gates (each green 3-5 consecutive
# rounds) last as the reserve. queries()
# asserts that this list names exactly its gates, so a renamed, added
# or deleted gate fails loudly instead of silently leaving the window.
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


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # --- boolean retrieval / posting algebra (SURVEY §2.4-2.5) ---
        "idx_term_lookup": _q_select("'spark'"),
        "idx_bool_and": _q_select("'spark' 'hash'"),
        "idx_bool_or": _q_select("'spark' OR 'hash'"),
        "idx_bool_andnot": _q_select("'batch' AND NOT 'dup'"),
        "idx_phrase": _q_select("\"batch batch\""),
        # positional folds beyond phrase (P5/P6: FOLLOW/NEAR intervals,
        # Intermediate.hs:513-538)
        "idx_near": _q_select("'spark' NEAR 3 'hash'"),
        "idx_follow": _q_select("'spark' FOLLOW 3 'hash'"),
        # --- BM25 scored retrieval (SURVEY §2.6 R8) ---
        "idx_bm25_single": _q_search("'spark'"),
        "idx_bm25_and": _q_search("'spark' 'hash'"),
        "idx_bm25_or": _q_search("'spark' OR 'hash'"),
        "idx_bm25_boost": _q_search("'spark'^2 OR 'hash'"),
        "idx_bm25_prefix": _q_search("sc"),
        "idx_bm25_range": _q_search("[batch TO join]"),
        # the WAND scorer (blocks decoded on the driver), verified
        # against the same oracle SQL as the full plan (rank+score
        # identity at the gate)
        "idx_wand_and": _q_search("'spark' 'hash'", use_wand=True),
        "idx_wand_or": _q_search("'spark' OR 'hash'", use_wand=True),
        # R5 pagination: page 2 of the ranking (offset in the plan)
        "idx_bm25_offset": lambda spark, sf_dir: (
            _engine(spark, sf_dir)
            .search("'spark' OR 'hash'", k=_engine(spark, sf_dir).doc_meta().count(),
                    use_wand=False)
            .select(
                "doc_id",
                F.round(F.col("score") * 10000).cast("long").alias("score_x1e4"),
            )
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id"))
            .offset(5)
            .limit(10)
        ),
        # Hunt wordLimit knob: prefix expansion capped shortest-first
        "idx_prefix_word_limit": _q_search_word_limited("sc", word_limit=3),
        # Hunt docLimit knob: scan truncated at a cumulative doc budget
        # in word order (Intermediate.hs:327-342 limitRawResult)
        "idx_prefix_doc_limit": _q_search_doc_limited("sc", doc_limit=5),
        # typed contexts (I7/I10): engine answers via zero-fill /
        # digit-pack / z-order term algebra; oracles check the SEMANTICS
        # (BETWEEN on the raw derived numbers), not the encoding
        "idx_int_range": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("year:[1995 TO 2010]"),
        "idx_date_range": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("date:[1995-01-01 TO 2009-06-15]"),
        # cxRegEx scan override (ContextSchema, Schema.hs:77-92): the
        # date context is fed running prose and scanned with the
        # reference's ctDate default regex — the comma-adjacent date
        # only exists in the index because of the regex scan
        "idx_date_regex_scan": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("logline:[2001-02-01 TO 2010-10-10]"),
        # datetime+timezone range endpoints (reference word lexeme:
        # ':' is a word char, Grammar.hs:229; endpoint normalization
        # applies the toUTCTime signed-ADD shift, Date.hs:152-158):
        # 1995-06-06 is a populated date (doc_id ≡ 5 mod 420), and the
        # +00:30 lower bound lands past its midnight keys, excluding
        # docs the bare-date bound would include
        "idx_date_tz_range": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("date:[1995-06-06T00:00:00+00:30 TO 2009-06-15T00:00:00Z]"),
        "idx_geo_rect": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("pos:[10.0-20.0 TO 49.9-99.9]"),
        # I11: the same rect-containment capability served under the
        # reference's "position-rtree" context type name
        # (ctPositionRTree, Schema.hs:173-179; RTreeIndex.hs answers
        # identical in-rect lookups) — z-order layout either way here
        "idx_geo_rtree": lambda spark, sf_dir: _typed_engine(
            spark, sf_dir
        ).select("posr:[15.0-30.0 TO 59.9-119.9]"),
        # positions-free "text-small" context (Schema.hs:138-144): term
        # retrieval identical to text — only positions storage differs
        "idx_text_small": lambda spark, sf_dir: _small_engine(
            spark, sf_dir
        ).select("'hash'"),
        # per-context selector extraction: title is fed by the <title>
        # selector only, so the hot body token 'spark' must contribute
        # NOTHING under the title context — whole-document extraction
        # would match nearly every doc and mismatch the oracle
        "idx_selector_title": lambda spark, sf_dir: _selector_engine(
            spark, sf_dir
        ).select("title:src3 OR title:spark"),
        "idx_completion": lambda spark, sf_dir: (
            # rank on the fixed-point score (limit after rounding) so the
            # top-10 cut is bit-identical to the oracle's
            _engine(spark, sf_dir)
            .completion("s", k=1_000_000)
            .select(
                "term",
                F.round(F.col("score") * 10000).cast("long").alias("score_x1e4"),
            )
            .orderBy(F.desc("score_x1e4"), F.asc("term"))
            .limit(10)
        ),
        # --- text analysis / training-data ops ---
        "txt_token_count": lambda spark, sf_dir: textops.token_counts(
            _docs(spark, sf_dir)
        ),
        # whitespace + BPE-ish (GPT-2 pre-tokenizer regex) counting —
        # the LLM-cost accounting numbers of a training pipeline
        "txt_token_count_bpe": lambda spark, sf_dir: textops.token_counts_bpe(
            _docs(spark, sf_dir)
        ),
        "txt_quality": lambda spark, sf_dir: textops.quality_stats(
            _docs(spark, sf_dir)
        ),
        "txt_fingerprint": lambda spark, sf_dir: textops.fingerprint(
            _docs(spark, sf_dir)
        ),
        "txt_langid": lambda spark, sf_dir: textops.langid(_docs(spark, sf_dir)),
        # PII contamination scan. The synthetic corpus is digit-free, so
        # the gate plants deterministic PII footers (same expression in
        # both engines) — the oracle then checks real regex parity, not
        # a table of zeros; semantics on crafted strings are pinned by
        # tests/test_textops_pii.py
        "txt_pii": lambda spark, sf_dir: textops.pii_scan(
            _pii_planted(_docs(spark, sf_dir))
        ),
        # text normalization pass: control-strip -> NFC (pandas
        # Series.str.normalize, the one Arrow step) -> ws collapse;
        # planted decomposed unicode + control chars on both sides
        "txt_clean": lambda spark, sf_dir: textops.clean_text(
            _docs(spark, sf_dir).select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    # DECOMPOSED accents (e+U+0301, i+U+0308): the op
                    # must compose them; \x07/\x0b are control-strips
                    F.lit("  Cafe\u0301\tnai\u0308ve \x07x\x0b "),
                ).alias("text"),
            )
        ),
        # Gopher-style intra-doc repetition fractions (dup / top 2-gram)
        "txt_repetition": lambda spark, sf_dir: textops.repetition_stats(
            _docs(spark, sf_dir), n=2
        ),
        # benchmark-contamination scan: distinct 3-gram overlap vs the
        # pseudo eval set doc_id % 97 == 0, broadcast gram dictionary
        "txt_contamination": lambda spark, sf_dir: textops.contamination(
            _docs(spark, sf_dir),
            _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0),
            n=3,
        ),
        # C4-rule corpus-level line dedup: lines occurring >= 4 times
        # across the whole corpus are boilerplate and stripped from
        # every doc, original line order preserved (3-token derived
        # lines — see _multiline_docs)
        "txt_line_dedup": lambda spark, sf_dir: textops.line_dedup(
            _multiline_docs(_docs(spark, sf_dir)), min_dup_count=4
        ),
        # deterministic hash-based stratified sampling: per-lang rates,
        # membership a pure function of doc_id (reproducible, engine-
        # recomputable; thresholds fixed as integer literals)
        "op_sample_stratified": lambda spark, sf_dir: textops.sample_stratified(
            _docs(spark, sf_dir).select("doc_id", "lang"),
            rates={"en": 0.5, "zh": 0.1},
            default_rate=0.25,
        ),
        # weighted mixture sampling (epoch upsampling): deterministic
        # per-row copy counts — floor(rate) + one more iff the key hash
        # clears the fractional threshold
        "op_sample_weighted": lambda spark, sf_dir: textops.sample_weighted(
            _docs(spark, sf_dir).select("doc_id", "lang"),
            rates={"en": 2.5, "zh": 0.5},
            default_rate=1.25,
        ),
        # the whole training-data curation chain as ONE composed plan:
        # quality floor -> repetition ceiling -> langid drop -> exact-
        # dedup canonical keep -> stratified sample. Each stage is the
        # operator the standalone gate checks; this gate checks they
        # compose (Catalyst fuses the per-doc stages; every join is on
        # doc_id, the dedup side is min-per-hash-group)
        "pipeline_kept": lambda spark, sf_dir: _pipeline_kept(spark, sf_dir),
        # WARC shard ingest: documents -> 4 .warc.gz shards (fixture
        # synthesis) -> distributed binaryFile read + record parse +
        # HTTP envelope split; oracle reads the table directly
        "src_warc_ingest": lambda spark, sf_dir: warc_src.warc_df(
            spark, _warc_shards(sf_dir)
        ).select(
            F.regexp_extract("target_uri", r"/d/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("http_status").cast("long").alias("http_status"),
            F.length("payload").cast("long").alias("n_bytes"),
        ),
        # --- web-corpus URL operators ---
        # canonicalization: fragment / case / default-port / www. /
        # utm params / trailing slash, one Catalyst pass; the oracle
        # builds the expected canonical form constructively
        "web_url_canonical": lambda spark, sf_dir: _web_urls(
            _docs(spark, sf_dir)
        ).select(
            "doc_id", urlops.canonicalize_url(F.col("url")).alias("canon_url")
        ),
        # URL-level dedup: 10 messy spellings per canonical URL at
        # sf0.01 (scheme case / www. / default port / trailing slash /
        # fragment all collapse); keep = max n_chars, ties min doc_id
        "web_url_dedup": lambda spark, sf_dir: urlops.url_dedup(
            _docs(spark, sf_dir).select(
                "doc_id",
                "n_chars",
                F.concat(
                    F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP"))
                    .otherwise(F.lit("http")),
                    F.lit("://"),
                    F.when(F.col("doc_id") % 3 == 0, F.lit("WWW."))
                    .otherwise(F.lit("")),
                    F.lit("Site.Example.COM"),
                    F.when(F.col("doc_id") % 5 == 0, F.lit(":80"))
                    .otherwise(F.lit("")),
                    F.lit("/page/"),
                    (F.col("doc_id") % 50).cast("string"),
                    F.when(F.col("doc_id") % 4 == 0, F.lit("/"))
                    .otherwise(F.lit("")),
                    F.when(F.col("doc_id") % 6 == 0, F.lit("#Sec"))
                    .otherwise(F.lit("")),
                ).alias("url"),
            ),
            quality_col="n_chars",
        ),
        # URL filtering: host blocklist (broadcast anti-join) + banned-
        # pattern score <= max_score over the canonical URL
        "web_url_filter": lambda spark, sf_dir: urlops.url_filter(
            _docs(spark, sf_dir).select(
                "doc_id",
                F.concat(
                    F.lit("http://h"),
                    (F.col("doc_id") % 25).cast("string"),
                    F.lit(".example.com/"),
                    F.when(F.col("doc_id") % 11 == 0, F.lit("casino-"))
                    .otherwise(F.lit("")),
                    F.when(F.col("doc_id") % 13 == 0, F.lit("poker-"))
                    .otherwise(F.lit("")),
                    F.lit("page/"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
            ),
            blocked_hosts=["h3.example.com", "h7.example.com"],
            banned_patterns=["casino", "poker"],
            max_score=1,
        ),
        # deterministic per-domain cap (FineWeb "limit docs per
        # domain"): keep the cap smallest (key_hash, doc_id) per host,
        # map-side top-k prune before the exact window
        "web_domain_cap": lambda spark, sf_dir: urlops.domain_cap(
            _docs(spark, sf_dir).select(
                "doc_id",
                F.concat(
                    F.lit("http://h"),
                    (F.col("doc_id") % 25).cast("string"),
                    F.lit(".example.com/p/"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
            ),
            cap=7,
        ),
        # --- deduplication ---
        "dedup_exact": lambda spark, sf_dir: textops.dedup_exact(
            _docs(spark, sf_dir)
        ),
        "dedup_ngram_jaccard": lambda spark, sf_dir: textops.ngram_jaccard_pairs(
            _docs(spark, sf_dir), threshold=0.8
        ),
        "dedup_minhash_lsh": lambda spark, sf_dir: textops.minhash_lsh_pairs(
            _docs(spark, sf_dir), threshold=0.8
        ),
        "dedup_simhash": lambda spark, sf_dir: textops.simhash_pairs(
            _docs(spark, sf_dir), max_hamming=3
        ),
        # exact duplicated-substring spans (Lee et al. seed-grams):
        # planted 7-token boilerplate tail on every 3rd doc; k=5
        "dedup_substring": lambda spark, sf_dir: textops.dup_spans(
            _boiler_docs(_docs(spark, sf_dir)), k=5
        ),
        # removal-side of the Lee et al. flow: per-doc duplicated-token
        # budget (the drop-filter form) ...
        "dedup_span_stats": lambda spark, sf_dir: textops.dup_span_stats(
            _boiler_docs(_docs(spark, sf_dir)), k=5
        ),
        # ... and surgical span stripping (order-preserving rebuild)
        "dedup_strip_spans": lambda spark, sf_dir: textops.strip_spans(
            _boiler_docs(_docs(spark, sf_dir)),
            textops.dup_spans(_boiler_docs(_docs(spark, sf_dir)), k=5),
        ),
        # --- pairs -> clusters -> canonical keep/drop (the terminal
        # dedup step): connected components by alternating large/small
        # star rounds (Kiveris et al. SoCC'14), canonical = component
        # min doc_id; docs in no pair are singletons. Oracle rebuilds
        # the same components with a recursive transitive-closure CTE
        # over the identical pair set. ---
        "dedup_cluster": lambda spark, sf_dir: textops.near_dup_clusters(
            _docs(spark, sf_dir),
            textops.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8),
        ),
        # embedding-cosine near-dup: banded SRP-LSH candidates + exact
        # cosine — the vector-space member of the dedup family (the
        # synthetic embeddings' most-similar pairs sit near cosine 0.5,
        # hence the low gate threshold)
        "dedup_embedding": lambda spark, sf_dir: embedding_near_dup_pairs(
            _emb(spark, sf_dir), threshold=0.45, n_planes=16, n_bands=8,
            dim=64,
        ),
        # --- embedding similarity search ---
        "emb_cosine_topk": lambda spark, sf_dir: cosine_topk(
            _emb(spark, sf_dir), probe_ids=[0, 1, 2, 3, 4], k=5
        ),
        "emb_ann_lsh": lambda spark, sf_dir: lsh_ann_topk(
            _emb(spark, sf_dir), probe_ids=[0, 1, 2, 3, 4], k=5, dim=64
        ),
        # IVF-Flat: coarse cells + multi-probe exact rerank (the other
        # classic ANN scale path besides hyperplane LSH)
        "emb_ann_ivf": lambda spark, sf_dir: ivf_ann_topk(
            _emb(spark, sf_dir), probe_ids=[0, 1, 2, 3, 4], k=5,
            n_cells=16, n_probe=4, dim=64,
        ),
        # --- multimodal binary-payload plumbing (decode kernel stubbed;
        # text bytes stand in for the opaque image/audio blob) ---
        "mm_payload_meta": lambda spark, sf_dir: mm.payload_meta(
            mm.attach_payload(_docs(spark, sf_dir))
        ),
        "mm_frame_sample": lambda spark, sf_dir: (
            mm.frame_sample(
                mm.attach_payload(_docs(spark, sf_dir)),
                frame_bytes=64, every_n=4, max_frames=8,
            ).select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))
        ),
        # payload = the doc's 64-char text prefix: prefix-sharing docs
        # (the corpus's near-dup families) get byte-identical payloads,
        # hence identical fake features and cosine exactly 1 — so the
        # LSH bucketing + exact-verify pipeline produces a non-empty,
        # SQL-predictable pair set (see oracle comment)
        "mm_near_dup": lambda spark, sf_dir: (
            mm.near_dup_by_features(
                mm.decode_image(
                    mm.attach_payload(
                        _docs(spark, sf_dir).withColumn(
                            "prefix64", F.substring("text", 1, 64)
                        ),
                        source_col="prefix64",
                    ),
                    dim=32,
                    fake=True,
                ),
                threshold=0.999,
                dim=32,
            ).select(
                "doc_id_a", "doc_id_b",
                F.round(F.col("cosine") * 10000).cast("long").alias("cosine_x1e4"),
            )
        ),
        # --- REAL image decode (r5): stdlib PNG codec end-to-end.
        # Deterministic uniform-color PNGs are generated per doc_id in
        # an Arrow kernel, decoded by functions/codecs.decode_png, and
        # mean-pooled by the real _image_features kernel — a uniform
        # image pools to exactly v/255 in every grid cell, which SQL
        # can compute from doc_id alone ---
        "mm_decode_png": _mm_decode_png_query,
        # --- crawler frontier (S3): leveled BFS with robots gating
        # over the deterministic synthetic site ---
        "crawl_frontier": _crawl_frontier_query,
        # --- event-stream sessionization (batch twin of the
        # applyInPandasWithState streaming operator). Gate surface is
        # engine-neutral on purpose: session bounds go out as exact
        # epoch-MICROsecond BIGINTs (unix_micros here, epoch_us in the
        # oracle) — raw timestamp columns hash differently across
        # engines under any serialization that is engine-specific
        # (ISO T-form vs space-form, ns vs us precision), which kept
        # this gate red through r3 while every value was identical. ---
        "evt_sessionize": lambda spark, sf_dir: evt.sessionize_batch(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        ).select(
            "user_id",
            "session_id",
            F.unix_micros(F.col("start_ts").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.col("end_ts").cast("timestamp")).alias("end_us"),
            "n_events",
            "value_sum_x100",
        ),
        # --- query completion over an AND sequence (Hunt
        # processQueryScoredWords, Processor.hs:311-366) ---
        "cmp_query_and": lambda spark, sf_dir: (
            _engine(spark, sf_dir)
            .complete_query("'spark' ha", k=1_000_000)
            .select(
                "term",
                F.round(F.col("score") * 10000).cast("long").alias("score_x1e4"),
            )
            .orderBy(F.desc("score_x1e4"), F.asc("term"))
            .limit(10)
        ),
    }
    odd = set(GATE_ORDER) ^ set(base)
    assert not odd and len(GATE_ORDER) == len(base), (
        f"GATE_ORDER must name each queries() gate once; differing: {sorted(odd)}"
    )
    return {k: base[k] for k in GATE_ORDER}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 conjunctive top-10 on sf0.001 via the full
    build->postings->stats->scored-join pipeline."""
    return _q_search("'spark' 'hash'")(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# shared CTE prefix: tokenize documents.text exactly like the engine
# (\w+ scan; ASCII corpus so Java (?U)\w+ == RE2 \w+), BM25 parts with
# the literal arithmetic the Spark expressions use.
_BM25_CTE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
cst AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dl),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         ln(1.0 + (cst.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
         (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / cst.avg_dl)) AS tfn
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN cst
)
"""

_RANK = "ORDER BY score_x1e4 DESC, doc_id ASC LIMIT 10"


def _bm25(select_body: str) -> str:
    return (
        _BM25_CTE
        + f"SELECT doc_id, CAST(round(s * 10000) AS BIGINT) AS score_x1e4 "
        f"FROM ({select_body}) {_RANK}"
    )


# shared CTE prefix of the three duplicated-substring oracles: the
# boilerplate-planted corpus, its tokens, per-position 5-gram keys,
# duplicated positions, and merged (gaps-and-islands) spans
_DUP_SPAN_CTES = r"""
    src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' common tail line alpha beta gamma delta'
                  ELSE text END AS text
      FROM documents),
    t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk FROM src),
    g AS (SELECT doc_id,
                 unnest(generate_series(1, len(tk) - 4)) AS pos,
                 tk
          FROM t WHERE len(tk) >= 5),
    g2 AS (SELECT doc_id, pos,
                  md5(array_to_string(tk[pos:pos+4], ' ')) AS g
           FROM g),
    c AS (SELECT g FROM g2 GROUP BY g HAVING count(*) >= 2),
    d AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM c)),
    w AS (SELECT doc_id, pos,
                 CASE WHEN pos > lag(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos) + 5
                      THEN 1 ELSE 0 END AS brk
          FROM d),
    i AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM w),
    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM i GROUP BY doc_id, island)
"""

_SHINGLE_PAIRS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id, tk[pos] || ' ' || tk[pos+1] || ' ' || tk[pos+2] AS s
  FROM t, generate_series(1, 100000) g(pos)
  WHERE pos + 2 <= len(tk)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       CAST(round(inter * 10000.0 / (sa.n + sb.n - inter)) AS BIGINT) AS jaccard_x1e4
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
"""

# SimHash twin: FNV-1a-64 over each term's Unicode code points
# (textops._fnv1a64_batch), tf-weighted bit votes, 16-bit pigeonhole
# chunks, hamming via bit_count(xor). HUGEINT keeps the u64 arithmetic
# exact; the final CAST maps back to Spark's signed long.
_SIMHASH_PAIRS = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
th AS (
  SELECT doc_id, tf,
         list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
                        list_transform(regexp_extract_all(term, '.'),
                                       c -> unicode(c)::HUGEINT)),
           (h, cp) -> (xor(h::UBIGINT, cp::UBIGINT)::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT
         ) AS h
  FROM tf
),
votes AS (
  SELECT doc_id, g.i AS bit,
         sum(CASE WHEN (h::UBIGINT >> g.i) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM th, generate_series(0, 63) g(i) GROUP BY 1, 2
),
shu AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN 1::HUGEINT << bit ELSE 0::HUGEINT END) AS u
  FROM votes GROUP BY 1
),
sh AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                   THEN u - 18446744073709551616::HUGEINT ELSE u END
              AS BIGINT) AS simhash,
         u
  FROM shu
),
chunks AS (
  SELECT doc_id, simhash,
         g.c AS chunk_id,
         CAST((u >> (g.c * 16)) % 65536 AS BIGINT) AS chunk
  FROM sh, generate_series(0, 3) g(c)
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

_COSINE_TOPK = """
WITH pairs AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> x[1]::DOUBLE * x[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
         AS c
  FROM embeddings a, embeddings b
  WHERE a.vec_id IN (0, 1, 2, 3, 4) AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id,
         CAST(round(c * 10000) AS BIGINT) AS cosine_x1e4,
         row_number() OVER (
           PARTITION BY probe_id
           ORDER BY CAST(round(c * 10000) AS BIGINT) DESC, neighbor_id ASC
         ) AS rank
  FROM pairs
)
SELECT probe_id, neighbor_id, cosine_x1e4, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _lsh_ann_oracle() -> str:
    """ANN is deterministic, not heuristic: signatures are sign bits of
    dot products against FIXED literal hyperplanes (similarity.py
    _hyperplanes, Philox seed 42), probe buckets are the signature plus
    its 8 one-bit flips, and ranking is exact cosine on candidates —
    all expressible in SQL. The oracle regenerates the same planes and
    mirrors every step, so the gate checks the LSH path end to end."""
    from hunt_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8)
    bits = []
    for i, pl in enumerate(planes):
        arr = "[" + ", ".join(repr(float(v)) for v in pl) + "]"
        proj = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "x -> x[1]::DOUBLE * x[2]::DOUBLE))"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
    sig_expr = "\n         + ".join(bits)
    flips = ", ".join(f"({b})" for b in [0] + [1 << i for i in range(8)])
    return f"""
WITH sig AS (
  SELECT vec_id, {sig_expr} AS sig FROM embeddings
),
probes AS (
  SELECT s.vec_id AS probe_id, xor(s.sig::BIGINT, f.b::BIGINT) AS sig2
  FROM sig s, (VALUES {flips}) f(b)
  WHERE s.vec_id IN (0, 1, 2, 3, 4)
),
cand AS (
  SELECT DISTINCT p.probe_id, c.vec_id AS neighbor_id
  FROM probes p JOIN sig c ON c.sig = p.sig2 AND c.vec_id != p.probe_id
),
pairs AS (
  SELECT cand.probe_id, cand.neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> x[1]::DOUBLE * x[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
         AS c
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.probe_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT probe_id, neighbor_id,
         CAST(round(c * 10000) AS BIGINT) AS cosine_x1e4,
         row_number() OVER (
           PARTITION BY probe_id
           ORDER BY CAST(round(c * 10000) AS BIGINT) DESC, neighbor_id ASC
         ) AS rank
  FROM pairs
)
SELECT probe_id, neighbor_id, cosine_x1e4, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _embedding_near_dup_oracle(
    threshold: float = 0.45, n_planes: int = 16, n_bands: int = 8,
    dim: int = 64,
) -> str:
    """Mirror of similarity.embedding_near_dup_pairs: the same Philox
    seed-42 hyperplanes, the same per-band bit packing (bit i = plane i
    WITHIN the band, >= 0 convention), candidates = pairs agreeing on
    ANY band, exact float64 cosine on candidates, and the same
    integer-rounded threshold compare — so the gate checks the banded
    LSH dedup path end to end, not just the cosine arithmetic."""
    from hunt_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    per = n_planes // n_bands
    band_cols = []
    for j in range(n_bands):
        bits = []
        for i in range(per):
            arr = "[" + ", ".join(
                repr(float(v)) for v in planes[j * per + i]
            ) + "]"
            proj = (
                f"list_sum(list_transform(list_zip(embedding, {arr}), "
                "x -> x[1]::DOUBLE * x[2]::DOUBLE))"
            )
            bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
        band_cols.append("(" + " + ".join(bits) + f") AS s{j}")
    sig_select = ",\n         ".join(band_cols)
    band_match = " OR ".join(f"a.s{j} = b.s{j}" for j in range(n_bands))
    thr = int(round(threshold * 10000))
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
         {sig_select}
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({band_match})
),
scored AS (
  SELECT vec_id_a, vec_id_b,
         CAST(round(
           list_sum(list_transform(list_zip(ea, eb),
                                   x -> x[1]::DOUBLE * x[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE))))
           * 10000) AS BIGINT) AS cosine_x1e4
  FROM cand
)
SELECT vec_id_a, vec_id_b, cosine_x1e4 FROM scored WHERE cosine_x1e4 >= {thr}
"""


def _ivf_ann_oracle(n_cells: int = 16, n_probe: int = 4) -> str:
    """IVF is deterministic given the fixed pseudo-centroids
    (similarity.py ivf_centroids, Philox seed): cell assignment is
    argmax of literal-centroid dot products, probes visit their n_probe
    best cells, rerank is exact cosine — every step replayable in SQL.
    """
    from hunt_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(64, n_cells)
    dot_exprs = []
    for c in cents:
        arr = "[" + ", ".join(repr(float(v)) for v in c) + "]"
        dot_exprs.append(
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "x -> x[1]::DOUBLE * x[2]::DOUBLE))"
        )
    d_list = "[" + ",\n       ".join(dot_exprs) + "]"
    return f"""
WITH dots AS (
  SELECT vec_id, {d_list} AS d FROM embeddings
),
cells AS (
  SELECT vec_id, list_indexof(d, list_max(d)) AS cell, d FROM dots
),
probe_cells AS (
  SELECT vec_id AS probe_id, g.i AS cell,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY d[g.i] DESC, g.i ASC
         ) AS rnk
  FROM cells, generate_series(1, {n_cells}) g(i)
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
cand AS (
  SELECT DISTINCT p.probe_id, c2.vec_id AS neighbor_id
  FROM probe_cells p JOIN cells c2 ON c2.cell = p.cell
  WHERE p.rnk <= {n_probe} AND c2.vec_id != p.probe_id
),
pairs AS (
  SELECT cand.probe_id, cand.neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> x[1]::DOUBLE * x[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
         AS c
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.probe_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT probe_id, neighbor_id,
         CAST(round(c * 10000) AS BIGINT) AS cosine_x1e4,
         row_number() OVER (
           PARTITION BY probe_id
           ORDER BY CAST(round(c * 10000) AS BIGINT) DESC, neighbor_id ASC
         ) AS rank
  FROM pairs
)
SELECT probe_id, neighbor_id, cosine_x1e4, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def oracle_sql() -> dict[str, str]:
    toks = r"(SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents)"
    sim_sc = (
        "CASE WHEN term = 'sc' THEN 1.0 WHEN length(term) = 2 THEN 0.75 "
        "ELSE 0.5 * 2.0 / length(term) END"
    )
    sim_s = (
        "CASE WHEN term = 's' THEN 1.0 WHEN length(term) = 1 THEN 0.75 "
        "ELSE 0.5 * 1.0 / length(term) END"
    )
    base = {
        "idx_term_lookup": f"SELECT DISTINCT doc_id FROM {toks} WHERE term = 'spark'",
        "idx_text_small": f"SELECT DISTINCT doc_id FROM {toks} WHERE term = 'hash'",
        # title context = tokens of the source column only (the html's
        # <title> part); 'spark' lives only in body text, so the OR leg
        # adds nothing — implementation-independent semantics
        "idx_selector_title": (
            "SELECT doc_id FROM documents WHERE source = 'src3'"
        ),
        "idx_bool_and": (
            f"SELECT doc_id FROM {toks} WHERE term IN ('spark','hash') "
            "GROUP BY doc_id HAVING count(DISTINCT term) = 2"
        ),
        "idx_bool_or": (
            f"SELECT DISTINCT doc_id FROM {toks} WHERE term IN ('spark','hash')"
        ),
        "idx_bool_andnot": (
            f"SELECT DISTINCT doc_id FROM {toks} WHERE term = 'batch' "
            f"AND doc_id NOT IN (SELECT doc_id FROM {toks} WHERE term = 'dup')"
        ),
        "idx_phrase": r"""
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(text, '\w+')) AS term,
                              generate_subscripts(regexp_extract_all(text, '\w+'), 1) AS pos
                       FROM documents)
            SELECT DISTINCT a.doc_id
            FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'batch' AND b.term = 'batch'
        """,
        "idx_near": r"""
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(text, '\w+')) AS term,
                              generate_subscripts(regexp_extract_all(text, '\w+'), 1) AS pos
                       FROM documents)
            SELECT DISTINCT a.doc_id
            FROM t a JOIN t b ON a.doc_id = b.doc_id
            WHERE a.term = 'spark' AND b.term = 'hash'
              AND b.pos - a.pos BETWEEN -3 AND 3
        """,
        "idx_follow": r"""
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(text, '\w+')) AS term,
                              generate_subscripts(regexp_extract_all(text, '\w+'), 1) AS pos
                       FROM documents)
            SELECT DISTINCT a.doc_id
            FROM t a JOIN t b ON a.doc_id = b.doc_id
            WHERE a.term = 'spark' AND b.term = 'hash'
              AND b.pos - a.pos BETWEEN 1 AND 3
        """,
        "idx_bm25_offset": (
            _BM25_CTE
            + "SELECT doc_id, CAST(round(s * 10000) AS BIGINT) AS score_x1e4 "
            "FROM (SELECT doc_id, sum(idf * tfn) AS s FROM sc "
            "      WHERE term IN ('spark','hash') GROUP BY doc_id) "
            "ORDER BY score_x1e4 DESC, doc_id ASC LIMIT 10 OFFSET 5"
        ),
        "idx_bm25_single": _bm25(
            "SELECT doc_id, idf * tfn AS s FROM sc WHERE term = 'spark'"
        ),
        "idx_bm25_and": _bm25(
            "SELECT doc_id, sum(idf * tfn) AS s FROM sc "
            "WHERE term IN ('spark','hash') GROUP BY doc_id "
            "HAVING count(DISTINCT term) = 2"
        ),
        "idx_bm25_or": _bm25(
            "SELECT doc_id, sum(idf * tfn) AS s FROM sc "
            "WHERE term IN ('spark','hash') GROUP BY doc_id"
        ),
        "idx_bm25_boost": _bm25(
            "SELECT doc_id, sum(CASE WHEN term = 'spark' THEN idf * tfn * 2.0 "
            "ELSE idf * tfn END) AS s FROM sc "
            "WHERE term IN ('spark','hash') GROUP BY doc_id"
        ),
        "idx_bm25_prefix": _bm25(
            f"SELECT doc_id, max(({sim_sc}) * idf * tfn) AS s FROM sc "
            "WHERE term LIKE 'sc%' GROUP BY doc_id"
        ),
        "idx_bm25_range": _bm25(
            "SELECT doc_id, max(idf * tfn) AS s FROM sc "
            "WHERE term BETWEEN 'batch' AND 'join' GROUP BY doc_id"
        ),
        # WAND must be indistinguishable from the full plan => same oracle
        "idx_wand_and": _bm25(
            "SELECT doc_id, sum(idf * tfn) AS s FROM sc "
            "WHERE term IN ('spark','hash') GROUP BY doc_id "
            "HAVING count(DISTINCT term) = 2"
        ),
        "idx_wand_or": _bm25(
            "SELECT doc_id, sum(idf * tfn) AS s FROM sc "
            "WHERE term IN ('spark','hash') GROUP BY doc_id"
        ),
        # cumulative-doc-budget truncation mirrored in SQL: words in
        # word order, keep while the budget before the word is unspent
        "idx_prefix_doc_limit": _bm25(
            f"SELECT doc_id, max(({sim_sc}) * idf * tfn) AS s FROM sc "
            "WHERE term IN (SELECT term FROM ("
            "  SELECT term, df, sum(df) OVER (ORDER BY term "
            "    ROWS UNBOUNDED PRECEDING) AS cum"
            "  FROM (SELECT term, count(*) AS df FROM sc "
            "        WHERE term LIKE 'sc%' GROUP BY term))"
            "  WHERE cum - df < 5) "
            "GROUP BY doc_id"
        ),
        # shortest-first expansion cap (3 terms) mirrored in SQL
        "idx_prefix_word_limit": _bm25(
            f"SELECT doc_id, max(({sim_sc}) * idf * tfn) AS s FROM sc "
            "WHERE term IN (SELECT term FROM ("
            "  SELECT DISTINCT term FROM sc WHERE term LIKE 'sc%')"
            "  ORDER BY length(term), term LIMIT 3) "
            "GROUP BY doc_id"
        ),
        "idx_completion": (
            f"SELECT term, CAST(round(sum(({sim_s}) * tf) * 10000) AS BIGINT) AS score_x1e4 "
            f"FROM (SELECT doc_id, term, count(*) AS tf FROM {toks} GROUP BY 1, 2) "
            "WHERE term LIKE 's%' GROUP BY term "
            "ORDER BY score_x1e4 DESC, term ASC LIMIT 10"
        ),
        "txt_token_count": (
            r"SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) "
            "AS n_tokens FROM documents"
        ),
        # same pattern literal on both engines (no backrefs/lookarounds,
        # so Java regex == RE2); SQL doubles the leading quote
        "txt_token_count_bpe": (
            "SELECT doc_id, "
            "CAST(CASE WHEN trim(text) = '' THEN 0 ELSE "
            r"len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_words, "
            "CAST(len(regexp_extract_all(text, "
            r"'''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'"
            ")) AS INT) AS n_bpe_tokens FROM documents"
        ),
        "txt_quality": r"""
            WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk FROM documents)
            SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(round(len(list_distinct(tk)) * 10000.0 / len(tk)) AS BIGINT)
                     AS distinct_ratio_x1e4,
                   CAST(round(len(list_filter(tk, x -> x IN
                     ('the','a','of','to','and','in','is','it'))) * 10000.0 / len(tk))
                     AS BIGINT) AS stopword_ratio_x1e4,
                   CAST(round(list_sum(list_transform(tk, x -> length(x))) * 100.0
                     / len(tk)) AS BIGINT) AS mean_token_len_x100
            FROM t WHERE len(tk) > 0
        """,
        "txt_fingerprint": (
            r"SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
            r"regexp_extract_all(text, '\w+'))), ' ')) AS fp FROM documents"
        ),
        "txt_langid": r"""
            WITH t AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '\w+') AS tk
                       FROM documents),
            c AS (SELECT doc_id,
                         len(list_filter(tk, x -> x IN
                           ('the','a','of','to','and','in','is','it'))) AS en,
                         len(list_filter(tk, x -> x IN
                           ('der','die','das','und','ist','nicht','ein','zu'))) AS de
                  FROM t)
            SELECT doc_id, CASE WHEN en > de AND en > 0 THEN 'en'
                                WHEN de > en AND de > 0 THEN 'de'
                                ELSE 'unk' END AS pred_lang
            FROM c
        """,
        # typed-context twins: implementation-independent semantics over
        # the same doc_id-derived values (year/date/geo as raw numbers)
        "idx_int_range": (
            "SELECT doc_id FROM documents "
            "WHERE 1990 + doc_id % 40 BETWEEN 1995 AND 2010"
        ),
        "idx_date_range": (
            "SELECT doc_id FROM documents "
            "WHERE (1990 + doc_id % 30) * 10000 + (1 + doc_id % 12) * 100 "
            "+ (1 + doc_id % 28) BETWEEN 19950101 AND 20090615"
        ),
        "idx_date_regex_scan": (
            "SELECT doc_id FROM documents "
            "WHERE (1990 + (doc_id * 3) % 30) * 10000 "
            "+ (1 + (doc_id * 5) % 12) * 100 "
            "+ (1 + (doc_id * 7) % 28) BETWEEN 20010201 AND 20101010"
        ),
        # the +00:30 tz shift on the lower endpoint moves it past
        # midnight, so 1995-06-06 itself (a populated date) is
        # excluded — keys are packed at midnight; the Z upper bound is
        # a no-op shift
        "idx_date_tz_range": (
            "SELECT doc_id FROM documents "
            "WHERE (1990 + doc_id % 30) * 10000 + (1 + doc_id % 12) * 100 "
            "+ (1 + doc_id % 28) BETWEEN 19950607 AND 20090615"
        ),
        "idx_geo_rect": (
            "SELECT doc_id FROM documents "
            "WHERE doc_id % 900 BETWEEN 100 AND 499 "
            "AND (doc_id * 7) % 1790 BETWEEN 200 AND 999"
        ),
        "idx_geo_rtree": (
            "SELECT doc_id FROM documents "
            "WHERE (doc_id * 3) % 900 BETWEEN 150 AND 599 "
            "AND (doc_id * 11) % 1790 BETWEEN 300 AND 1199"
        ),
        # identical planted footers + identical pattern literals (no
        # backrefs/lookarounds => Java regex == RE2)
        "txt_pii": r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0 THEN
                          ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST((doc_id * 7) % 256 AS VARCHAR)
                          || ' ssn 123-45-6789'
                        ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN
                          ' call 555-123-4567 card 4111 1111 1111 1111'
                        ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                AS n_email,
              CAST(len(regexp_extract_all(text,
                '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(text,
                '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone,
              CAST(len(regexp_extract_all(text,
                '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_ccnum,
              CAST(len(regexp_extract_all(text,
                '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               + len(regexp_extract_all(text,
                '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
               + len(regexp_extract_all(text,
                '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
               + len(regexp_extract_all(text,
                '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
               + len(regexp_extract_all(text,
                '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_pii
            FROM p
        """,
        "txt_repetition": r"""
            WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk
                       FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(tk) - 1),
                                i -> tk[i] || ' ' || tk[i + 1])) AS gram
                  FROM t WHERE len(tk) >= 2),
            c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_grams,
                   CAST(round(max(cnt) * 10000.0 / sum(cnt)) AS BIGINT)
                     AS top_gram_frac_x1e4,
                   CAST(round(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)
                        * 10000.0 / sum(cnt)) AS BIGINT)
                     AS dup_gram_frac_x1e4
            FROM c GROUP BY doc_id
        """,
        "txt_contamination": r"""
            WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk
                       FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(
                           generate_series(1, len(tk) - 2),
                           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])))
                           AS gram
                  FROM t WHERE len(tk) >= 3),
            b AS (SELECT DISTINCT gram AS b_gram FROM g WHERE doc_id % 97 = 0)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_distinct_grams,
                   CAST(count(b.b_gram) AS BIGINT) AS n_contaminated,
                   CAST(round(count(b.b_gram) * 10000.0 / count(*)) AS BIGINT)
                     AS contaminated_frac_x1e4
            FROM g LEFT JOIN b ON g.gram = b.b_gram
            GROUP BY g.doc_id
        """,
        "txt_line_dedup": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_extract_all(text, '\w+') AS tk
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         generate_series(1, CAST(ceil(len(tk) / 3.0) AS INT)),
                         i -> array_to_string(tk[(i - 1) * 3 + 1 : i * 3], ' ')),
                       s -> s <> '') AS lines
              FROM d WHERE len(tk) >= 1
            ),
            e0 AS (
              SELECT doc_id, lines,
                     unnest(generate_series(1, len(lines))) AS pos
              FROM m
            ),
            e AS (SELECT doc_id, pos, lines[pos] AS line FROM e0),
            c AS (SELECT line, count(*) AS cnt FROM e GROUP BY 1),
            b AS (SELECT line AS b_line FROM c WHERE cnt >= 4)
            SELECT e.doc_id,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count(*) FILTER (WHERE b.b_line IS NULL) AS BIGINT)
                     AS n_kept,
                   coalesce(
                     string_agg(e.line, chr(10) ORDER BY e.pos)
                       FILTER (WHERE b.b_line IS NULL),
                     '') AS kept_text
            FROM e LEFT JOIN b ON e.line = b.b_line
            GROUP BY e.doc_id
        """,
        "txt_clean": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   trim(regexp_replace(
                     nfc_normalize(regexp_replace(
                       text || '  Cafe' || chr(769) || chr(9) || 'nai'
                            || chr(776) || 've ' || chr(7) || 'x'
                            || chr(11) || ' ',
                       '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')),
                     '\s+', ' ', 'g')) AS text_clean
            FROM documents
        """,
        "op_sample_stratified": r"""
            SELECT doc_id, lang FROM documents
            WHERE (doc_id * 2654435761) % 4294967296 <
              CASE lang WHEN 'en' THEN 2147483648
                        WHEN 'zh' THEN 429496730
                        ELSE 1073741824 END
        """,
        "op_sample_weighted": r"""
            WITH s AS (
              SELECT doc_id, lang,
                (CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 0 ELSE 1 END
                 + CASE WHEN (doc_id * 2654435761) % 4294967296 <
                     CASE lang WHEN 'en' THEN 2147483648
                               WHEN 'zh' THEN 2147483648
                               ELSE 1073741824 END
                   THEN 1 ELSE 0 END) AS n_copies
              FROM documents)
            SELECT doc_id, lang,
                   CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
                     AS copy_idx
            FROM s WHERE n_copies >= 1
        """,
        "pipeline_kept": r"""
            WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS tk
                       FROM documents),
            q AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
                  FROM t WHERE len(tk) >= 30),
            g AS (SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(tk) - 1),
                                i -> tk[i] || ' ' || tk[i + 1])) AS gram
                  FROM t WHERE len(tk) >= 2),
            c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            r AS (SELECT doc_id FROM c GROUP BY doc_id
                  HAVING round(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)
                         * 10000.0 / sum(cnt)) <= 1500),
            lw AS (SELECT doc_id,
                          regexp_extract_all(lower(text), '\w+') AS tk
                   FROM documents),
            l AS (SELECT doc_id FROM lw
                  WHERE NOT (
                    len(list_filter(tk, x -> x IN
                      ('der','die','das','und','ist','nicht','ein','zu'))) >
                    len(list_filter(tk, x -> x IN
                      ('the','a','of','to','and','in','is','it')))
                    AND len(list_filter(tk, x -> x IN
                      ('der','die','das','und','ist','nicht','ein','zu'))) > 0)),
            k AS (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY md5(text))
            SELECT d.doc_id, d.lang, q.n_tokens
            FROM documents d
            JOIN q ON d.doc_id = q.doc_id
            JOIN r ON d.doc_id = r.doc_id
            JOIN l ON d.doc_id = l.doc_id
            JOIN k ON d.doc_id = k.doc_id
            WHERE (d.doc_id * 2654435761) % 4294967296 <
              CASE d.lang WHEN 'en' THEN 2147483648
                          WHEN 'zh' THEN 429496730
                          ELSE 1073741824 END
        """,
        # canonical URL built CONSTRUCTIVELY from the clean parts (the
        # Spark side canonicalizes the messy spelling _web_urls built):
        # lower scheme+host, no www./port/fragment, path case kept, no
        # trailing slash, only the non-utm param survives
        "web_url_canonical": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
                   || '://' || source || '.example.com/' || lang
                   || '/Doc' || doc_id
                   || (CASE WHEN doc_id % 2 = 0 THEN '?q=' || doc_id
                       ELSE '' END) AS canon_url
            FROM documents
        """,
        "src_warc_ingest": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(200 AS BIGINT) AS http_status,
                   CAST(strlen(text) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "web_url_dedup": r"""
            WITH b AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars,
                     'http://site.example.com/page/' || (doc_id % 50)
                       AS canon_url
              FROM documents),
            r AS (
              SELECT canon_url, doc_id,
                     row_number() OVER (PARTITION BY canon_url
                                        ORDER BY n_chars DESC, doc_id)
                       AS rn
              FROM b),
            c AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs
                  FROM b GROUP BY 1)
            SELECT c.canon_url, c.n_docs, r.doc_id AS keep_doc_id
            FROM c JOIN r ON c.canon_url = r.canon_url AND r.rn = 1
        """,
        "web_url_filter": r"""
            WITH b AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     'h' || (doc_id % 25) || '.example.com' AS host,
                     CAST((CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
                        AS INT) AS url_score
              FROM documents)
            SELECT doc_id, host, url_score FROM b
            WHERE host NOT IN ('h3.example.com', 'h7.example.com')
              AND url_score <= 1
        """,
        "web_domain_cap": r"""
            WITH b AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     'h' || (doc_id % 25) || '.example.com' AS host,
                     (doc_id * 2654435761) % 4294967296 AS hh
              FROM documents)
            SELECT doc_id, host FROM (
              SELECT doc_id, host,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY hh, doc_id) AS rn
              FROM b) WHERE rn <= 7
        """,
        "dedup_exact": (
            "SELECT md5(text) AS text_md5, count(*) AS n_docs, "
            "min(doc_id) AS keep_doc_id FROM documents GROUP BY 1"
        ),
        "dedup_substring": "WITH " + _DUP_SPAN_CTES + r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(s AS BIGINT) AS span_start,
                   CAST(e AS BIGINT) AS span_end,
                   CAST(e - s + 1 AS BIGINT) AS span_tokens
            FROM sp
        """,
        "dedup_span_stats": "WITH " + _DUP_SPAN_CTES + r""",
            agg AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens
                    FROM sp GROUP BY doc_id),
            lens AS (SELECT doc_id, len(tk) AS n_tokens FROM t)
            SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   CAST(CASE WHEN n_tokens > 0
                        THEN round(coalesce(dup_tokens, 0) * 10000.0
                                   / n_tokens)
                        ELSE 0 END AS BIGINT) AS dup_frac_x1e4
            FROM lens l LEFT JOIN agg USING (doc_id)
        """,
        "dedup_strip_spans": "WITH " + _DUP_SPAN_CTES + r""",
            tok AS (SELECT doc_id,
                           unnest(generate_series(1, len(tk))) AS pos,
                           tk
                    FROM t),
            tok2 AS (SELECT doc_id, pos, tk[pos] AS tok FROM tok),
            keep AS (SELECT k.doc_id, k.pos, k.tok FROM tok2 k
                     WHERE NOT EXISTS (
                       SELECT 1 FROM sp
                       WHERE sp.doc_id = k.doc_id
                         AND k.pos BETWEEN sp.s AND sp.e))
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS text_stripped
            FROM keep GROUP BY doc_id
        """,
        "dedup_ngram_jaccard": _SHINGLE_PAIRS,
        # LSH with bands=8/rows=1 at this jaccard separation finds the
        # exact pair set — verified against the exhaustive oracle.
        "dedup_minhash_lsh": _SHINGLE_PAIRS,
        "dedup_simhash": _SIMHASH_PAIRS,
        "dedup_cluster": f"""
            WITH RECURSIVE pairs AS ({_SHINGLE_PAIRS}),
            edges AS (
              SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
              UNION
              SELECT doc_id_b, doc_id_a FROM pairs
            ),
            reach(n, l) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.n
            ),
            lab AS (SELECT n AS doc_id, min(l) AS cluster_id
                    FROM reach GROUP BY 1),
            alld AS (
              SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lab l USING (doc_id)
            ),
            sz AS (SELECT cluster_id, count(*) AS cluster_size
                   FROM alld GROUP BY 1)
            SELECT a.doc_id, a.cluster_id, sz.cluster_size,
                   CAST(a.doc_id = a.cluster_id AS INT) AS keep
            FROM alld a JOIN sz USING (cluster_id)
        """,
        "dedup_embedding": _embedding_near_dup_oracle(),
        "emb_cosine_topk": _COSINE_TOPK,
        # "approximate" w.r.t. exact kNN, but fully deterministic given
        # the fixed hyperplanes — the oracle replays the same plan
        "emb_ann_lsh": _lsh_ann_oracle(),
        "emb_ann_ivf": _ivf_ann_oracle(),
        "mm_payload_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS payload_md5,
                   CAST(octet_length(encode(text)) % 1024 AS INT) AS width,
                   CAST((octet_length(encode(text)) // 1024) % 1024 AS INT) AS height
            FROM documents
        """,
        # ASCII corpus => VARCHAR substring == byte slice of the UTF-8
        # payload (DuckDB has no BLOB substring)
        "mm_frame_sample": """
            WITH d AS (SELECT doc_id, text AS p,
                              octet_length(encode(text)) AS nb FROM documents)
            SELECT doc_id, CAST(g.j AS INT) AS frame_idx,
                   md5(substring(p, g.j * 64 + 1, 64)) AS frame_md5
            FROM d, generate_series(0, 28, 4) g(j)
            WHERE g.j < least(CAST(ceil(nb / 64.0) AS BIGINT), 32)
        """,
        # The fake decode kernel expands sha256(payload) into features,
        # so byte-identical payloads (same 64-char text prefix) map to
        # identical vectors with cosine exactly 1 (rounds to 10000),
        # and ANY differing payload decorrelates completely: a random
        # 32-dim cosine is N(0, 1/32), so reaching the 0.999 threshold
        # would take a 5.6-sigma fluke (~1e-8/pair) — the pair set is
        # exactly the identical-prefix pairs, expressible in SQL.
        "mm_near_dup": """
            WITH p AS (SELECT doc_id, substring(text, 1, 64) AS pp
                       FROM documents)
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   CAST(10000 AS BIGINT) AS cosine_x1e4
            FROM p a JOIN p b ON a.pp = b.pp AND a.doc_id < b.doc_id
        """,
        # real PNG decode: a uniform-color image mean-pools to exactly
        # v/255 in all 16 grid cells (v = pmod(doc_id, 256)); the value
        # never lands exactly on a .5 rounding boundary (10000*v/255 =
        # 2000v/51, and 4000v = 51*(odd) has no solution), so the
        # fixed-point form is engine-stable
        "mm_decode_png": """
            WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64),
                 i AS (SELECT unnest(generate_series(0, 15)) AS i)
            SELECT d.doc_id, CAST(i.i AS BIGINT) AS i,
                   CAST(round(((doc_id % 256 + 256) % 256) / 255.0 * 10000)
                        AS BIGINT) AS luma_x1e4
            FROM d CROSS JOIN i
        """,
        # crawler BFS: the same arithmetic link graph as synthetic_site
        # (page i -> (2i+1)%n, (3i+7)%n, and the same-host relative
        # successor i+3), robots-disallowed pages (i%17==3) excluded
        # from both emission and expansion; min BFS level through
        # allowed nodes via a recursive CTE. The lvl<240 recursion cap
        # only bounds cycle walks — every true min level is below it
        "crawl_frontier": """
            WITH RECURSIVE edges AS (
              SELECT i AS src, (2*i + 1) % 240 AS dst FROM range(240) t(i)
              UNION ALL
              SELECT i, (3*i + 7) % 240 FROM range(240) t(i)
              UNION ALL
              SELECT i, i + 3 FROM range(237) t(i)
            ),
            reach(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION
              SELECT e.dst, r.lvl + 1
              FROM reach r JOIN edges e ON e.src = r.id
              WHERE e.dst % 17 <> 3 AND r.lvl < 240
            )
            SELECT id AS doc_id, CAST(min(lvl) AS BIGINT) AS level
            FROM reach GROUP BY id
        """,
        "evt_sessionize": """
            WITH e AS (
              SELECT user_id, event_id, ts, value,
                     -- microsecond gap arithmetic on BOTH engines:
                     -- epoch() is a DOUBLE (fractional seconds) and the
                     -- Spark side now compares unix_micros, so a gap
                     -- straddling the 30-min boundary by a fraction
                     -- splits identically
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id))
                          > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS brk
              FROM events
            ),
            s AS (
              SELECT *, sum(brk) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM e
            )
            -- CAST: DuckDB types a windowed sum() of integers as
            -- HUGEINT, which the pandas fetch path converts to
            -- float64 ("3.0" vs Spark's int64 "3") — the one
            -- engine-specific column in the whole oracle surface
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_sum_x100
            FROM s GROUP BY 1, 2
        """,
        "cmp_query_and": r"""
            WITH toks AS (
              SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            docset AS (
              SELECT DISTINCT doc_id FROM toks WHERE lower(term) = 'spark'
            )
            SELECT term,
                   CAST(round(sum((CASE WHEN term = 'ha' THEN 1.0
                                        WHEN length(term) = 2 THEN 0.75
                                        ELSE 0.5 * 2.0 / length(term) END) * tf)
                              * 10000) AS BIGINT) AS score_x1e4
            FROM tf JOIN docset USING (doc_id)
            WHERE lower(term) LIKE 'ha%'
            GROUP BY term ORDER BY score_x1e4 DESC, term ASC LIMIT 10
        """,
    }
    # queries()' order, so the two dicts stay positionally aligned; a
    # rows-only gate (no oracle SQL) is simply absent here
    return {k: base[k] for k in GATE_ORDER if k in base}
