"""Inverted-index build pipeline (the distributed analogue of Hunt's
insert path: Hunt/Interpreter.hs:421-480 -> ContextIndex.hs:218-265 ->
IndexWriter.hs:78-176).

Stages (each committed as a catalog snapshot; resumable):

1. ``doc_meta``  — (doc_id, url, weight, lang, warc_ts [, description
   map<string,string>]); doc_id = xxhash64(url) (Hunt uses Murmur64 of
   the URI, DocId.hs:76-77 — same role: deterministic 64-bit id, no
   global id-assignment shuffle). ``description`` is Hunt's arbitrary
   per-doc key/value payload (DocDesc.hs:38-44) with values carried as
   strings (typed values JSON-encoded — the FV_Json convention).
2. ``postings``  — (context, shard, term, term_lc, doc_id, tf, dl,
   positions). Built **map-side**: tokens of one document live in one
   row, so the (term -> positions) inversion happens inside an Arrow
   UDF per document with *zero shuffle* — only the final layout
   repartition by (context, shard, salt) moves data. At 100 TB this is
   the difference between shuffling all tokens (posexplode+groupBy)
   and shuffling already-aggregated postings (~3-5x smaller).
   ``dl`` (per-doc-context token count) is denormalized into the
   posting row so BM25 scoring never joins the doc table.
   Layout: partitioned by (context, shard=pmod(xxhash64(term_lc), S)),
   sorted within files by (term_lc, doc_id) => parquet min/max row-group
   pruning makes term lookups near-index-speed; a salt key spreads
   hot-term shards across writer tasks (stopword skew).
3. ``stats``     — the ``STATS_TABLES``: context_stats (context, n_docs,
   avg_dl), term_stats (context, term_lc, df, max_tf) broadcast to the
   scorer, and term_totals (context, term, term_lc, sum_tf) for
   completion. df = docs containing the term case-insensitively.
4. ``blocks``    — grouped compressed artifact: postings split into
   doc_id-range blocks of <= block_size entries per (context, term_lc),
   each block delta+varbyte packed (doc ids) with the tf and dl its
   BM25 contributions are decoded from (plans/wand.py scores WAND-
   shaped queries from it). Block count per term scales with df
   (two-phase: df join -> range split -> bounded groupBy), so no group
   ever exceeds block_size — hot terms cannot blow executor memory.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hunt_spark.sources.catalog import IndexCatalog

BM25_K1 = 1.2
BM25_B = 0.75


@dataclass
class BuildConfig:
    n_shards: int = 8
    salt_buckets: int = 4  # writer-task spread per (context, shard)
    block_size: int = 4096  # max postings per compressed block
    context_weights: dict[str, float] = field(default_factory=dict)
    # per-context type: "text" (default) | "text-small" | "int" |
    # "date" | "geo" (reference wire names "position"/"position-rtree"
    # are accepted aliases of geo — Schema.hs ctPosition:165-171,
    # ctPositionRTree:173-179 share key syntax and query surface) —
    # drives the analysis normalizer chain (build side via
    # normalize_context_col, query side via CONTEXT_NORMS_PY)
    context_types: dict[str, str] = field(default_factory=dict)
    build_blocks: bool = True
    # context columns are raw html binary; a vectorized Arrow UDF
    # extracts the text before the JVM tokenizer
    extract_html: bool = False
    # per-context extraction selectors (html-hunter "-c cx:xpath",
    # HtmlHunter.hs:107-142,288-340): context name -> "title" |
    # "headlines" | "body" | "//tag" | "/a/b/c". Contexts not listed
    # keep the whole-document extraction. Only meaningful with
    # extract_html=True.
    context_selectors: dict[str, str] = field(default_factory=dict)
    # per-context named normalizer chain (ContextSchema cxNormalizer,
    # Schema.hs:85; wire key "normalizers"): names from the reference's
    # default set (UpperCase/LowerCase/ZeroFill, Interpreter.hs:187-189
    # — CHAIN_NORMALIZERS in functions.analysis), folded left-to-right
    # after scan+validate and before the type's key layout, on both the
    # build and the query side (normalize' Schema.hs:247-249,
    # normQueryCx Processor.hs:160-181).
    context_normalizers: dict[str, list] = field(default_factory=dict)
    # per-context default flag (ContextSchema cxDefault, Schema.hs:89):
    # contexts marked False are excluded from queries WITHOUT a context
    # specifier (Processor.hs:189 initProcessor filters the fan-out
    # set); explicit "cx:..." restriction still reaches them. Absent =
    # True, the reference default.
    context_defaults: dict[str, bool] = field(default_factory=dict)
    # per-context scan-regex override (ContextSchema cxRegEx,
    # Schema.hs:77-92): tokens are the regex's matches in document
    # order (scanTextRE, empties dropped) instead of the default scan
    # (\w+ for text contexts, whitespace for typed ones). The regex
    # runs JVM-side (regexp_extract_all) and in its Python reference
    # (scan_py, which the tests compare against), so it must stay in
    # the Java/Python-common syntax (no backrefs needed by the
    # reference defaults — REFERENCE_SCAN_REGEXES in
    # functions.analysis carries the Schema.hs:125-179 per-type set).
    context_regexes: dict[str, str] = field(default_factory=dict)


POSTINGS_SCHEMA = (
    "doc_id long, context string, term string, tf int, positions array<int>, dl int"
)


def _text_scan_overrides(cfg: BuildConfig) -> dict[str, str]:
    """cxRegEx overrides that apply at the TOKENIZE stage — i.e. on
    text/text-small contexts, whose custom tokens (possibly containing
    non-word chars) must never pass through a \\w+ re-scan. Typed
    contexts apply their override inside normalize_context_col
    instead (their normalized output is \\w-safe by construction)."""
    return {
        cx: rx
        for cx, rx in cfg.context_regexes.items()
        if cfg.context_types.get(cx, "text") in ("text", "text-small")
    }


def _text_chains(cfg: BuildConfig) -> dict[str, list]:
    """cxNormalizer chains on TEXT-family contexts apply at the
    tokenize stage (typed contexts apply theirs inside
    normalize_context_col, before their key layout)."""
    return {
        cx: list(ns)
        for cx, ns in cfg.context_normalizers.items()
        if ns and cfg.context_types.get(cx, "text") in ("text", "text-small")
    }


def _tokenize_expr(cfg: BuildConfig):
    """Per-context tokenizer over the stacked (context, text) frame:
    the default \\w+ scan, with scanTextRE branches for contexts
    carrying a cxRegEx override and normalize' folds for contexts
    carrying a cxNormalizer chain — a JVM CASE expression, still
    inside whole-stage codegen."""
    from hunt_spark.functions.analysis import (
        chain_norm_expr,
        scan_tokens_col,
        tokenize_col,
    )

    default = tokenize_col(F.col("text"))
    scans = _text_scan_overrides(cfg)
    chains = _text_chains(cfg)
    expr = default
    for cx in sorted(set(scans) | set(chains)):
        base = (
            scan_tokens_col(F.col("text"), scans[cx])
            if cx in scans
            else default
        )
        ch = chains.get(cx)
        if ch:
            base = F.filter(
                F.transform(base, lambda t: chain_norm_expr(t, ch)),
                lambda x: x.isNotNull(),
            )
        expr = F.when(F.col("context") == cx, base).otherwise(expr)
    return expr


def _invert_arrow(tokenized: DataFrame) -> DataFrame:
    """Arrow-native inversion over JVM-tokenized rows.

    Input: (doc_id, context, toks array<string>, dl int), dl > 0.
    The kernel touches no Python string objects: token bytes stay in
    Arrow buffers end to end (dictionary_encode + take are Arrow C++),
    the per-batch fold is numpy over int index arrays, and the
    positions column is a zero-copy ListArray. Rows are pinned against
    a Python reference inversion (1-based positions over surviving
    tokens) by tests/test_analysis.py."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("context", pa.string()),
            ("term", pa.string()),
            ("tf", pa.int32()),
            ("positions", pa.list_(pa.int32())),
            ("dl", pa.int32()),
        ]
    )

    def go(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # one Arrow worker thread per task: the default pool is
        # os.cpu_count() PER python worker, so 32 tasks x 32 threads
        # oversubscribe the box and the stage anti-scales (measured
        # 35s@8 -> 45s@32 before this pin)
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            toks = b.column("toks")
            lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            flat = pc.list_flatten(toks)
            total = len(flat)
            if total == 0:
                continue
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy()
            doc_idx = np.repeat(np.arange(n), lens)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pos1 = (np.arange(total) - starts[doc_idx] + 1).astype(np.int32)
            order = np.lexsort((codes, doc_idx))  # by doc, then term code
            d_s, c_s = doc_idx[order], codes[order]
            brk = np.flatnonzero((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1]))
            g_start = np.concatenate(([0], brk + 1))
            g_end = np.concatenate((brk + 1, [total]))
            head = pa.array(d_s[g_start])
            pos_offsets = pa.array(
                np.concatenate(([0], g_end)).astype(np.int32), type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(b.column("doc_id"), head),
                    pc.take(b.column("context"), head),
                    pc.take(enc.dictionary, pa.array(c_s[g_start])),
                    pa.array((g_end - g_start).astype(np.int32)),
                    pa.ListArray.from_arrays(pos_offsets, pa.array(pos1[order])),
                    pc.take(b.column("dl"), head),
                ],
                schema=out_schema,
            )

    return tokenized.mapInArrow(go, schema=POSTINGS_SCHEMA)


def postings_from_contexts(
    docs: DataFrame, context_cols: dict[str, Column], cfg: BuildConfig
) -> DataFrame:
    """docs must carry ``doc_id``; context_cols maps context name ->
    string column with that context's raw text (or raw html binary when
    cfg.extract_html is set — extraction runs in a vectorized Arrow UDF
    before the JVM tokenizer). Tokens come from one JVM expression per
    context (_tokenize_expr) and are inverted by the Arrow kernel
    _invert_arrow."""
    from hunt_spark.functions.analysis import extract_text_udf, normalize_context_col

    cast_to = "binary" if cfg.extract_html else "string"

    typed_names = [
        n
        for n in context_cols
        if cfg.context_types.get(n, "text") not in ("text", "text-small")
    ]
    sel_udf = None
    if cfg.extract_html and cfg.context_selectors:
        from hunt_spark.functions.analysis import make_selector_extract_udf

        sel_udf = make_selector_extract_udf(cfg.context_selectors)

    def prepared(name: str, col: Column) -> Column:
        ctype = cfg.context_types.get(name, "text")
        # "text-small" (Schema.hs:138-144 ctTextSimple) tokenizes like
        # text; it differs only in not STORING positions (below)
        if ctype in ("text", "text-small"):
            return col.cast(cast_to)
        # typed contexts: validate+normalize into a token stream whose
        # \w+ re-tokenization is the normalized terms (positions stay
        # 1-based over surviving tokens — Hunt Analyze.hs:62-84 order);
        # a cxRegEx override replaces the whitespace scan in there.
        # With html input the extraction MUST run before the validator
        # (the date/int/geo grammars reject markup-wrapped tokens, so
        # normalize-then-extract silently indexed nothing); downstream
        # extraction passes skip these already-extracted rows.
        s = col.cast("string")
        if cfg.extract_html:
            if sel_udf is not None and name in cfg.context_selectors:
                s = sel_udf(F.lit(name), s)
            else:
                s = extract_text_udf(col.cast("binary"))
        return normalize_context_col(
            s, ctype,
            scan_regex=cfg.context_regexes.get(name),
            chain=cfg.context_normalizers.get(name),
        ).cast(cast_to)

    per_cx = [
        docs.select(
            "doc_id", F.lit(name).alias("context"), prepared(name, col).alias("text")
        )
        for name, col in context_cols.items()
    ]
    stacked = per_cx[0]
    for d in per_cx[1:]:
        stacked = stacked.unionByName(d)
    if cfg.extract_html:
        # one vectorized Arrow pass extracts every row's text before the
        # JVM tokenizer: per-context selector feeds (html-hunter
        # "-c cx:xpath") route each row's context to its selector, other
        # builds take the whole-document extraction (the byte-identity
        # contract with _extract_one). Typed-context rows were
        # extracted+normalized in prepared() — re-extracting their key
        # stream would corrupt it.
        ext = (
            sel_udf(F.col("context"), F.col("text"))
            if sel_udf is not None
            else extract_text_udf("text")
        )
        if typed_names:
            ext = F.when(
                F.col("context").isin(typed_names), F.col("text").cast("string")
            ).otherwise(ext)
        stacked = stacked.withColumn("text", ext)
    tokenized = (
        stacked.withColumn("toks", _tokenize_expr(cfg))
        .withColumn("dl", F.size("toks").cast("int"))
        .filter(F.col("dl") > 0)
        .select("doc_id", "context", "toks", "dl")
    )
    p = _invert_arrow(tokenized)
    small = sorted(
        cx for cx, t in cfg.context_types.items() if t == "text-small"
    )
    if small:
        # positions-free contexts (ctTextSimple, Schema.hs:138-144):
        # null the widest posting column for them. With the (context,
        # shard) partition layout a text-small context's parquet files
        # carry only definition levels for it — the storage and shuffle
        # width of positions is never paid. Phrase/NEAR/FOLLOW on such
        # a context is rejected at compile time.
        p = p.withColumn(
            "positions",
            F.when(F.col("context").isin(small), F.lit(None))
            .otherwise(F.col("positions")),
        )
    return p.withColumn("term_lc", F.lower("term")).withColumn(
        "shard", F.pmod(F.xxhash64("term_lc"), F.lit(cfg.n_shards)).cast("int")
    )


def schema_values_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(context, ctype, weight) rows as a JVM-only literal DataFrame —
    ``createDataFrame`` on driver-local data evaluates through pickled
    RDD partitions and spawns Python workers just to write 3 rows
    (measured seconds of fixed overhead per build); a VALUES plan is
    pure Catalyst."""
    if not rows:
        return spark.createDataFrame(
            [],
            "context string, ctype string, weight double, regex string, "
            "cxdefault boolean, normalizers string",
        )

    def _lit(s: str | None) -> str:
        # Spark SQL literals treat backslash as an escape ('\w' parses
        # to 'w'); regexes must double it to round-trip
        if s is None:
            return "NULL"
        return "'{}'".format(s.replace("\\", "\\\\").replace("'", "''"))

    vals = ", ".join(
        "('{}', '{}', CAST({!r} AS DOUBLE), CAST({} AS STRING), {}, "
        "CAST({} AS STRING))".format(
            cx.replace("'", "''"), t.replace("'", "''"), float(w), _lit(rx),
            "true" if d else "false",
            # normalizer chain as a comma-joined name list (names are
            # identifiers — no escaping needed); empty -> NULL
            _lit(",".join(ns) if ns else None),
        )
        for cx, t, w, rx, d, ns in rows
    )
    return spark.sql(
        f"SELECT col1 AS context, col2 AS ctype, col3 AS weight, "
        f"col4 AS regex, col5 AS cxdefault, col6 AS normalizers "
        f"FROM VALUES {vals}"
    ).coalesce(1)


def context_stats(postings: DataFrame) -> DataFrame:
    """(context, n_docs, avg_dl) — one row per context.

    Single-shuffle form: dl is by construction the sum of tf over the
    doc's terms in that context (both count the surviving tokens), so
    sum_docs(dl) == sum(tf) over ALL postings — no per-doc grouping
    needed, and avg_dl = sum(tf)/countDistinct(doc_id) is exactly equal
    to the former avg-over-distinct-docs form (integer sums, same final
    double division; equality pinned by test). The old two-level
    groupBy(context, doc_id) -> groupBy(context) shuffled a doc-count-
    sized intermediate; this is one partial-aggregated pass."""
    return postings.groupBy("context").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avg_dl"),
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(context, term_lc, df, max_tf). df counts *distinct docs*
    containing the term case-insensitively (Hunt's NoCase trie walk,
    PrefixTreeIndex.hs:91-98) — a doc holding both "Brain" and "brain"
    counts once; map-side partial aggregation absorbs hot-term skew."""
    return postings.groupBy("context", "term_lc").agg(
        F.countDistinct("doc_id").alias("df"), F.max("tf").alias("max_tf")
    )


def term_totals(postings: DataFrame) -> DataFrame:
    """(context, term, term_lc, sum_tf) — vocabulary-sized collection-
    frequency table. Unfiltered completion score for a term is exactly
    sim(prefix, term) * sum_tf (Intermediate.hs:479-484 sum over docs
    of sim x tf, with sim constant per term), so prefix completion can
    be answered from this dictionary instead of a postings scan — at
    web scale that's vocab rows vs trillions. Map-side partial sums
    absorb hot-term skew like term_stats."""
    return postings.groupBy("context", "term", "term_lc").agg(
        F.sum("tf").alias("sum_tf")
    )


# The derived stats tables, declared once: name -> (derivation from
# postings, sort_within_by of the commit). build_index commits one stage
# per entry; HuntEngine's refresh and compact commit the same entries
# over the live postings, and the incremental insert merge commits its
# merged frames through commit_stats too. term_stats/term_totals are
# sorted by term_lc so the completion path's startswith predicate
# prunes via parquet row-group min/max — no hive partitioning; a prefix
# never maps to one hash shard.
STATS_TABLES = {
    "context_stats": (context_stats, None),
    "term_stats": (term_stats, ["context", "term_lc"]),
    "term_totals": (term_totals, ["context", "term_lc"]),
}


def commit_stats(
    catalog: IndexCatalog, name: str, key: str, frame: DataFrame
) -> dict:
    """Commit ``frame`` as the stats table ``name`` in its declared
    layout; returns the manifest entry."""
    return catalog.commit(frame, name, key, sort_within_by=STATS_TABLES[name][1])


def commit_all_stats(catalog: IndexCatalog, postings: DataFrame, prefix: str) -> None:
    """Derive and commit every stats table from ``postings`` under the
    stage keys ``{prefix}/{name}``."""
    for name, (derive, _sort) in STATS_TABLES.items():
        commit_stats(catalog, name, f"{prefix}/{name}", derive(postings))


def idf_col(df_col: Column, n_docs: Column) -> Column:
    """BM25 idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (SURVEY.md §2.6 R8)."""
    return F.log(F.lit(1.0) + (n_docs - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def tf_norm_col(tf: Column, dl: Column, avg_dl: Column) -> Column:
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    return (tf * (k1 + F.lit(1.0))) / (
        tf + k1 * (F.lit(1.0) - b + b * dl / avg_dl)
    )


def build_blocks(
    spark: SparkSession, postings: DataFrame, tstats: DataFrame, cfg: BuildConfig,
) -> DataFrame:
    """Compressed grouped artifact.

    Two-phase bounded grouping: join per-term df, derive n_blocks =
    ceil(df / block_size), assign each posting to a doc-hash *range*
    block (xxhash64 ids are uniform, so equal ranges balance), then
    repartition to the (context, shard) write layout, sort within
    partitions by (context, term_lc, block_id, doc_id) and pack each
    contiguous group in one streaming Arrow pass. No collect_list (no
    executor-side buffering of whole groups through the aggregator), no
    per-entry Python objects — groups are numpy slices of the sorted
    batch. A carry buffer stitches groups split across Arrow batches;
    it is bounded by one group (<= ~block_size postings).

    Storage contract per block: delta+varbyte doc ids; tf + dl int32
    arrays (parquet-friendly small ints); ``variants`` holds the
    original-case term ONLY where it differs from term_lc (null
    otherwise — RLE collapses it), letting the decoder reproduce Hunt's
    similarity weighting (Keys.hs:42-54) without storing 40M strings.
    BM25 contributions are recomputed at decode time from (tf, dl, df)
    + collection stats with the same IEEE double expression the full
    plan uses.
    """
    n_blocks = F.greatest(
        F.lit(1), F.ceil(F.col("df") / F.lit(cfg.block_size))
    ).cast("long")
    # Exact integer block assignment over the doc-id hash space: u32 =
    # order-preserving top 32 bits of the signed doc_id, block_id =
    # (u32 * n_blocks) >> 32. Pure long arithmetic: the assignment is
    # stable across rebuilds and platforms.
    u32 = F.shiftrightunsigned(F.col("doc_id"), 32).bitwiseXOR(F.lit(0x80000000))
    block_id = F.shiftright(u32 * F.col("n_blocks"), 32).cast("int")

    # Pack-stage layout: (context, shard) alone caps parallelism at
    # n_contexts x n_shards tasks however many cores exist. A term-level
    # sub-bucket multiplies the key space while keeping every
    # (context, term_lc, block_id) group in ONE partition (all rows of a
    # term_lc hash to the same bucket), which is all the pack kernel's
    # contiguity contract needs. ~4 keys per partition and context
    # smooths the balls-in-bins imbalance of hashing few keys into as
    # many tasks.
    n_pack_parts = max(cfg.n_shards, 2 * spark.sparkContext.defaultParallelism)
    sub_buckets = max(1, (4 * n_pack_parts) // cfg.n_shards)
    pack_bucket = F.pmod(F.xxhash64("term_lc"), F.lit(sub_buckets))

    # slim shuffle: ship only what the pack kernel needs — the
    # original-case term collapses to a mostly-null variant. df DOES
    # ride the pack shuffle (8 B/row): the r5 form re-joined it onto
    # the packed output from a second term_stats aggregation, which
    # re-reads and re-aggregates the whole postings table inside the
    # blocks job — one full corpus scan traded for 8 bytes/row of
    # shuffle (guide §1.2: fewer passes; measured two extra
    # postings-scan+agg subtrees in the r5 blocks plan).
    pre = (
        postings.join(tstats.select("context", "term_lc", "df"),
                      ["context", "term_lc"])
        .withColumn("n_blocks", n_blocks)
        .withColumn("block_id", block_id)
        .select(
            "context", "shard", "term_lc", "block_id", "doc_id",
            F.when(F.col("term") != F.col("term_lc"), F.col("term")).alias("variant"),
            F.col("tf").cast("int").alias("tf"),
            F.col("dl").cast("int").alias("dl"),
            F.col("df").cast("long").alias("df"),
        )
        .repartition(n_pack_parts, "context", "shard", pack_bucket)
        # `variant` is a deterministic tiebreak: a doc holding both
        # "Brain" and "brain" yields two rows with identical
        # (context, term_lc, block_id, doc_id) — without it the
        # variants/tfs/dls array order inside a block is run-dependent
        # and the artifact is not byte-stable across rebuilds.
        .sortWithinPartitions(
            "context", "term_lc", "block_id", "doc_id", "variant"
        )
    )

    def pack_arrow(batches):
        """Arrow-native pack: the 43M-row sorted stream never becomes
        pandas object columns. Group boundaries come from dictionary
        codes, the delta+varbyte buffer is ONE whole-batch pack sliced by
        cumulative widths into a zero-copy BinaryArray, and the
        variants/tfs/dls list columns are zero-copy ListArrays over the
        group offsets."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from hunt_spark.functions.varbyte import _varbyte_pack_flat

        out_schema = pa.schema(
            [
                ("context", pa.string()),
                ("shard", pa.int32()),
                ("term_lc", pa.string()),
                ("block_id", pa.int32()),
                ("n_postings", pa.int64()),
                ("doc_ids_vb", pa.binary()),
                ("variants", pa.list_(pa.string())),
                ("tfs", pa.list_(pa.int32())),
                ("dls", pa.list_(pa.int32())),
                ("df", pa.int64()),
            ]
        )

        def emit(tbl: "pa.Table"):
            b = tbl.combine_chunks()
            n = b.num_rows
            cols = {name: b.column(name).chunk(0) for name in b.column_names}
            cx_enc = pc.dictionary_encode(cols["context"])
            lc_enc = pc.dictionary_encode(cols["term_lc"])
            cx_c = cx_enc.indices.to_numpy()
            lc_c = lc_enc.indices.to_numpy()
            bid = cols["block_id"].to_numpy()
            brk = np.flatnonzero(
                (cx_c[1:] != cx_c[:-1])
                | (lc_c[1:] != lc_c[:-1])
                | (bid[1:] != bid[:-1])
            )
            starts = np.concatenate(([0], brk + 1))
            ends = np.concatenate((brk + 1, [n]))
            # whole-batch delta+varbyte: absolute value at group starts,
            # mod-2^64 gaps elsewhere (sorted within group => exact)
            au = cols["doc_id"].to_numpy().astype(np.uint64)
            deltas = np.empty(n, dtype=np.uint64)
            deltas[0] = au[0]
            np.subtract(au[1:], au[:-1], out=deltas[1:])
            deltas[starts] = au[starts]
            buf, widths = _varbyte_pack_flat(deltas)
            byte_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(widths, out=byte_off[1:])
            group_byte_off = byte_off[np.concatenate((starts, [n]))].astype(np.int32)
            vb = pa.Array.from_buffers(
                pa.binary(), len(starts),
                [None, pa.py_buffer(group_byte_off), pa.py_buffer(buf)],
            )
            offs = pa.array(
                np.concatenate((starts, [n])).astype(np.int32), type=pa.int32()
            )
            heads = pa.array(starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(cols["context"], heads),
                    pc.take(cols["shard"], heads),
                    pc.take(cols["term_lc"], heads),
                    pc.take(cols["block_id"], heads),
                    pa.array((ends - starts).astype(np.int64)),
                    vb,
                    pa.ListArray.from_arrays(offs, cols["variant"]),
                    pa.ListArray.from_arrays(offs, pc.cast(cols["tf"], pa.int32())),
                    pa.ListArray.from_arrays(offs, pc.cast(cols["dl"], pa.int32())),
                    pc.take(cols["df"], heads),
                ],
                schema=out_schema,
            )

        def go(batches):
            if pa.cpu_count() != 1:
                pa.set_cpu_count(1)  # see _invert_arrow: avoid 32x32 threads
            carry: "pa.Table" | None = None
            for rb in batches:
                t = pa.Table.from_batches([rb])
                if carry is not None:
                    t = pa.concat_tables([carry, t]).combine_chunks()
                    carry = None
                n = t.num_rows
                if n == 0:
                    continue
                # hold back the (possibly incomplete) trailing group —
                # vectorized trailing-run detection
                tc = t.combine_chunks()
                cxc = pc.dictionary_encode(tc.column("context").chunk(0)).indices.to_numpy()
                lcc = pc.dictionary_encode(tc.column("term_lc").chunk(0)).indices.to_numpy()
                bid = tc.column("block_id").chunk(0).to_numpy()
                not_last_grp = (
                    (cxc != cxc[-1]) | (lcc != lcc[-1]) | (bid != bid[-1])
                )
                idx = np.flatnonzero(not_last_grp)
                cut = int(idx[-1] + 1) if len(idx) else 0
                carry = tc.slice(cut)
                if cut:
                    yield from emit(tc.slice(0, cut))
            if carry is not None and carry.num_rows:
                yield from emit(carry)

        return go(batches)

    packed_schema = (
        "context string, shard int, term_lc string, block_id int, "
        "n_postings long, doc_ids_vb binary, "
        "variants array<string>, tfs array<int>, dls array<int>, df long"
    )
    return pre.mapInArrow(pack_arrow, schema=packed_schema).select(
        "context", "shard", "term_lc", "block_id", "n_postings", "df",
        "doc_ids_vb", "variants", "tfs", "dls",
    )


def commit_blocks(
    spark: SparkSession, catalog: IndexCatalog, postings: DataFrame,
    cfg: BuildConfig, key: str,
) -> dict:
    """Build the blocks artifact from ``postings`` and commit it in the
    (context, shard) layout the WAND reader prunes by. The df input is
    an in-job aggregation with term_stats' expression, so the artifact
    is byte-identical to one built from the committed table."""
    blocks = build_blocks(spark, postings, term_stats(postings), cfg)
    return catalog.commit(
        blocks, "blocks", key,
        partition_by=["context", "shard"],
        sort_within_by=["term_lc", "block_id"],
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    context_cols: dict[str, Column],
    catalog: IndexCatalog,
    cfg: BuildConfig | None = None,
    build_id: str = "full",
    resume: bool = True,
) -> dict[str, dict]:
    """Run all build stages; returns {stage: manifest entry}.

    ``build_id`` fingerprints the input — rerunning with the same id
    skips committed stages (the gen_N / RevSpec resume contract,
    Hunt/SegmentIndex/Open.hs:80-108).
    """
    cfg = cfg or BuildConfig()
    entries: dict[str, dict] = {}
    build_t0 = time.time()

    def stage(name: str, fn) -> dict:
        key = f"{build_id}/{name}"
        if resume:
            done = catalog.completed_stage(key)
            if done is not None:
                entries[name] = done
                return done
        t_start = time.time()
        e = fn(key)
        # span offsets relative to build start — the scaling ladder's
        # critical-path audit needs WHERE a stage sat, not just how
        # long it ran (gaps between spans = core-invariant driver time)
        e["t0_s"] = round(t_start - build_t0, 2)
        e["t1_s"] = round(time.time() - build_t0, 2)
        entries[name] = e
        return e

    if "doc_id" not in docs.columns:
        docs = docs.withColumn("doc_id", F.xxhash64("url"))
    if "url" not in docs.columns:
        # zero-padded so lexicographic url order == numeric doc_id order
        # bias by 2^63 into an unsigned 20-digit decimal: exact for the
        # FULL long range (lpad would TRUNCATE ids longer than the pad
        # width, colliding distinct docs) and order-isomorphic with the
        # signed doc_id, negatives included
        bias = F.lit(str(2**63)).cast("decimal(20,0)")  # 2^63 > max long
        docs = docs.withColumn(
            "url",
            F.lpad(
                (F.col("doc_id").cast("decimal(20,0)") + bias)
                .cast("decimal(20,0)").cast("string"),
                20,
                "0",
            ),
        )
    if "weight" not in docs.columns:
        docs = docs.withColumn("weight", F.lit(1.0))

    meta_cols = [
        c
        for c in ("doc_id", "url", "weight", "lang", "warc_ts", "description")
        if c in docs.columns
    ]
    # context schema registry (Hunt's ContextSchema, kept per Insert/
    # DeleteContext verbs — Interpreter/Command.hs:71-75): makes the
    # context set durable so a reopened engine and runtime context
    # verbs agree on it even for contexts with no postings yet
    schema_rows = [
        (
            cx,
            cfg.context_types.get(cx, "text"),
            float(cfg.context_weights.get(cx, 1.0)),
            cfg.context_regexes.get(cx),
            bool(cfg.context_defaults.get(cx, True)),
            list(cfg.context_normalizers.get(cx) or []),
        )
        for cx in sorted(context_cols)
    ]

    postings = postings_from_contexts(docs, context_cols, cfg)
    # writer-task spread: the salt must give the shuffle MORE distinct
    # keys than reduce partitions, or hash collisions starve tasks (the
    # r3 blocks-stage lesson) — but every distinct (context, shard,
    # salt) key a task holds becomes one parquet FILE under its
    # partitionBy dir, so an over-wide salt trades write/commit time
    # and read-back file count for nothing (guide §6 small files; the
    # r5 2x-parallelism salt wrote 949 files for a 1.2M-row postings
    # table and its commit cost 5.3 s vs 3.0 s at salt 8). Target ~8
    # distinct keys per reduce partition: enough headroom over the
    # balls-in-bins starvation threshold, bounded file count. doc-hash
    # salting keeps any one (context, shard) spread over several
    # writers (hot-term skew) while partitionBy still lays files out
    # by (context, shard).
    sc = spark.sparkContext
    n_cx = max(1, len(context_cols))
    salt_w = max(
        cfg.salt_buckets,
        -(-8 * sc.defaultParallelism // (n_cx * cfg.n_shards)),  # ceil div
    )
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(salt_w))
    laid_out = postings.repartition(F.col("context"), F.col("shard"), salt)

    # ---- dependency-scheduled stage graph ----------------------------
    # Every stage runs on its own driver thread the moment its
    # dependencies commit (one Spark job per thread; the scheduler
    # interleaves their tasks). Two scaling effects, both measured on
    # the 1->4-core ladder:
    #   * the small aggregations are TASK-starved on wide clusters —
    #     context_stats is a handful of tasks that leave most slots
    #     idle while a sequential schedule waits; overlapping fills the
    #     idle slots at 4N where it matters (run 11: context_stats 2.2x,
    #     term_totals 2.5x of ideal 4x vs postings 2.8x);
    #   * barriers waste the tail of every stage — a dependency graph
    #     lets doc_meta/schema (pure-JVM) run inside the postings
    #     stage's ramp-up, and the stats and blocks stages start as
    #     soon as postings commits, each without waiting for the others.
    # Stage names stay distinct, commits append under the manifest
    # lock, and the resume contract is unchanged (each thread goes
    # through stage()).
    import threading

    errs: list[BaseException] = []
    names = ["doc_meta", "schema", "postings", *STATS_TABLES]
    if cfg.build_blocks:
        names.append("blocks")
    done_ev = {nm: threading.Event() for nm in names}

    def _node(name: str, deps: list[str], fn) -> threading.Thread:
        def _run():
            try:
                for d in deps:
                    done_ev[d].wait()
                if not errs:  # a failed dependency poisons dependents
                    stage(name, fn)
            except BaseException as e:  # re-raised on the caller
                errs.append(e)
            finally:
                done_ev[name].set()

        return threading.Thread(target=_run, name=f"build-{name}", daemon=True)

    # the first pandas/Arrow stage pays Python-worker spawn + numpy/
    # pandas/pyarrow imports + first-batch pipeline setup — a core-
    # count-invariant constant (measured ~12 s at 4 cores / 200k docs:
    # map-only pass cold 23.7 s vs warm 11.5 s) that lands squarely in
    # the Amdahl serial component of a fresh spark-submit. Pre-import
    # in every reused worker concurrently with the JVM-only head
    # stages so the postings kernel starts hot. A real cluster gets
    # this from long-lived executors; a fresh-JVM build job has to
    # overlap it explicitly.
    def _warm_kernel(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    n_warm = 2 * spark.sparkContext.defaultParallelism

    def _warm():
        try:
            spark.range(n_warm, numPartitions=n_warm).mapInArrow(
                _warm_kernel, "id long"
            ).count()
        except Exception:  # pragma: no cover — warmup is best-effort
            pass

    warm_t = threading.Thread(target=_warm, name="build-warmup", daemon=True)

    def _postings_r() -> DataFrame:
        return catalog.read(spark, "postings")

    threads = [
        _node(
            "doc_meta",
            [],
            lambda key: catalog.commit(docs.select(*meta_cols), "doc_meta", key),
        ),
        _node(
            "schema",
            [],
            lambda key: catalog.commit(
                schema_values_df(spark, schema_rows), "schema", key
            ),
        ),
        _node(
            "postings",
            [],
            lambda key: catalog.commit(
                laid_out,
                "postings",
                key,
                partition_by=["context", "shard"],
                sort_within_by=["term_lc", "doc_id"],
                # layout-critical config rides on the commit: the query
                # path prunes exact lookups by pmod(xxhash64, n_shards),
                # so a catalog opened under a DIFFERENT shard count is
                # silently wrong. load_index reads this from the manifest
                # when no _index_meta.json exists (direct build catalogs).
                extra_meta={"n_shards": cfg.n_shards},
            ),
        ),
        *(
            _node(
                name, ["postings"],
                lambda key, name=name, derive=derive: commit_stats(
                    catalog, name, key, derive(_postings_r())
                ),
            )
            for name, (derive, _sort) in STATS_TABLES.items()
        ),
    ]
    if cfg.build_blocks:
        # the blocks' stats inputs are computed in-job from the
        # committed postings rather than awaited as committed stages:
        # the two commit boundaries (write + manifest + re-scan, each a
        # core-count-invariant constant) sat on the build's critical
        # path (postings -> term_stats -> blocks) and cost the 4N leg
        # of the scaling ladder relatively more than the N leg
        threads.append(
            _node(
                "blocks", ["postings"],
                lambda key: commit_blocks(spark, catalog, _postings_r(), cfg, key),
            )
        )

    warm_t.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    warm_t.join(timeout=60)
    if errs:
        raise errs[0]
    return entries
