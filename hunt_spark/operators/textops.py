"""Training-data pipeline operators over document tables.

Deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash), text
quality statistics, token counting, language-ID heuristic, document
fingerprinting — all expressed with built-in pyspark.sql functions
(JVM-side, whole-stage codegen) except the SimHash bit-vote kernel,
which is a vectorized Arrow UDF.

Scale notes: every pairwise operator is bucketed (shingle / band /
chunk equality) before any join, so candidate generation is
shuffle-on-key, never a cross join; verification only touches
candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hunt_spark.functions.analysis import tokenize_col

# ---------------------------------------------------------------------------
# tokens / stats
# ---------------------------------------------------------------------------


def _spread(docs: DataFrame) -> DataFrame:
    """Small corpora often arrive as one parquet file = one partition;
    every map-side kernel then runs on a single core. Fan out to the
    cluster's parallelism before heavy per-doc work (no-op when the
    input is already partitioned, i.e. always at real scale)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target // 2):
        return docs.repartition(target)
    return docs


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("tokens", tokenize_col(text_col))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id", F.size(tokenize_col(text_col)).alias("n_tokens")
    )


# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, whitespace runs. No
# backrefs/lookarounds, so Java regex (Spark) and RE2 (DuckDB) agree —
# parity pinned by the txt_token_count_bpe gate.
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def token_counts_bpe(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-ish token count estimate (the LLM-cost accounting number
    a training pipeline tracks): whitespace-split word count plus the
    BPE-ish pre-token count from the GPT-2-style regex."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))
    return docs.select(
        "doc_id",
        F.when(F.trim(F.col(text_col)) == "", 0).otherwise(ws).alias("n_words"),
        bpe.alias("n_bpe_tokens"),
    )


STOPWORDS_EN = ("the", "a", "of", "to", "and", "in", "is", "it")


def quality_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, distinct-token ratio,
    stopword ratio, mean token length (scaled to int for stable
    cross-engine comparison).

    Zero-token docs emit NO row (the ratios are 0/0): treat a missing
    row as minimum quality — filter pipelines should LEFT-join and
    reject unmatched docs, not inner-join (which would silently pass
    exactly the emptiest documents). Pinned by the txt_quality gate,
    whose oracle filters len(tk) > 0 identically."""
    t = tokenize_col(text_col)
    # row-set-equivalent cheap predicate: a doc has >= 1 token iff its
    # text has >= 1 word char. Catalyst pushes this filter below the
    # _spread exchange (single scan partition for a one-file corpus) —
    # with size(tokenize(..)) > 0 that pushed-down copy re-ran the full
    # tokenizer there; rlike stops at the first match.
    d = _spread(docs.filter(F.col(text_col).rlike(r"(?U)\w"))).select(
        "doc_id", t.alias("t")
    )
    n = F.size("t").cast("double")
    stop = F.size(
        F.filter("t", lambda x: x.isin(*STOPWORDS_EN))
    ).cast("double")
    dist = F.size(F.array_distinct("t")).cast("double")
    tot_len = F.aggregate(
        "t", F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
    )
    # multiply-before-divide: keeps the double bit-identical to the
    # SQL oracle's x*10000.0/n form at round-half boundaries
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(dist * 10000 / n).cast("long").alias("distinct_ratio_x1e4"),
        F.round(stop * 10000 / n).cast("long").alias("stopword_ratio_x1e4"),
        F.round(tot_len * 100 / n).cast("long").alias("mean_token_len_x100"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set — a cheap bag-of-words identity for corpus diffing."""
    t = tokenize_col(text_col)
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(t)), " ")
        ).alias("fp"),
    )


_DE_STOP = ("der", "die", "das", "und", "ist", "nicht", "ein", "zu")


# PII patterns a training-data pipeline scrubs before use. No
# lookarounds/backrefs: Java regex (Spark) and RE2 (DuckDB) must agree
# token for token — parity pinned by the txt_pii gate and planted tests.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ccnum": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts (email/IPv4/phone/credit-card/SSN
    shapes) + total — the contamination-triage pass run before a corpus
    is released for training. Pure JVM regexp_extract_all per pattern
    (whole-stage codegen; one scan pass, no UDF)."""
    counts = {
        k: F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), 0))
        for k, p in PII_PATTERNS.items()
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{k}") for k, c in counts.items()],
        total.cast("long").alias("n_pii"),
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace PII matches with typed sentinel tags (<EMAIL>, <IPV4>,
    ...). Order matters: emails first so their digit/dot substrings are
    gone before the narrower numeric patterns run."""
    col = F.col(text_col)
    for k in ("email", "ipv4", "ccnum", "ssn", "phone"):
        col = F.regexp_replace(col, PII_PATTERNS[k], f"<{k.upper()}>")
    return docs.select("doc_id", col.alias("text_redacted"))


def langid(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic (en vs de vs unknown).
    Deterministic and SQL-expressible; a real model would slot in as a
    pandas UDF with the same signature."""
    t = tokenize_col(F.lower(F.col(text_col)))
    # two-step projection: the CASE expression references each count up
    # to twice, and the counts reference the tokenized array twice —
    # inlining it all in one select makes Catalyst evaluate the
    # tokenizer once PER REFERENCE (multi-reference aliases stay
    # materialized, so each extra projection level pins one evaluation)
    toks = _spread(docs).select("doc_id", t.alias("t"))
    counts = toks.select(
        "doc_id",
        F.size(F.filter("t", lambda x: x.isin(*STOPWORDS_EN))).alias("en"),
        F.size(F.filter("t", lambda x: x.isin(*_DE_STOP))).alias("de"),
    )
    pred = (
        F.when((F.col("en") > F.col("de")) & (F.col("en") > 0), F.lit("en"))
        .when((F.col("de") > F.col("en")) & (F.col("de") > 0), F.lit("de"))
        .otherwise(F.lit("unk"))
    )
    return counts.select("doc_id", pred.alias("pred_lang"))


_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"  # C0 minus \t\n\r, +DEL


def clean_text(
    docs: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Text normalization pass (the first stage of a web-corpus
    pipeline, before any hashing or tokenizing — dedup keys and token
    counts must not depend on the byte-level encoding the crawler
    happened to capture): (1) strip control characters (C0 except
    tab/newline/CR, plus DEL) — JVM regex; (2) Unicode-normalize to
    ``form`` (NFC default: decomposed e+combining-accent sequences
    become their composed form, so 'Café' hashes identically however
    it was encoded) — Spark has no built-in normalizer, so this is the
    one Arrow-batched pandas step (vectorized ``Series.str.normalize``,
    no per-row python); (3) collapse whitespace runs to a single space
    and trim — JVM again. Returns (doc_id, text_clean).

    Step order matters and is pinned by tests: control-strip runs
    FIRST so \\x0b/\\x0c never reach the whitespace collapse (Java's
    ``\\s`` includes \\x0b, RE2's does not — stripping them first keeps
    the operator oracle-mirrorable in any RE2 engine)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _unicode_norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    stripped = F.regexp_replace(F.col(text_col), _CONTROL_RE, "")
    normed = _unicode_norm(stripped)
    collapsed = F.trim(F.regexp_replace(normed, r"\s+", " "))
    return docs.select("doc_id", collapsed.alias("text_clean"))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def dup_spans(
    docs: DataFrame, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Exact duplicated-substring detection (the seed-gram form of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): mark, per document, every maximal token span all
    of whose length-``k`` windows occur at least twice in the corpus
    (within- or cross-document). Returns (doc_id, span_start,
    span_end, span_tokens), token positions 1-based inclusive —
    downstream either drops the spans or drops docs dominated by them.

    Shape at scale: one posexplode to (doc_id, pos, gram-key) — corpus
    tokens × 1 rows, map-side; the global duplicate test is a single
    count shuffle on a 64-bit gram key (xxhash64 over the token
    window — no per-position string build or 128-bit digest: the r5
    md5(concat_ws(slice)) form allocated a ~k-token string AND ran a
    cryptographic hash per corpus position, and shuffled 32-char hex
    keys where 8-byte longs suffice. A cross-gram collision would need
    ~2^32 distinct grams in one count bucket; the duplicate-position
    set is gate-pinned against the oracle's independent md5-based
    computation); span merging is a per-document lag/sum window — per-doc
    data is doc-length-bounded, so no hot key beyond a pathological
    single document. No suffix array: the seed-gram relaxation finds
    exactly the spans whose every k-window repeats, which is the
    k-token-resolution version of the suffix-array result and needs
    only groupBy machinery a cluster already has."""
    t = _spread(docs).select(
        "doc_id", tokenize_col(text_col).alias("tk")
    )
    n = F.size("tk")
    # guard short docs in the expression (empty gram array -> posexplode
    # emits nothing) instead of a .filter(n >= k): Catalyst pushes such
    # a filter below the _spread exchange, where its copy of the
    # tokenizer runs one more full pass on the input's raw partitioning
    # — a single core for a single-file corpus (guide §2.4/§7.2)
    grams = (
        t.select(
            "doc_id",
            F.posexplode(
                F.when(
                    n >= k,
                    F.transform(
                        F.sequence(F.lit(1), n - (k - 1)),
                        lambda i: F.xxhash64(F.slice("tk", i, k)),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("off", "g"),
        )
        .select("doc_id", (F.col("off") + 1).alias("pos"), "g")
    )
    dup = grams.groupBy("g").count().filter(F.col("count") >= 2)
    marked = grams.join(dup.select("g"), "g", "left_semi")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.lag("pos").over(wdoc) + k, F.lit(1)
    ).otherwise(F.lit(0))
    islands = marked.withColumn(
        "island", F.sum(brk).over(wdoc)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def dup_span_stats(
    docs: DataFrame, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Per-document duplicated-token budget from ``dup_spans``: total
    tokens inside duplicated spans and their fraction of the doc
    (x1e4 fixed-point — float division is not bit-stable across
    engines). The standard removal policy at corpus scale is a doc
    filter on this fraction (drop docs that are mostly boilerplate)
    rather than surgical text edits; docs with no duplicated span
    report 0. One extra doc_id-keyed aggregate over dup_spans' output
    joined right back to the doc lengths — nothing corpus-sized is
    re-shuffled."""
    spans = dup_spans(docs, k=k, text_col=text_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens")
    )
    lens = docs.select(
        "doc_id", F.size(tokenize_col(text_col)).alias("n_tokens")
    )
    return lens.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.round(
                   F.coalesce(F.col("dup_tokens"), F.lit(0))
                   * 10000 / F.col("n_tokens")
               ).cast("long"))
        .otherwise(F.lit(0))
        .alias("dup_frac_x1e4"),
    )


def strip_spans(
    docs: DataFrame, spans: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Rebuild each document's text WITHOUT the tokens inside the
    given (doc_id, span_start, span_end) spans — the surgical variant
    of the removal policy, order-preserving like line_dedup's
    reassembly. Docs with no span pass through token-rejoined (the
    operator's output is always whitespace-canonical token text).

    Shape: posexplode to (doc_id, pos, token), left-anti range join
    against the spans ON doc_id (equality key — the range predicate
    only filters within the doc_id match, so this is a plain keyed
    join, not an interval cross product), then sort-within-group
    reassembly. Span lists per doc are tiny (bounded by doc length /
    k), so the join's right side is collect_list-able per doc."""
    toks = _spread(docs).select(
        "doc_id",
        F.posexplode(tokenize_col(text_col)).alias("off", "tok"),
    ).select("doc_id", (F.col("off") + 1).alias("pos"), "tok")
    span_sets = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    joined = toks.join(span_sets, "doc_id", "left")
    inside = F.when(F.col("sp").isNull(), F.lit(False)).otherwise(
        F.exists(
            "sp",
            lambda s: (F.col("pos") >= s["span_start"])
            & (F.col("pos") <= s["span_end"]),
        )
    )
    kept = joined.filter(~inside)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_stripped")
        )
        .select("doc_id", "text_stripped")
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; keeps min doc_id as
    the group representative."""
    return (
        _spread(docs)
        .select("doc_id", F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def shingles_col(tokens: Column, k: int = 3) -> Column:
    """k-token shingles as strings (empty array when fewer than k tokens)."""
    n = F.size(tokens)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(tokens, i, k), " "),
            )
        )
    )


def _hashed_shingles(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, n_sh, hs array<long>) — the tokenize+shingle pass with
    each distinct k-token shingle mapped to its xxhash64, the 64-bit
    set proxy every downstream step runs on: the global shingle order,
    the prefix candidate join, MinHash folds and the exact
    intersection/union verification all compare fixed-width longs
    instead of ~k-token strings (guide §2.3 "narrower types": ~5x
    fewer shuffled bytes, O(1) comparisons, and array_intersect builds
    long hash sets instead of string ones — the r5 verify stage spent
    98 of the op's 119 s on string-array intersections at 50k docs).
    Set sizes and intersections on the hashed sets equal the
    string-set values unless two distinct shingles collide in 64 bits
    (~n^2/2^65 per document/pair — vanishing at any real document
    size; output parity is pinned by the driver gates, whose oracle
    computes the same pairs from the raw strings exhaustively).

    Persisted and materialized here: the corpus-wide tokenize+shingle
    expression is the dominant cost of the dedup operators, and without
    an eager persist each downstream branch of a single job would
    recompute it (a lazy persist does not help branches racing past the
    empty cache). At true 100 TB scale swap the persist for DISK_ONLY
    or recompute. Cache LIFETIME is caller-owned: the returned frame is
    embedded in the operators' lazy result plans, so this module cannot
    unpersist it without invalidating them. Long-running applications
    calling the dedup operators over many corpora should
    `spark.catalog.clearCache()` (or track and unpersist) between
    corpora; the serving engine never runs these operators."""
    hs = F.array_distinct(
        F.transform(
            shingles_col(tokenize_col(text_col), k), lambda s: F.xxhash64(s)
        )
    )
    # Persist BEFORE the size filter: Catalyst pushes the filter below
    # the _spread repartition, where its copy of the full (interpreted,
    # higher-order) shingle expression runs on the input's raw
    # partitioning — ONE core for a single-file corpus (measured 22 s
    # of the 31 s cold path at 50k docs). Filtering the cached arrays
    # instead costs one size() per row and keeps every expensive
    # evaluation above the exchange, spread over the cluster.
    base = _spread(docs).select("doc_id", hs.alias("hs")).persist()
    base.count()
    return base.filter(F.size("hs") > 0).withColumn("n_sh", F.size("hs"))


def _verify_jaccard_pairs(
    cand: DataFrame, hs_arrays: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification on candidate (doc_id_a, doc_id_b)
    pairs only — array_intersect over the two hashed shingle sets read
    from the shared cached frame; |A∪B| = |A|+|B|-|A∩B| (the arrays
    are distinct sets), saving the second per-pair hash-set build."""
    va = hs_arrays.select(
        F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("hs_a")
    )
    vb = hs_arrays.select(
        F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("hs_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    j = inter / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        cand.join(va, "doc_id_a")
        .join(vb, "doc_id_b")
        .withColumn("jaccard_x1e4", F.round(j * 10000).cast("long"))
        .filter(j >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard_x1e4")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Near-duplicate pairs by exact k-token-shingle Jaccard, with
    All-Pairs/PPJoin prefix filtering for candidate generation.

    A naive self-equi-join on shingles costs sum(df^2) over shingles —
    one stopword trigram in d docs alone yields d^2 join rows (the
    quadratic blowup that kills this at scale; measured 42s of a 93s
    bench at a mere 5k docs). Prefix filter instead: order shingles
    globally by (df, shingle-hash) ascending (rarest first); for a doc
    with n shingles only its first `n - ceil(t*n) + 1` shingles can
    open a qualifying pair — for any pair with J >= t, the globally
    smallest common shingle provably sits inside BOTH prefixes (its
    rank in A is at most na - |A∩B| + 1 <= na - ceil(t*na) + 1; the
    proof holds for ANY total order, so ordering ties by the 64-bit
    hash instead of the string keeps correctness with cheap
    comparisons). Joining prefix rows only, then verifying candidates
    exactly, keeps the output identical to the exhaustive join while
    hot shingles (high df, so sorted last) never enter candidate
    generation.

    On top of the prefix join the candidate condition carries the
    PPJoin length and positional filters (Xiao et al., WWW'08) —
    both provably output-preserving, applied with an epsilon toward
    KEEPING a candidate:
      * length: J(A,B) >= t forces t*na <= nb <= na/t — pairs outside
        the band cannot verify, so dropping them pre-verify changes
        nothing;
      * positional: a pair's overlap needs I >= ceil(t*(na+nb)/(1+t));
        for the row matching the pair's globally smallest common
        shingle (rank ra in A, rb in B) the overlap is at most
        1 + min(na-ra, nb-rb), so rows failing that bound can be
        dropped — the qualifying pair always survives through its
        smallest-common-shingle row, where the bound >= I holds.
    Measured at 50k synthetic docs (tiny vocabulary, the adversarial
    case for prefix filtering): 19.0M -> far fewer candidate rows
    before the same exact verification.
    """
    from pyspark.sql.window import Window

    hs_arrays = _hashed_shingles(docs, text_col, k)
    sh = hs_arrays.select("doc_id", "n_sh", F.explode("hs").alias("h"))
    sdf = sh.groupBy("h").agg(F.count("*").alias("s_df"))
    w = Window.partitionBy("doc_id").orderBy("s_df", "h")
    # epsilon guards the float ceil toward a LONGER prefix (never drops
    # a true candidate)
    pref_len = F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold) - 1e-9) + 1
    prefix = (
        sh.join(sdf, "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pref_len)
        .select("doc_id", "h", "n_sh", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    t = F.lit(threshold)
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    # required overlap, rounded DOWN by epsilon (never over-requires)
    alpha = F.ceil((na + nb) * t / (F.lit(1.0) + t) - 1e-9)
    ubound = F.lit(1) + F.least(na - F.col("a.rn"), nb - F.col("b.rn"))
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (nb >= na * t - 1e-9)
            & (na >= nb * t - 1e-9)
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    return _verify_jaccard_pairs(cand, hs_arrays, threshold)


def _minhash_sigs_hashed(hs_arrays: DataFrame, n_hashes: int) -> DataFrame:
    """MinHash signatures over HASHED shingles: per seed i, min over
    hs of xxhash64(i, h), all seeds' minima in ONE aggregate pass over
    the array, with all per-element work on longs (the one string hash
    per shingle was paid in _hashed_shingles, so the n_hashes-per-
    element re-hash is O(1) instead of O(shingle bytes) — guide
    §2.3/§1.2 per-task work). Candidate recall keeps the banded
    1-(1-j^rows)^bands form and the final pair set is fixed by exact
    verification (the dedup_minhash_lsh gate pins it to the exhaustive
    oracle)."""
    init = F.array(*[F.lit(2**63 - 1).cast("long")] * n_hashes)
    sig = F.aggregate(
        "hs",
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), h) for i in range(n_hashes)]),
            lambda a, x: F.least(a, x),
        ),
    )
    return hs_arrays.select("doc_id", "n_sh", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 8,
    bands: int = 8,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified by exact shingle Jaccard.

    bands=8/rows=1 gives P(candidate | j) = 1-(1-j)^8 (>0.999996 at
    j=0.8), then candidates are verified exactly, so output equals the
    exhaustive ngram_jaccard_pairs with overwhelming probability while
    only banded buckets are joined — the 100 TB-safe path.
    """
    if bands < 1 or n_hashes % bands != 0:
        # rows = n_hashes // bands must be exact and >= 1: bands >
        # n_hashes gives rows=0 and every band hash degenerates to a
        # per-band CONSTANT (xxhash64 of the empty concat) — all docs
        # collide in every bucket and candidate generation becomes the
        # full O(n^2) cross join the banding exists to prevent
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    rows = n_hashes // bands
    hs_arrays = _hashed_shingles(docs, text_col, k)
    sigs = _minhash_sigs_hashed(hs_arrays, n_hashes)
    # band key from the band's signature slice — long-only xxhash64
    # (the former string concat_ws form allocated a string per band
    # per doc just to feed a hash)
    band_cols = [
        F.xxhash64(
            *[F.col("sig")[b * rows + r] for r in range(rows)], F.lit(b)
        ).alias("band_hash")
        for b in range(bands)
    ]
    buckets = sigs.select(
        "doc_id", "n_sh", F.explode(F.array(*band_cols)).alias("band_hash")
    ).distinct()
    a, b = buckets.alias("a"), buckets.alias("b")
    t = F.lit(threshold)
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    cand = (
        a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces t*na <= nb <= na/t; pairs
            # outside the band are rejected by exact verification
            # anyway, so dropping them pre-verify is output-preserving
            # (epsilon keeps the boundary pair)
            & (nb >= na * t - 1e-9)
            & (na >= nb * t - 1e-9),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )
    # exact verification on candidates only
    return _verify_jaccard_pairs(cand, hs_arrays, threshold)


SIMHASH_SCHEMA = "doc_id long, simhash long"

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


# dense-matrix cell budget for the FNV kernel: 2^24 cells x 8 B = 128 MB
_FNV_DENSE_LIMIT = 1 << 24


def _fnv_dense(terms) -> np.ndarray:
    lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=len(terms))
    cps = np.frombuffer("".join(terms).encode("utf-32-le"), dtype=np.uint32)
    starts = np.zeros(len(terms), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    maxlen = int(lens.max())
    mat = np.zeros((len(terms), maxlen), dtype=np.uint64)
    pos = starts[:, None] + np.arange(maxlen)[None, :]
    valid = np.arange(maxlen)[None, :] < lens[:, None]
    mat[valid] = cps[pos[valid]]
    h = np.full(len(terms), _FNV_OFFSET, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            active = valid[:, j]
            h[active] = (h[active] ^ mat[active, j]) * prime
    return h


def _fnv1a64_batch(terms: np.ndarray) -> np.ndarray:
    """FNV-1a 64-bit over each term's Unicode code points, fully
    vectorized: one UTF-32 encode per slice, then the fold iterates
    over code-point POSITIONS (bounded by the slice's longest term),
    not over terms. Defined on code points (== bytes for ASCII) so the
    DuckDB oracle can reproduce it with unicode()/list_reduce.

    The dense (n_terms x maxlen) matrix is the speed path, but its
    footprint multiplies EVERY term by the longest one — a single 1 MB
    unbroken base64 run in a web batch would inflate a 100k-term
    matrix to ~800 GB. Terms are therefore processed in length-sorted
    slices whose cell count stays under _FNV_DENSE_LIMIT (128 MB):
    identical hashes, bounded memory, and the common all-short-terms
    batch still runs as one dense slice."""
    n = len(terms)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=n)
    if n * int(lens.max()) <= _FNV_DENSE_LIMIT:
        return _fnv_dense(terms)
    order = np.argsort(lens, kind="stable")
    out = np.empty(n, dtype=np.uint64)
    i = 0
    while i < n:
        j = i + 1
        while j < n and (j - i + 1) * int(lens[order[j]]) <= _FNV_DENSE_LIMIT:
            j += 1
        idx = order[i:j]
        out[idx] = _fnv_dense([terms[x] for x in idx])
        i = j
    return out


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per-term FNV-1a(code points) bit votes weighted
    by tf. The kernel is Arrow-native: token bytes stay in Arrow
    buffers, term deduplication is a C++ dictionary_encode (the former
    pandas kernel spent its time materializing Python string objects
    and np.unique-sorting them), FNV runs once per batch-distinct term,
    and bit votes accumulate with one scatter-add — no per-term Python
    loop. Zero-token docs are skipped in-kernel (same rows as the old
    upstream filter, whose pushed-down tokenizer copy ran below the
    _spread exchange on one core for a single-file corpus)."""
    toks = _spread(docs).select("doc_id", tokenize_col(text_col).alias("t"))

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)  # see build._invert_arrow: no 32x32 threads
        out_schema = pa.schema(
            [("doc_id", pa.int64()), ("simhash", pa.int64())]
        )
        mask = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for b in batches:
            if b.num_rows == 0:
                continue
            tcol = b.column(b.schema.get_field_index("t"))
            lens = pc.list_value_length(tcol).to_numpy().astype(np.int64)
            keep = np.flatnonzero(lens > 0)
            if len(keep) == 0:
                continue
            flat = pc.list_flatten(tcol)
            enc = pc.dictionary_encode(flat)
            inv = enc.indices.to_numpy()
            uniq = enc.dictionary.to_pylist()
            hashes = _fnv1a64_batch(uniq)
            # doc index over kept docs only (empty lists contribute no
            # flattened entries, so the repeat aligns with `flat`)
            doc_idx = np.repeat(np.arange(len(keep)), lens[keep])
            # per (doc, term) tf via one unique over the combined key
            key = doc_idx.astype(np.int64) * len(uniq) + inv
            pair_key, tf = np.unique(key, return_counts=True)
            pair_doc = pair_key // len(uniq)
            pair_term = pair_key % len(uniq)
            bits = ((hashes[pair_term][:, None] & mask[None, :]) != 0).astype(
                np.int64
            )
            contrib = (bits * 2 - 1) * tf[:, None].astype(np.int64)
            votes = np.zeros((len(keep), 64), dtype=np.int64)
            np.add.at(votes, pair_doc, contrib)
            sh = ((votes > 0).astype(np.uint64) * mask[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            doc_ids = b.column(b.schema.get_field_index("doc_id")).to_numpy()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[keep], type=pa.int64()),
                    pa.array(sh.astype(np.int64), type=pa.int64()),
                ],
                schema=out_schema,
            )

    return toks.mapInArrow(kernel, schema=SIMHASH_SCHEMA)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via the
    pigeonhole band trick: split 64 bits into (max_hamming+1) chunks;
    any pair within distance shares at least one exact chunk — join on
    chunk equality, verify with bit_count(a XOR b)."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sh = simhash(docs, text_col)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# near-duplicate clustering (pairs -> components -> canonical doc)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list by alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the shuffle-native
    CC algorithm: every round is a symmetric groupBy-min plus a join,
    O(|E|) per round, converging in O(log^2 n) rounds (observed ~log n),
    with no driver-side graph state and no collect. Naive min-label
    propagation needs O(diameter) rounds — a 10^6-long duplicate chain
    (crawl mirrors) would take 10^6 shuffles; star-contraction hops
    whole stars per round. Hot hubs are a groupBy key (map-side partial
    min), never a collect_list.

    Returns (node, component) with component = min node id reachable —
    a deterministic canonical representative.

    Each round localCheckpoints the shrinking edge set: iterative plans
    otherwise grow lineage linearly and re-execute the whole chain at
    every convergence check.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = e.select("u").union(e.select("v")).distinct().localCheckpoint()
    e = e.localCheckpoint()

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _mins(sym: DataFrame) -> DataFrame:
        # m(u) = min over Gamma(u) [+] {u}
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("m"))
            .withColumn("m", F.least(F.col("m"), F.col("u")))
        )

    def _checksum(df: DataFrame) -> tuple:
        # doc_ids are xxhash64-sized (full long range): sum as
        # decimal(38,0) so the checksum can't overflow under ANSI mode
        dec = "decimal(38,0)"
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("u").cast(dec)).alias("su"),
            F.sum(F.col("v").cast(dec)).alias("sv"),
            F.sum(F.xxhash64("u", "v").cast(dec)).alias("h"),
        ).collect()[0]
        return (r["n"], r["su"], r["sv"], r["h"])

    prev = None
    for _ in range(max_iter):
        sym = _sym(e)
        # large-star: every strictly-larger neighbor of u links to m(u)
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(_mins(sym), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every <=-neighbor of u (and u itself) links to m(u)
        sym2 = _sym(large)
        m2 = _mins(sym2)
        smaller = (
            sym2.filter(F.col("v") <= F.col("u"))
            .join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfe = m2.select(F.col("u"), F.col("m").alias("v"))
        e = (
            smaller.union(selfe)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        cs = _checksum(e)
        if cs == prev:
            break
        prev = cs
    # converged edge set is a union of stars rooted at component minima;
    # a node may still carry edges to several labels mid-star — the
    # component id is the minimum
    labels = _sym(e).groupBy("u").agg(F.min("v").alias("component"))
    labels = labels.withColumn("component", F.least("component", F.col("u")))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("component", F.col("u")).alias("component"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Pairs -> duplicate clusters -> canonical-doc keep/drop decision:
    the terminal step of a training-data dedup pipeline (pairs from
    ngram_jaccard_pairs / minhash_lsh_pairs / simhash_pairs all fit).

    Output (doc_id, cluster_id, cluster_size, keep): cluster_id is the
    minimum doc_id of the connected component (docs in no pair are
    singleton clusters of themselves), keep=1 exactly for the canonical
    doc — deterministic, so a re-run keeps the same documents. The
    cluster-size join is on the vocab-of-clusters (<= n_docs) and the
    final join broadcasts nothing doc-sized per row: all O(n) shuffle-
    on-key."""
    cc = connected_components(pairs)
    labels = (
        docs.select(F.col(doc_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("component", F.col("doc_id")))
        .select("doc_id", "cluster_id")
    )
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# intra-doc repetition / contamination / sampling
# ---------------------------------------------------------------------------


def _token_ngrams(tokens: Column, n: int) -> Column:
    """array<string> tokens -> array<string> of space-joined token
    n-grams, pure Catalyst (sequence + transform over the PASSED
    column, not a hardcoded name). Arrays shorter than n yield an
    empty gram array (the guard matters: an unguarded
    sequence(1, size-n+1) DESCENDS when size < n)."""

    def gram(i: Column) -> Column:
        return F.concat_ws(
            " ",
            *[F.element_at(tokens, (i + F.lit(j)).cast("int")) for j in range(n)],
        )

    return F.when(
        F.size(tokens) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tokens) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """Intra-document repetition features in the Gopher style (Rae et
    al. 2021, "Scaling Language Models", table A1: duplicate/top n-gram
    fractions): per doc, the fraction of token n-grams that are
    duplicates (all occurrences of any gram seen more than once) and
    the fraction covered by the single most frequent n-gram. Filter
    pipelines drop docs above a threshold (boilerplate, SEO spam,
    degenerate generations).

    Docs with fewer than n tokens emit NO row (no grams to measure);
    like quality_stats, treat missing as reject.

    Scale: explode on (doc_id, gram) -> two hash aggregations. The
    shuffle key is (doc_id, gram) — cardinality ~= corpus token count,
    no hot key possible (doc_id spreads it), map-side partial agg
    applies. Fractions are multiply-before-divide doubles rounded to
    x1e4 ints for stable cross-engine hashing."""
    t = tokenize_col(text_col)
    # no .filter(size >= n): _token_ngrams already yields an empty array
    # for short docs (explode then emits nothing — same rows), and the
    # filter's pushed-down copy of the tokenizer would run below the
    # _spread exchange on the input's raw partitioning (one core for a
    # single-file corpus)
    grams = (
        _spread(docs)
        .select("doc_id", t.alias("t"))
        .select("doc_id", F.explode(_token_ngrams(F.col("t"), n)).alias("gram"))
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    tot = F.sum("cnt").cast("double")
    return counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.round(F.max("cnt").cast("double") * 10000 / tot)
        .cast("long")
        .alias("top_gram_frac_x1e4"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
            ).cast("double")
            * 10000
            / tot
        )
        .cast("long")
        .alias("dup_gram_frac_x1e4"),
    )


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: per training doc, how many of its
    DISTINCT token n-grams appear anywhere in the benchmark (eval-set)
    documents. Training pipelines run exactly this before a data
    release so eval questions aren't memorized verbatim; n=8..13 word
    grams in practice, n=3 by default here because the synthetic corpus
    has a tiny vocabulary.

    Docs with fewer than n tokens emit NO row.

    Scale: the benchmark gram dictionary is distinct-ed (eval sets are
    tiny next to the corpus) and BROADCAST to the exploded doc-gram
    stream — no shuffle of the corpus side on gram; the only corpus
    shuffle is the final per-doc count."""
    t = tokenize_col(text_col)

    def grams_of(df: DataFrame) -> DataFrame:
        # no size filter: _token_ngrams guards short docs with an empty
        # array (explode drops them), and the filter's pushed-down
        # tokenizer copy would run below the _spread exchange on one
        # core (see repetition_stats)
        return (
            df.select("doc_id", t.alias("t"))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(_token_ngrams(F.col("t"), n))
                ).alias("gram"),
            )
        )

    bench = grams_of(benchmark).select("gram").distinct()
    hit = F.count(F.col("b_gram"))
    return (
        grams_of(_spread(docs))
        .join(
            F.broadcast(bench.withColumnRenamed("gram", "b_gram")),
            F.col("gram") == F.col("b_gram"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            hit.alias("n_contaminated"),
            F.round(hit.cast("double") * 10000 / F.count("*").cast("double"))
            .cast("long")
            .alias("contaminated_frac_x1e4"),
        )
    )


# Knuth's multiplicative constant: floor(2^32 / phi). The hash must be
# identically computable in ANSI SQL (the oracle) and Catalyst, so no
# xxh64 here — a fixed-point multiplicative hash over the key is enough
# for rate fidelity and is reproducible everywhere.
_SAMPLE_HASH_MULT = 2654435761
_SAMPLE_HASH_MOD = 1 << 32


def _key_hash(key_col: str) -> Column:
    """h(key) = ((key mod 2^32) * 2654435761) mod 2^32, computed so no
    intermediate leaves int64 range for ANY long key. A naive
    `key * MULT` overflows for |key| > ~3.47e9 — an ARITHMETIC_OVERFLOW
    job kill under Spark's default ANSI mode, a sign-biased wrap (every
    row kept) without it — and real doc_ids are xxhash64 values, so
    virtually every key is in that range. Split 16/16: with
    k = hi*2^16 + lo,  k*M mod 2^32 = (lo*M + ((hi*M) mod 2^16)*2^16)
    mod 2^32, and every term stays < 2^48. Oracles over small
    non-negative keys may keep the plain one-multiply form — the values
    agree wherever that form doesn't overflow."""
    k = F.pmod(F.col(key_col).cast("long"), F.lit(_SAMPLE_HASH_MOD))
    lo = k % F.lit(1 << 16)
    hi = F.shiftright(k, 16)  # k >= 0 after pmod, so this is exact div
    return (
        lo * F.lit(_SAMPLE_HASH_MULT)
        + ((hi * F.lit(_SAMPLE_HASH_MULT)) % F.lit(1 << 16)) * F.lit(1 << 16)
    ) % F.lit(_SAMPLE_HASH_MOD)


def sample_stratified(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    ``(key * 2654435761) mod 2^32 < round(rate[stratum] * 2^32)``.

    This is how a training-data mixture is drawn at 100 TB: per-language
    / per-source rates, decided by a pure function of the row key so the
    sample is (a) reproducible run-to-run with no RNG state, (b) stable
    under re-partitioning and resume (unlike df.sample, whose output
    depends on partition layout), and (c) auditable — any engine can
    recompute membership. Map-side filter only: no shuffle, no driver
    state; thresholds are integer literals fixed at plan time."""
    thresholds = {
        s: int(round(r * _SAMPLE_HASH_MOD)) for s, r in rates.items()
    }
    thr: Column = F.lit(int(round(default_rate * _SAMPLE_HASH_MOD)))
    for s, v in sorted(thresholds.items()):
        thr = F.when(F.col(strata_col) == s, F.lit(v)).otherwise(thr)
    h = _key_hash(key_col)
    return docs.filter(h < thr)


def curate(
    docs: DataFrame,
    min_tokens: int = 30,
    max_dup_frac_x1e4: int = 1500,
    drop_pred_langs: tuple[str, ...] = ("de",),
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    text_col: str = "text",
    strata_col: str = "lang",
) -> DataFrame:
    """The whole curation chain as one composed plan: quality floor ->
    repetition ceiling -> language drop -> exact-dedup canonical keep
    -> deterministic stratified sample. Returns (doc_id, strata_col,
    n_tokens) for the kept corpus — the thing a data release ships.

    Each stage is the standalone operator above; composing them keeps
    every join on doc_id (the predicate-only sides as left-semi, so
    nothing doc-sized is carried) and lets Catalyst fuse the per-doc
    column work. Cross-engine parity of the full chain is pinned by
    the pipeline_kept driver gate."""
    q = quality_stats(docs, text_col).filter(F.col("n_tokens") >= min_tokens)
    r = repetition_stats(docs, text_col, n=2).filter(
        F.col("dup_gram_frac_x1e4") <= max_dup_frac_x1e4
    )
    l_ok = langid(docs, text_col).filter(
        ~F.col("pred_lang").isin(*drop_pred_langs)
    )
    keep = dedup_exact(docs, text_col).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = (
        docs.select("doc_id", strata_col)
        .join(q.select("doc_id", "n_tokens"), "doc_id")
        .join(r.select("doc_id"), "doc_id", "left_semi")
        .join(l_ok.select("doc_id"), "doc_id", "left_semi")
        .join(keep, "doc_id", "left_semi")
    )
    return sample_stratified(
        kept, rates or {}, default_rate, strata_col=strata_col
    )


def sample_weighted(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted mixture sampling: rate r = expected
    copies per row. Every row gets floor(r) copies, plus one more iff
    ``(key * 2654435761) mod 2^32 < round(frac(r) * 2^32)`` — so r=2.5
    means 2 or 3 copies, r=0.5 means 0 or 1 (the sample_stratified
    case). Output = input columns + copy_idx (1..n); rows with 0
    copies vanish.

    This is epoch weighting in a training mixture ("2.3 epochs of
    Wikipedia, 0.4 of CC"): upsampling decided per-row by the same
    reproducible key hash as sample_stratified, so reruns, resumes and
    repartitions emit the identical multiset. explode(sequence) is
    JVM-side and map-only — no shuffle, no RNG state."""
    base: Column = F.lit(int(default_rate))
    frac_thr: Column = F.lit(int(round((default_rate % 1) * _SAMPLE_HASH_MOD)))
    for s, r in sorted(rates.items()):
        base = F.when(F.col(strata_col) == s, F.lit(int(r))).otherwise(base)
        frac_thr = F.when(
            F.col(strata_col) == s, F.lit(int(round((r % 1) * _SAMPLE_HASH_MOD)))
        ).otherwise(frac_thr)
    h = _key_hash(key_col)
    n_copies = (base + (h < frac_thr).cast("long")).alias("n_copies")
    seq = F.when(
        n_copies >= 1, F.sequence(F.lit(1).cast("long"), n_copies)
    ).otherwise(F.array().cast("array<long>"))
    return docs.withColumn("copy_idx", F.explode(seq))


def line_dedup(
    docs: DataFrame,
    min_dup_count: int = 2,
    text_col: str = "text",
    broadcast_banned: bool = True,
) -> DataFrame:
    """Corpus-level line deduplication (the C4 "discard any line that
    occurred more than once in the dataset" rule, Raffel et al. 2020
    §2.2; RefinedWeb and FineWeb run the same stage): split every
    document into lines, count each distinct trimmed non-empty line's
    occurrences across the WHOLE corpus, and strip lines occurring
    ``min_dup_count``-or-more times — navigation bars, cookie banners
    and share buttons repeat across a site's pages; prose doesn't.

    Returns (doc_id, n_lines, n_kept, kept_text): kept_text is the
    surviving lines re-joined with ``\\n`` in their ORIGINAL order
    (pos is carried through the shuffle and the array re-sorted on
    it — groupBy order is otherwise nondeterministic). Documents with
    zero non-empty lines emit NO row (nothing measurable, same
    convention as quality_stats); documents whose every line is
    banned emit n_kept=0 / kept_text=''.

    Scale: one explode -> two aggregations. The banned-line dictionary
    is the output of a partial-agg groupBy on the line string (map-side
    combine collapses each partition's repeats before the shuffle), and
    is tiny next to the corpus — C4 held it in memory; broadcast it
    (default) so the membership probe is map-side and the only
    corpus-wide shuffle is the per-doc reassembly on doc_id, which no
    hot LINE can skew (doc_id is the key). Pass
    ``broadcast_banned=False`` only if the banned set is known to be
    too large for executor memory; the fallback shuffle-join then
    routes every copy of a hot banned line to one partition — the
    exact skew the broadcast avoids."""
    lines = (
        _spread(docs)
        .select(
            "doc_id",
            F.posexplode(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), "\n"), lambda s: F.trim(s)
                    ),
                    lambda s: s != "",
                )
            ).alias("pos", "line"),
        )
    )
    banned = (
        lines.groupBy("line")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_dup_count)
        .select(F.col("line").alias("b_line"))
    )
    if broadcast_banned:
        banned = F.broadcast(banned)
    tagged = lines.join(
        banned, F.col("line") == F.col("b_line"), "left"
    ).select(
        "doc_id", "pos", "line", F.col("b_line").isNotNull().alias("is_banned")
    )
    kept_structs = F.filter(
        F.sort_array(F.collect_list(F.struct("pos", "line", "is_banned"))),
        lambda s: ~s["is_banned"],
    )
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum((~F.col("is_banned")).cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(kept_structs, lambda s: s["line"]), "\n"
        ).alias("kept_text"),
    )
