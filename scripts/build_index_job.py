"""spark-submit entry point: build the inverted index + query it, emit
one JSON metrics line (the north-rule "runs via spark-submit --py-files"
job; BASELINE.md §3 measurement protocol).

    spark-submit --master local[N] --py-files dist/hunt_spark.zip \
        scripts/build_index_job.py --input <corpus.parquet> \
        --out <catalog_dir> [--cores N] [--queries] [--reps 5]

The corpus parquet must have the input_hint shape
(url, warc_ts, html, text, lang) — see scripts/make_corpus.py.
Master/cores come from spark-submit; shuffle partitions scale with
cores (2x), and the AQE advisory partition size is lowered so small
bench inputs still fan out to every core (at production scale the
default 64 MB target is right; at ~100 MB total it would coalesce the
whole shuffle onto a handful of tasks and mask scaling).
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument("--salt-buckets", type=int, default=4)
    ap.add_argument("--block-size", type=int, default=4096)
    ap.add_argument("--queries", action="store_true")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument(
        "--from-html",
        action="store_true",
        help="index the Arrow-UDF text extraction of the html column "
        "(the north-star byte-identical extraction path) instead of the "
        "pre-extracted text column",
    )
    ap.add_argument(
        "--queries-only",
        action="store_true",
        help="skip the build; open the existing catalog at --out and "
        "measure query latency in THIS fresh JVM. Build and serve run "
        "as separate spark-submits (the deployment shape): a build "
        "JVM's Python workers grow to batch-processing size and evict "
        "the page cache the query path needs (measured q_phrase "
        "2.9s -> 12.6s when queries reuse the build process).",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("hunt_spark_build")
        .config("spark.sql.shuffle.partitions", str(2 * args.cores))
        # the scan stage must out-number the cores too: the bench corpus
        # is ~190 MB in 6 MB files, and the default 128 MB split target
        # packs it into ~cores splits at local[8] — the tokenize+invert
        # map stage then has ZERO task slack and one straggler idles an
        # eighth of the box (measured: postings stage 2.76x of ideal 4x
        # on the 2->8 ladder). 4 MB splits give one task per file, ~4
        # waves at 8 cores. On a real cluster reading 100 TB this knob
        # is moot — splits vastly outnumber slots.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from hunt_spark.engine import HuntEngine
    from hunt_spark.operators.build import BuildConfig

    docs = spark.read.parquet(args.input)
    n_docs = docs.count()

    eng = HuntEngine(
        spark,
        args.out,
        BuildConfig(
            n_shards=args.n_shards,
            salt_buckets=args.salt_buckets,
            block_size=args.block_size,
            extract_html=args.from_html,
        ),
    )
    out = {"n_docs": n_docs, "cores": args.cores}
    if not args.queries_only:
        # --from-html: a vectorized Arrow UDF extracts the text from the
        # raw html binary before the JVM tokenizer
        cx = {"text": F.col("html") if args.from_html else F.col("text")}
        t0 = time.time()
        entries = eng.build(docs, cx, build_id="bench", resume=False)
        build_s = time.time() - t0

        stage_sec = {k: round(v["wall_ms"] / 1000, 2) for k, v in entries.items()}
        stage_span = {
            k: [v["t0_s"], v["t1_s"]]
            for k, v in entries.items()
            if "t0_s" in v
        }
        core_s = build_s - stage_sec.get("blocks", 0.0)
        out.update({
            "build_sec": round(build_s, 3),
            "docs_per_sec": round(n_docs / build_s, 1),
            # the posting-list pipeline alone (doc_meta+postings+stats);
            # the blocks stage is the WAND compression artifact on top
            "core_build_sec": round(core_s, 3),
            "core_docs_per_sec": round(n_docs / core_s, 1),
            "stage_sec": stage_sec,
            "stage_span": stage_span,
        })

    if args.queries:
        qset = {
            "q_and": "'the' 'new'",
            "q_or": "'cat' OR 'dog'",
            "q_hot": "'the'",
            "q_phrase": '"new york"',
            "q_prefix": "bra",
        }
        eng.search("'the'", k=10).collect()  # warm
        lat: dict[str, float] = {}
        for name, q in qset.items():
            ts = []
            for _ in range(args.reps):
                t = time.time()
                eng.search(q, k=10).collect()
                ts.append(time.time() - t)
            lat[name] = round(statistics.median(ts), 4)
        out["query_median_sec"] = lat
        out["query_p50_sec"] = round(statistics.median(lat.values()), 4)
        out["query_p95_sec"] = round(
            sorted(lat.values())[max(0, int(0.95 * len(lat)) - 1)], 4
        )

    print("METRICS " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
