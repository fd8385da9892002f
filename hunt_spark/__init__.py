"""hunt_spark — a PySpark-native full-text indexing + BM25 query engine.

A from-scratch rebuild of the capabilities of hunt-framework/hunt (a
Haskell single-node search platform) as a distributed Spark engine:

- inverted-index construction over web-page corpora
  (tokenize -> posexplode -> salted repartition -> sortWithinPartitions
  -> groupBy merge -> partitioned parquet postings),
- collection statistics (N, avgdl, df) as broadcast DataFrames,
- BM25 top-k retrieval; flat AND/OR word queries (WAND-shaped) are
  scored on the driver from a compressed blocks artifact,
- Hunt's query surface: word/prefix/case/nocase, AND/OR/AND NOT,
  phrase / FOLLOW n / NEAR n (position algebra), context restriction,
  boost, range queries, completion,
- resumable multi-stage builds with per-partition lineage metrics,
- training-data-pipeline operators: dedup (exact / minhash-LSH /
  simhash / ngram-jaccard), similarity search, text quality stats.

Design stance (SURVEY.md §7.0): tables + declarative DataFrame plans;
all per-row work in vectorized Arrow UDFs; no RDDs, no driver loops.
"""

__version__ = "0.1.0"

from hunt_spark.client import HuntClient  # noqa: F401
from hunt_spark.engine import HuntEngine  # noqa: F401
from hunt_spark.operators.build import BuildConfig  # noqa: F401
from hunt_spark.plans.ast import (  # noqa: F401
    QBoost,
    QContext,
    QFullWord,
    QPhrase,
    QRange,
    QSeq,
    QWord,
)
from hunt_spark.plans.optimize import optimize_query  # noqa: F401
from hunt_spark.plans.parser import parse_query  # noqa: F401
