"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k neighbors for a probe set —
  an Arrow-batched kernel against the broadcast probe matrix. The
  baseline and the verifier for the ANN paths.
- ``lsh_ann_topk``: random-hyperplane LSH bucketing — probes only join
  candidates sharing a hyperplane signature (or a 1-bit flip of it),
  the scale path when the corpus side is 10^9+ vectors.
- ``ivf_ann_topk``: IVF-Flat — coarse cells, multi-probe, exact rerank.
- ``embedding_near_dup_pairs``: banded sign-random-projection LSH
  candidates verified by exact cosine.

LSH signatures and IVF cells come from ONE Arrow kernel
(``_projection_col``): each vector's dot products against a broadcast
plane or centroid matrix, reduced to sign bits or ranked cells.

All math in float64 with a fixed fold order (array index order) for
cross-engine reproducibility: every dot product is folded sequentially
over dimensions (``_seq_dots``), the association of the Catalyst
``aggregate`` in ``with_cosine`` and of the DuckDB ``list_sum`` oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _seq_dots(m: np.ndarray, w: np.ndarray) -> np.ndarray:
    """(n, dim) rows x (k, dim) rows -> (n, k) float64 dot products,
    folded ((0 + x1*w1) + x2*w2) + ... one dimension at a time
    (vectorized over all n*k pairs). That is the IEEE association of
    the Catalyst ``aggregate`` and of DuckDB ``list_sum``, so every dot
    is bit-identical to them; a BLAS matmul reassociates the sum and
    can flip a sign bit or an argmax on near-ties."""
    acc = np.zeros((m.shape[0], w.shape[0]), dtype=np.float64)
    for d in range(m.shape[1]):
        acc += np.multiply.outer(m[:, d], w[:, d])
    return acc


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def with_cosine(pairs: DataFrame, va: str = "emb_a", vb: str = "emb_b") -> DataFrame:
    # nullif guards the zero-norm vector (missing/padded embeddings are
    # routine at corpus scale): under ANSI mode (Spark 4 default) a bare
    # division would throw DIVIDE_BY_ZERO and kill the whole job; a
    # degenerate vector instead scores cosine 0 (similar-to-nothing)
    den = F.nullif(_norm(F.col(va)) * _norm(F.col(vb)), F.lit(0.0))
    cos = F.coalesce(_dot(F.col(va), F.col(vb)) / den, F.lit(0.0))
    return pairs.withColumn("cosine", cos)


def cosine_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (excluding self).

    Probes are a tiny broadcast side; the corpus scan is one pass.
    Ranked deterministically by (rounded score desc, neighbor id asc).
    Returns (probe_id, neighbor_id, cosine_x1e4, rank).
    """
    # Score in an Arrow-batched kernel against the broadcast probe
    # matrix (guide §4.2): the expression form paid an interpreted
    # higher-order fold per pair per dimension. The kernel preserves
    # the EXACT IEEE result by folding sequentially over dimensions
    # (one numpy op per dimension, vectorized over rows) — the same
    # ((0+x1)+x2)+... association the Catalyst aggregate uses for dot
    # products and norms — so cosine, rounding and ranking are
    # bit-identical. Probes are a bounded driver-side collect (the
    # probe_ids list), exactly what the broadcast join shipped before.
    probe_rows = (
        embeddings.filter(F.col(id_col).isin(probe_ids))
        .select(F.col(id_col).cast("long"), vec_col)
        .collect()
    )
    spark = embeddings.sparkSession

    def _seq_norm(m: np.ndarray) -> np.ndarray:
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for d in range(m.shape[1]):
            acc = acc + m[:, d] * m[:, d]
        return np.sqrt(acc)

    p_ids = [int(r[0]) for r in probe_rows]
    p_vecs = [
        None if r[1] is None else np.asarray(r[1], dtype=np.float64)
        for r in probe_rows
    ]
    bc = spark.sparkContext.broadcast((p_ids, p_vecs))
    corpus = embeddings.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("emb_b")
    )

    def score(batches):
        import pandas as pd

        ids, vecs = bc.value
        p_norm = {
            i: (float(_seq_norm(v[None, :])[0]) if v is not None else None)
            for i, v in zip(ids, vecs)
        }
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            raw = pdf["emb_b"].to_numpy()
            ok = np.array([v is not None for v in raw])
            m = (
                np.stack([np.asarray(v, dtype=np.float64) for v in raw[ok]])
                if ok.any()
                else np.empty((0, 0))
            )
            nb = np.zeros(len(pdf), dtype=np.float64)
            if ok.any():
                nb[ok] = _seq_norm(m)
            out_pid, out_nid, out_cos = [], [], []
            for pid, pv in zip(ids, vecs):
                sel = nid != pid
                cos = np.zeros(len(pdf), dtype=np.float64)
                na = p_norm[pid]
                if pv is not None and na is not None and ok.any():
                    den = na * nb[ok]
                    dot = _seq_dots(m, pv[None, :])[:, 0]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        c = np.where(den != 0.0, dot / den, 0.0)
                    cos[ok] = c
                out_pid.append(np.full(sel.sum(), pid, dtype=np.int64))
                out_nid.append(nid[sel])
                out_cos.append(cos[sel])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_pid),
                    "neighbor_id": np.concatenate(out_nid),
                    "cosine": np.concatenate(out_cos),
                }
            )

    scored = corpus.mapInPandas(
        score, schema="probe_id long, neighbor_id long, cosine double"
    ).withColumn(
        "cosine_x1e4", F.round(F.col("cosine") * 10000).cast("long")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine_x1e4"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine_x1e4", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    return rng.normal(size=(n_planes, dim))


def ivf_centroids(dim: int, n_cells: int, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm cell centroids (Philox stream). A real
    deployment would train them with k-means over a corpus sample; the
    fixed pseudo-centroids keep the operator reproducible (and SQL-
    oracle-able) while exercising the identical distributed plan —
    coarse cell assignment, inverted cell lists, multi-probe rerank."""
    rng = np.random.Generator(np.random.Philox(key=[seed, dim * 100003 + n_cells]))
    c = rng.normal(size=(n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _projection_col(
    df: DataFrame, vec_col: str, matrix: np.ndarray, return_type: str, reduce
):
    """The embedding kernel behind LSH signatures and IVF cells, applied
    to ``vec_col``: one Arrow-batched pandas UDF that stacks a batch of
    vectors, takes their sequentially folded dot products
    (``_seq_dots``) against ``matrix`` (k, dim) — shipped to executors
    ONCE as a Spark broadcast — and maps the (n, k) dots through
    ``reduce`` to one value per row. A null vector yields a null result; a vector whose
    length is not dim raises."""
    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(matrix, dtype=np.float64)
    )

    @F.pandas_udf(return_type)
    def kernel(v: pd.Series) -> pd.Series:
        w = bc.value
        vals = v.to_numpy()
        rows = np.flatnonzero([x is not None for x in vals])
        out = np.full(len(vals), None, dtype=object)
        if len(rows):
            lens = {len(vals[i]) for i in rows}
            if lens != {w.shape[1]}:
                raise ValueError(
                    f"embedding lengths {sorted(lens)} != dim {w.shape[1]}"
                )
            m = np.stack([vals[i] for i in rows]).astype(np.float64)
            for i, r in zip(rows, reduce(_seq_dots(m, w))):
                out[i] = r
        return pd.Series(out)

    return kernel(F.col(vec_col))


def band_signatures(
    embeddings: DataFrame, vec_col: str, planes: np.ndarray, n_bands: int = 1
):
    """array<long> of ``n_bands`` LSH signatures: ``planes`` split into
    contiguous bands, bit i of band j set iff the projection on plane
    j*per + i is >= 0 (per = n_planes / n_bands)."""
    per = planes.shape[0] // n_bands
    weights = 1 << np.arange(per, dtype=np.int64)

    def signs(dots: np.ndarray) -> np.ndarray:
        return (dots >= 0).reshape(len(dots), n_bands, per) @ weights

    return _projection_col(embeddings, vec_col, planes, "array<long>", signs)


def nearest_cells(
    embeddings: DataFrame, vec_col: str, centroids: np.ndarray, n: int
):
    """array<int> of the ``n`` 1-based cells with the largest centroid
    dot products, ordered (dot DESC, cell ASC) — element 0 is the first
    argmax (centroids are unit vectors, so max dot == max cosine)."""

    def ranked(dots: np.ndarray) -> np.ndarray:
        order = np.argsort(-dots, axis=1, kind="stable")
        return (order[:, :n] + 1).astype(np.int32)

    return _projection_col(
        embeddings, vec_col, centroids, "array<int>", ranked
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF approximate top-k: the corpus is inverted into coarse cells
    (nearest deterministic centroid); each probe visits its ``n_probe``
    closest cells and reranks those cells' vectors by exact cosine —
    the classic IVF-Flat plan. At 10^9+ vectors the cell column is the
    partition key, so a query touches n_probe/n_cells of the data.
    Same output schema as cosine_topk/lsh_ann_topk. Null vectors get no
    cell, so they are never candidates and a null probe returns no
    rows."""
    cents = ivf_centroids(dim, n_cells)
    cell = nearest_cells(embeddings, vec_col, cents, 1)[0]
    probe_cells = nearest_cells(embeddings, vec_col, cents, n_probe)
    tagged = embeddings.withColumn("cell", cell)
    probes = embeddings.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("emb_a"),
        F.explode(probe_cells).alias("cell"),
    )
    corpus = tagged.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("emb_b"), "cell"
    )
    cand = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = with_cosine(cand).withColumn(
        "cosine_x1e4", F.round(F.col("cosine") * 10000).cast("long")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine_x1e4"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine_x1e4", "rank")
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to vectors sharing the
    probe's LSH signature (plus 1-bit-flip neighbor buckets for
    recall), exact cosine on candidates. Same output schema as
    cosine_topk. Null vectors get no signature, so they are never
    candidates and a null probe returns no rows."""
    if dim is None:
        # sniff from a NON-NULL row: .first() landing on a null vector
        # must not degenerate the whole table to an empty result
        row = embeddings.select(vec_col).filter(
            F.col(vec_col).isNotNull()
        ).first()
        if row is None or row[0] is None:  # empty frame / null probe
            return embeddings.sparkSession.createDataFrame(
                [],
                "probe_id long, neighbor_id long, cosine_x1e4 long, rank int",
            )
        dim = len(row[0])
    planes = _hyperplanes(dim, n_planes)
    sig = band_signatures(embeddings, vec_col, planes)[0]
    tagged = embeddings.withColumn("sig", sig)
    probes = tagged.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("emb_a"),
        F.explode(
            F.array(F.col("sig"), *[
                F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
            ])
        ).alias("sig"),
    )
    corpus = tagged.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("emb_b"), "sig"
    )
    cand = (
        F.broadcast(probes)
        .join(corpus, "sig")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = with_cosine(cand).withColumn(
        "cosine_x1e4", F.round(F.col("cosine") * 10000).cast("long")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine_x1e4"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine_x1e4", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_planes: int = 16,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a corpus embedding
    table — the vector-space member of the dedup family (exact hash /
    n-gram Jaccard / MinHash / SimHash in textops, decoded-feature
    near-dup in multimodal).

    Banded sign-random-projection LSH: ``n_planes`` sign bits split
    into ``n_bands`` bands; two vectors are candidates iff ANY band's
    packed bits agree (the MinHash band trick transplanted to SRP, so
    recall at a given cosine is 1-(1-p^r)^b with p = 1-acos(c)/pi).
    Exact cosine (float64, fixed fold order — with_cosine) runs on
    candidates only, and a pair qualifies when round(cosine*1e4) >=
    round(threshold*1e4): the integer comparison keeps the threshold
    boundary engine-stable for the DuckDB oracle.

    Scale shape: candidate generation is ONE equality-keyed self-join
    on the exploded (band_idx, band_sig) key — never an all-pairs
    cross join. Band width (n_planes/n_bands) is the knob that trades
    candidate rate for recall as the corpus grows: at 10^9 vectors and
    near-dup thresholds (>= 0.9) you widen bands to 16-32 bits so a
    bucket holds only true near-neighbors; the defaults here are sized
    for the synthetic gate corpus, whose most-similar pairs sit near
    cosine 0.5. All band signatures come from one kernel evaluation per
    row (band_signatures); a null vector has none, so it never joins.

    Returns (vec_id_a, vec_id_b, cosine_x1e4) with vec_id_a < vec_id_b.
    """
    if n_planes % n_bands:
        raise ValueError("n_bands must divide n_planes")
    if dim is None:
        # sniff from a NON-NULL row: .first() landing on a null vector
        # must not degenerate the whole table to an empty result
        row = embeddings.select(vec_col).filter(
            F.col(vec_col).isNotNull()
        ).first()
        if row is None or row[0] is None:
            return embeddings.sparkSession.createDataFrame(
                [], "vec_id_a long, vec_id_b long, cosine_x1e4 long"
            )
        dim = len(row[0])
    planes = _hyperplanes(dim, n_planes)
    bands_col = band_signatures(embeddings, vec_col, planes, n_bands)
    tagged = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.posexplode(bands_col).alias("band_idx", "band_sig"),
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_id_a"),
            F.col("b.vid").alias("vec_id_b"),
            F.col("a.vec").alias("emb_a"),
            F.col("b.vec").alias("emb_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    scored = with_cosine(cand).withColumn(
        "cosine_x1e4", F.round(F.col("cosine") * 10000).cast("long")
    )
    return scored.filter(
        F.col("cosine_x1e4") >= int(round(threshold * 10000))
    ).select("vec_id_a", "vec_id_b", "cosine_x1e4")
