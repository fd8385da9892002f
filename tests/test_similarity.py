"""Embedding similarity search: exact top-k is ground truth; the two
ANN scale paths (hyperplane LSH, IVF-Flat multi-probe) must be
deterministic, return only true cosines, and reach useful recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hunt_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)

SF = "/root/testdata/sf0.01"
PROBES = [0, 1, 2, 3, 4]
K = 5


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def exact(emb):
    return {
        (r["probe_id"], r["neighbor_id"]): r["cosine_x1e4"]
        for r in cosine_topk(emb, PROBES, k=K).collect()
    }


def _recall(ann_rows, exact_pairs):
    hits = sum(
        1 for r in ann_rows if (r["probe_id"], r["neighbor_id"]) in exact_pairs
    )
    return hits / len(exact_pairs)


def test_ivf_ann_recall_and_true_cosines(emb, exact):
    got = ivf_ann_topk(emb, PROBES, k=K, n_cells=16, n_probe=4, dim=64).collect()
    assert len(got) == len(PROBES) * K
    # every returned cosine is the true cosine (exact rerank): any pair
    # that IS in the exact top-k must carry the identical score
    for r in got:
        key = (r["probe_id"], r["neighbor_id"])
        if key in exact:
            assert r["cosine_x1e4"] == exact[key]
    # near-uniform random embeddings are ANN's worst case (true
    # neighbors barely closer than noise, spread across cells) — the
    # floor just guards against a broken join; the strong checks are
    # exact-rerank score identity above and monotone/exhaustive below
    assert _recall(got, exact) >= 0.2  # 4/16 cells probed


def test_ivf_more_probes_monotone_recall(emb, exact):
    r4 = _recall(
        ivf_ann_topk(emb, PROBES, k=K, n_cells=16, n_probe=4, dim=64).collect(),
        exact,
    )
    r16 = _recall(
        ivf_ann_topk(emb, PROBES, k=K, n_cells=16, n_probe=16, dim=64).collect(),
        exact,
    )
    assert r16 >= r4
    assert r16 == 1.0  # probing every cell == exhaustive search


def test_lsh_ann_recall(emb, exact):
    # 8 planes = 256 buckets over 500 near-uniform vectors with 1-bit
    # probing: candidates are ~2% of the corpus, so recall on this
    # worst-case data is low by construction — the floor only guards a
    # broken bucket join. IVF (n_probe knob) is the tunable-recall path.
    got = lsh_ann_topk(emb, PROBES, k=K, dim=64).collect()
    assert _recall(got, exact) >= 0.04
    # fewer planes => bigger buckets => recall must not get worse
    got4 = lsh_ann_topk(emb, PROBES, k=K, dim=64, n_planes=4).collect()
    assert _recall(got4, exact) >= _recall(got, exact)


def _fold_dot(v, w):
    # the Catalyst aggregate's association, one scalar at a time
    acc = 0.0
    for x, p in zip(v, w):
        acc = acc + float(x) * float(p)
    return acc


def _round_x1e4(c):
    # Spark's F.round is HALF_UP (Python's round() is half-even)
    x = c * 10000
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _fold_cosine_x1e4(v, w):
    # with_cosine's literal expression: dot / (|v| * |w|), every sum
    # folded in array order, 0 for a zero-norm side
    den = math.sqrt(_fold_dot(v, v)) * math.sqrt(_fold_dot(w, w))
    return _round_x1e4(_fold_dot(v, w) / den if den else 0.0)


def _expr_plan_topk(vecs, probes, keys, k):
    """The ANN plans evaluated literally in Python: each probe's
    candidates are the other vectors whose key set meets the probe's,
    scored by the folded cosine, ranked (cosine DESC, id ASC)."""
    out = []
    for p in probes:
        scored = sorted(
            (-_fold_cosine_x1e4(vecs[p], vecs[n]), n)
            for n in vecs
            if n != p and keys[p]["probe"] & keys[n]["corpus"]
        )
        out += [(p, n, -c, r) for r, (c, n) in enumerate(scored[:k], 1)]
    return sorted(out)


def test_udf_strategy_matches_expr(emb):
    """The Arrow-kernel scale path of both ANN operators reproduces the
    literal-expression plan exactly at the small config: the same
    cells or signatures, candidates, cosines and ranks."""
    from hunt_spark.operators.similarity import _hyperplanes, ivf_centroids

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    cents = ivf_centroids(64, 16)
    keys = {}
    for i, v in vecs.items():
        dots = [_fold_dot(v, c) for c in cents]
        ranked = sorted(range(16), key=lambda c: (-dots[c], c))
        keys[i] = {"corpus": {dots.index(max(dots))},
                   "probe": set(ranked[:4])}
    got = sorted(map(tuple, ivf_ann_topk(
        emb, PROBES, k=K, dim=64).collect()))
    assert got == _expr_plan_topk(vecs, PROBES, keys, K)

    planes = _hyperplanes(64, 8)
    for i, v in vecs.items():
        sig = sum(1 << b for b, p in enumerate(planes) if _fold_dot(v, p) >= 0)
        keys[i] = {"corpus": {sig},
                   "probe": {sig} | {sig ^ (1 << b) for b in range(8)}}
    got = sorted(map(tuple, lsh_ann_topk(
        emb, PROBES, k=K, dim=64).collect()))
    assert got == _expr_plan_topk(vecs, PROBES, keys, K)


def test_signature_and_cell_kernel_match_sequential_fold(spark, emb):
    """The one embedding kernel reproduces a scalar left-to-right fold
    of every dot product — the association of the literal-plane DuckDB
    oracles — so LSH bits, band signatures, the IVF cell (first max)
    and the probe cells (dot DESC, cell ASC) are exact; a null vector
    yields null everywhere. Besides the gate corpus, the rows include
    near-ties whose outcome depends on the summation order (a BLAS
    matmul fails here): vectors orthogonal to a plane up to rounding,
    and sums of two centroids, equidistant from both."""
    import numpy as np

    from hunt_spark.operators.similarity import (
        _hyperplanes,
        band_signatures,
        ivf_centroids,
        nearest_cells,
    )

    planes8, planes16 = _hyperplanes(64, 8), _hyperplanes(64, 16)
    cents = ivf_centroids(64, 16)
    rng = np.random.Generator(np.random.Philox(key=[3, 4]))
    ties = []
    for i in range(160):
        x = rng.normal(size=64)
        p = planes8[i % 8]
        ties.append(x - (x @ p) / (p @ p) * p)
    ties += [cents[a] + cents[b] for a in range(16) for b in range(a + 1, 16)]
    df = (
        emb.select("vec_id", F.col("embedding").cast("array<double>"))
        .unionByName(spark.createDataFrame(
            [(10**9, None)] + [(10**9 + 1 + i, v.tolist())
                               for i, v in enumerate(ties)],
            "vec_id long, embedding array<double>",
        ))
    )
    rows = df.select(
        "vec_id", "embedding",
        band_signatures(df, "embedding", planes8)[0].alias("sig"),
        band_signatures(df, "embedding", planes16, 8).alias("bands"),
        nearest_cells(df, "embedding", cents, 1)[0].alias("cell"),
        nearest_cells(df, "embedding", cents, 4).alias("probe"),
    ).collect()
    assert len(rows) == 501 + len(ties)
    for r in rows:
        v = r["embedding"]
        if v is None:
            assert (r["sig"], r["bands"], r["cell"], r["probe"]) == (
                None, None, None, None)
            continue
        bits8 = [_fold_dot(v, p) >= 0 for p in planes8]
        assert r["sig"] == sum(1 << i for i, b in enumerate(bits8) if b)
        bits16 = [_fold_dot(v, p) >= 0 for p in planes16]
        assert r["bands"] == [
            bits16[2 * j] + 2 * bits16[2 * j + 1] for j in range(8)
        ]
        dots = [_fold_dot(v, c) for c in cents]
        ranked = sorted(range(16), key=lambda i: (-dots[i], i))
        assert r["cell"] == dots.index(max(dots)) + 1 == ranked[0] + 1
        assert r["probe"] == [i + 1 for i in ranked[:4]]
    short = spark.createDataFrame(
        [(0, [1.0] * 63)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match=r"embedding lengths \[63\] != dim 64"):
        short.select(nearest_cells(short, "embedding", cents, 1)).collect()


def test_udf_strategy_smoke_at_production_config(spark):
    # 256 cells x 256 dims: the production shape of the cell matrix.
    # A null embedding must neither crash the batch kernel nor become
    # anyone's neighbor, and a null probe finds nothing.
    import numpy as np

    rng = np.random.Generator(np.random.Philox(key=[1, 2]))
    rows = [(i, rng.normal(size=256).astype("float32").tolist())
            for i in range(300)]
    rows.append((300, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for got in (
        ivf_ann_topk(
            df, [0, 1, 300], k=3, n_cells=256, n_probe=64, dim=256
        ).collect(),
        lsh_ann_topk(df, [0, 1, 300], k=3, dim=256).collect(),
    ):
        assert {r["probe_id"] for r in got} == {0, 1}
        assert all(r["rank"] <= 3 for r in got)
        assert 300 not in {r["neighbor_id"] for r in got}


def test_ivf_deterministic_across_partitioning(spark, emb, exact):
    a = sorted(map(tuple, ivf_ann_topk(emb, PROBES, k=K, dim=64).collect()))
    b = sorted(
        map(
            tuple,
            ivf_ann_topk(emb.repartition(7), PROBES, k=K, dim=64).collect(),
        )
    )
    assert a == b


# --- embedding-cosine near-dup (banded SRP-LSH + exact cosine) ---

def _brute_pairs(emb, thr_x1e4):
    from hunt_spark.operators.similarity import with_cosine

    a = emb.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("emb_a")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("emb_b")
    )
    pairs = with_cosine(
        a.crossJoin(b).filter(F.col("vec_id_a") < F.col("vec_id_b"))
    ).withColumn("cosine_x1e4", F.round(F.col("cosine") * 10000).cast("long"))
    return {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine_x1e4"]
        for r in pairs.filter(F.col("cosine_x1e4") >= thr_x1e4).collect()
    }


def test_near_dup_pairs_true_cosines_ordered_and_high_recall(emb):
    from hunt_spark.operators.similarity import embedding_near_dup_pairs

    rows = embedding_near_dup_pairs(
        emb, threshold=0.45, n_planes=16, n_bands=8, dim=64
    ).collect()
    assert rows, "gate corpus must yield near-dup pairs at 0.45"
    truth = _brute_pairs(emb, 4500)
    for r in rows:
        key = (r["vec_id_a"], r["vec_id_b"])
        assert r["vec_id_a"] < r["vec_id_b"]
        # every emitted pair is a TRUE pair with its exact cosine:
        # LSH may lose recall, never precision
        assert truth[key] == r["cosine_x1e4"]
    # 2-bit bands at cosine>=0.45: per-band collision ~0.42, any-of-8
    # ~0.99 — demand most of the truth set, not a lucky subset
    assert len(rows) >= 0.8 * len(truth)


def test_near_dup_udf_strategy_matches_expr(emb):
    """The banded-signature kernel path reproduces the literal-
    expression plan exactly: a pair is a candidate iff some band's
    folded sign bits agree, and qualifies on its folded cosine."""
    import numpy as np

    from hunt_spark.operators.similarity import (
        _hyperplanes,
        embedding_near_dup_pairs,
    )

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    planes = _hyperplanes(64, 16)
    bands = {}
    for i, v in vecs.items():
        bits = [_fold_dot(v, p) >= 0 for p in planes]
        bands[i] = [(j, bits[2 * j] + 2 * bits[2 * j + 1]) for j in range(8)]
    ids = sorted(vecs)
    m = np.array([vecs[i] for i in ids], dtype=np.float64)
    # every pair's dot, folded one dimension at a time (array order)
    dots = np.zeros((len(ids), len(ids)))
    for d in range(m.shape[1]):
        dots += np.multiply.outer(m[:, d], m[:, d])
    norms = np.sqrt(np.diag(dots))
    want = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if not set(bands[ids[a]]) & set(bands[ids[b]]):
                continue
            den = norms[a] * norms[b]
            c = _round_x1e4(float(dots[a, b] / den) if den else 0.0)
            if c >= 4500:
                want.append((ids[a], ids[b], c))
    assert want
    got = sorted(
        (r["vec_id_a"], r["vec_id_b"], r["cosine_x1e4"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.45, dim=64
        ).collect()
    )
    assert got == want


def test_near_dup_empty_and_bad_bands(spark, emb):
    from hunt_spark.operators.similarity import embedding_near_dup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_dup_pairs(empty).count() == 0
    with pytest.raises(ValueError):
        embedding_near_dup_pairs(emb, n_planes=10, n_bands=4)


def test_near_dup_null_first_vector_does_not_degenerate(spark, emb):
    """dim-sniff used .first(): a NULL embedding in row one returned an
    EMPTY pairs frame for the whole table. Nulls must be skipped for
    sniffing and must flow through the signature kernel as null
    (dropped by the band join), not crash it."""
    from hunt_spark.operators.similarity import embedding_near_dup_pairs

    nulled = spark.createDataFrame(
        [(10**9, None)], "vec_id long, embedding array<float>"
    ).unionByName(emb.select("vec_id", "embedding").orderBy("vec_id"))
    base = set(
        (r["vec_id_a"], r["vec_id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.45).collect()
    )
    got = set(
        (r["vec_id_a"], r["vec_id_b"])
        for r in embedding_near_dup_pairs(
            nulled, threshold=0.45, dim=None
        ).collect()
    )
    assert got == base


def test_cosine_topk_null_and_zero_vectors(spark):
    """Kernel scoring must keep with_cosine's degenerate-vector
    semantics: a null or zero-norm corpus vector scores cosine 0
    (ranked last), never NaN/error (r6 optimization: scoring moved
    into a sequential-fold-preserving Arrow kernel)."""
    from hunt_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, None),
        (3, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["probe_id"], r["neighbor_id"]): r["cosine_x1e4"]
        for r in cosine_topk(emb, [0], k=5).collect()
    }
    assert got[(0, 2)] == 0 and got[(0, 3)] == 0
    assert got[(0, 1)] > 9000
