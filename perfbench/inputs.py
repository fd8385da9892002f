"""Seeded input generator: corpus, query streams and insert batches.

Everything the program sees is generated here from ``--seed`` alone, so
a change to ``hunt_spark`` cannot change the inputs. The corpus follows
the shape of the program's own synthetic corpus (Zipf vocabulary,
s=1.07; lognormal document lengths, mu=ln 120, sigma=0.6, clamped to
[5, 2000]) but is produced by this module, with numpy only.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass, field

import numpy as np

VOCAB_SIZE = 5000
ZIPF_S = 1.07
LEN_MU = math.log(120.0)
LEN_SIGMA = 0.6
LEN_MIN, LEN_MAX = 5, 2000

_SYL = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
    "na", "pe", "ri", "so", "tu", "va", "we", "xi", "yo", "zu",
]

# query shapes; "completion" goes to /completion, the rest to /search
SHAPES = (
    "single", "and2", "or3", "andnot", "phrase", "prefix", "range",
    "boost", "completion",
)


def vocabulary() -> list[str]:
    """V distinct lowercase pseudo-words (three syllables + a digit),
    listed in Zipf rank order: index 0 is the most frequent word."""
    out = []
    for i in range(VOCAB_SIZE):
        w, k = "", i
        for _ in range(3):
            w += _SYL[k % len(_SYL)]
            k //= len(_SYL)
        out.append(w + str(i % 7))
    return out


VOCAB = vocabulary()
SORTED_VOCAB = sorted(VOCAB)
_W = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
ZIPF_CDF = np.cumsum(_W / _W.sum())


def docs(seed: int, start: int, n: int) -> list[tuple[str, str]]:
    """(url, text) for documents start..start+n-1; the texts depend only
    on (seed, start, n)."""
    rng = np.random.default_rng([seed, 0, start])
    lens = np.clip(np.exp(rng.normal(LEN_MU, LEN_SIGMA, n)), LEN_MIN, LEN_MAX)
    ends = np.cumsum(lens.astype(np.int64))
    words = np.asarray(VOCAB)[np.searchsorted(ZIPF_CDF, rng.random(int(ends[-1])))]
    begins = np.concatenate(([0], ends[:-1]))
    return [
        (f"https://bench.example/s{seed}/doc{start + i:07d}", " ".join(words[a:b]))
        for i, (a, b) in enumerate(zip(begins, ends))
    ]


@dataclass
class Query:
    shape: str
    text: str  # query text; the prefix for "completion"


@dataclass
class Inputs:
    corpus: list[tuple[str, str]]
    streams: list[list[Query]]  # one closed-loop stream per reader client
    inserts: list[list[tuple[str, str]]] = field(default_factory=list)


class QueryMaker:
    """Draws query texts of every shape. Successive terms cycle through
    three Zipf rank strata (hot 1-20, mid 21-500, rare 501-V), so every
    seed's stream has the same mix of hot and rare words; phrases are
    adjacent word pairs taken from the corpus, so they match."""

    STRATA = ((1, 20), (21, 500), (501, VOCAB_SIZE))

    def __init__(self, rng: np.random.Generator, corpus: list[tuple[str, str]]):
        self.rng = rng
        self.corpus = corpus
        self._n = 0

    def term(self) -> str:
        lo, hi = self.STRATA[self._n % len(self.STRATA)]
        self._n += 1
        return VOCAB[int(self.rng.integers(lo, hi + 1)) - 1]

    def make(self, shape: str) -> Query:
        t = self.term
        if shape == "single":
            return Query(shape, f"'{t()}'")
        if shape == "and2":
            return Query(shape, f"'{t()}' '{t()}'")
        if shape == "or3":
            return Query(shape, f"'{t()}' OR '{t()}' OR '{t()}'")
        if shape == "andnot":
            return Query(shape, f"'{t()}' AND NOT '{t()}'")
        if shape == "boost":
            return Query(shape, f"'{t()}'^2 OR '{t()}'")
        if shape == "phrase":
            words = self.corpus[int(self.rng.integers(len(self.corpus)))][1].split()
            j = int(self.rng.integers(len(words) - 1))
            return Query(shape, f'"{words[j]} {words[j + 1]}"')
        if shape == "range":
            lo = t()
            i = bisect.bisect_left(SORTED_VOCAB, lo)
            hi = SORTED_VOCAB[min(i + int(self.rng.integers(2, 9)), VOCAB_SIZE - 1)]
            return Query(shape, f"[{lo} TO {hi}]")
        if shape in ("prefix", "completion"):
            w = t()
            return Query(shape, w[: int(self.rng.integers(3, 5))])
        raise ValueError(f"unknown shape {shape!r}")


def stream(maker: QueryMaker, n: int, repeats: int, first_shape: int) -> list[Query]:
    """n queries: fresh texts cycle through SHAPES from ``first_shape``
    on, and each fresh text is followed by ``repeats`` repeats that
    cycle through the texts this stream already sent, so every seed
    repeats the same shapes in the same order."""
    out: list[Query] = []
    seen: list[Query] = []
    i = k = 0
    while len(out) < n:
        q = maker.make(SHAPES[(first_shape + i) % len(SHAPES)])
        i += 1
        seen.append(q)
        out.append(q)
        for _ in range(repeats):
            out.append(seen[k % len(seen)])
            k += 1
    return out[:n]


def generate(
    seed: int,
    n_docs: int,
    n_streams: int,
    stream_len: int,
    repeats: int,
    n_batches: int = 0,
    batch_size: int = 0,
) -> Inputs:
    """The seed's corpus, one query stream per reader (each starting at
    another shape, so a short window still sees every shape) and the
    insert batches, whose documents continue the corpus numbering."""
    corpus = docs(seed, 0, n_docs)
    maker = QueryMaker(np.random.default_rng([seed, 1]), corpus)
    streams = [
        stream(maker, stream_len, repeats, k * len(SHAPES) // max(1, n_streams))
        for k in range(n_streams)
    ]
    inserts = [
        docs(seed, n_docs + b * batch_size, batch_size) for b in range(n_batches)
    ]
    return Inputs(corpus, streams, inserts)
