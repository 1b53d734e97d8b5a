"""Seeded input generation for the benchmark workloads.

Everything the program receives is made here from the workload seed, with
NumPy only, so the same seed gives byte-identical inputs and a test can
check that without a SparkSession. The corpus imitates the repository's
sf0.1 test tables: a 31-word vocabulary, documents of 10-99 tokens, five
languages, twenty sources, and unit-norm 64-d vectors drawn around ten
label centres (``doc_id == vec_id`` is the join key).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup"
).split()
# the sf0.1 tables use "dup" about 30x less often than the other words
VOCAB_P = np.array([1.0] * (len(VOCAB) - 1) + [1.0 / 30.0])
VOCAB_P /= VOCAB_P.sum()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = np.array([0.44, 0.15, 0.15, 0.14, 0.12])
N_SOURCES = 20
N_LABELS = 10
DIM = 64


class Gen:
    """Independent seeded streams, one per named purpose, so adding a draw
    for one purpose never shifts the inputs of another."""

    def __init__(self, seed: int):
        self.seed = seed

    def rng(self, purpose: str) -> np.random.Generator:
        key = [ord(c) for c in purpose]
        return np.random.default_rng([self.seed, *key])


def centres(gen: Gen) -> np.ndarray:
    c = gen.rng("centres").normal(size=(N_LABELS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, size=n)
    words = rng.choice(len(VOCAB), size=int(lens.sum()), p=VOCAB_P)
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def vectors(rng: np.random.Generator, cents: np.ndarray, n: int) -> np.ndarray:
    """Unit-norm float32 vectors around the label centres."""
    labels = rng.integers(0, N_LABELS, size=n)
    v = cents[labels] + rng.normal(scale=0.12, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype("float32")


def docs_table(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    text = texts(rng, n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(
            [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)]
        ),
        "source": pa.array(
            [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)]
        ),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def vecs_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def perturb(rng: np.random.Generator, base: np.ndarray, scale: float) -> np.ndarray:
    """Query vectors: corpus vectors plus Gaussian noise, re-normalized
    in float64 (the precision the kNN operators score in)."""
    q = base.astype("float64") + rng.normal(scale=scale, size=base.shape)
    return q / np.linalg.norm(q, axis=1, keepdims=True)


def query_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Query strings of 2-6 words drawn from the corpus vocabulary."""
    return [
        " ".join(VOCAB[w] for w in rng.choice(len(VOCAB) - 1, size=int(m)))
        for m in rng.integers(2, 7, size=n)
    ]
