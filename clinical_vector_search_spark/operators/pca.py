"""Distributed PCA over an embedding column — the classic dimensionality
reduction companion to random projection (functions/vector.py V8): data-
aware axes instead of data-oblivious ones.

Fit is ONE distributed pass: every partition computes (count, feature sum,
feature outer-product sum) partials in NumPy via ``mapInPandas``; only
``partitions × (1 + dim + dim²)`` scalars reach the driver, which combines
them into the covariance matrix and runs a dim×dim ``eigh`` (dim ≤ a few
thousand — a driver-side eigendecomposition is exactly how Spark MLlib's
own PCA works for small feature counts). The same map-side-combine shape
as k-means training (operators/knn.py:211-269).

Transform is a projection onto the fitted components as JVM expressions
(literal component matrix, oracle-friendly), checked against NumPy in
tests/test_pca.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pca_fit(
    df: DataFrame,
    dim: int,
    k: int,
    vec_col: str = "embedding",
) -> dict:
    """Fit PCA: returns {"mean": [dim], "components": [k][dim],
    "explained_variance": [k]} with components as rows, ordered by
    descending eigenvalue. Deterministic sign convention: each component's
    largest-|coefficient| entry is made positive (eigh sign is otherwise
    arbitrary, which would break reproducibility)."""
    import numpy as np

    schema = "n long, s array<double>, ss array<double>"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim, dtype="float64")
        ss = np.zeros((dim, dim), dtype="float64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype="float64")
            n += len(mat)
            s += mat.sum(axis=0)
            ss += mat.T @ mat
        yield pd.DataFrame({"n": [n], "s": [s], "ss": [ss.reshape(-1)]})

    parts = df.select(vec_col).mapInPandas(partial, schema).collect()
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError(f"PCA needs >= 2 rows, got {n}")
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.array(r["ss"]).reshape(dim, dim) for r in parts], axis=0)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, dim)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": [float(x) for x in mean],
        "components": [[float(x) for x in row] for row in comps],
        "explained_variance": [float(vals[o]) for o in order],
    }


def pca_transform(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca_vec",
) -> DataFrame:
    """Expression-path projection: out[i] = dot(v - mean, components[i]).
    Components/mean enter the plan as literals (same pattern as the IVF
    centroid matrix); d-order summation for cross-engine determinism."""
    from clinical_vector_search_spark.functions.vector import (
        lit_double_array,
        lit_double_matrix,
    )

    mean = lit_double_array(model["mean"])
    centered = F.zip_with(F.col(vec_col), mean, lambda x, m: x.cast("double") - m)
    comps = (
        lit_double_matrix(model["components"])
    )
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(len(model["components"]) - 1)),
        lambda i: F.aggregate(
            F.zip_with(
                centered,
                F.element_at(comps, i.cast("int") + 1),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.withColumn(out_col, proj)

