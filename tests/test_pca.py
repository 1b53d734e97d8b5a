"""Distributed PCA: fit and transform parity with single-node NumPy,
variance ordering."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _mat(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = emb.orderBy("vec_id").collect()
    return emb, np.array([r.embedding for r in rows], dtype="float64")


def test_pca_fit_matches_numpy(spark, sf_dir):
    from clinical_vector_search_spark.operators.pca import pca_fit

    emb, X = _mat(spark, sf_dir)
    model = pca_fit(emb, dim=64, k=8)

    mu = X.mean(axis=0)
    cov = (X.T @ X - len(X) * np.outer(mu, mu)) / (len(X) - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:8]
    ref = vecs[:, order].T
    for i in range(8):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]

    assert np.allclose(model["mean"], mu, atol=1e-9)
    assert np.allclose(model["components"], ref, atol=1e-6)
    ev = model["explained_variance"]
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))
    # components are orthonormal
    W = np.array(model["components"])
    assert np.allclose(W @ W.T, np.eye(8), atol=1e-9)


def test_pca_transform_twins_agree(spark, sf_dir):
    """The expression projection equals NumPy's (X - mean) @ W.T."""
    from clinical_vector_search_spark.operators.pca import (
        pca_fit,
        pca_transform,
    )

    emb, X = _mat(spark, sf_dir)
    model = pca_fit(emb, dim=64, k=4)
    a = {
        r.vec_id: np.array(r.pca_vec)
        for r in pca_transform(emb, model).select("vec_id", "pca_vec").collect()
    }
    ids = [r.vec_id for r in emb.orderBy("vec_id").collect()]
    ref = (X - np.array(model["mean"])) @ np.array(model["components"]).T
    b = dict(zip(ids, ref))
    assert set(a) == set(b)
    for k in a:
        assert np.allclose(a[k], b[k], atol=1e-9)
    # projection reduces reconstruction error vs a random axis choice:
    # variance captured along components must dominate
    W = np.array(model["components"])
    proj_var = np.var((X - X.mean(axis=0)) @ W.T, axis=0).sum()
    rand_var = np.var((X - X.mean(axis=0))[:, :4], axis=0).sum()
    assert proj_var >= rand_var
