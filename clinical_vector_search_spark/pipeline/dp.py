"""Differential-privacy mode: noised attribute-augmented index
(SURVEY.md §3.2 / V6+V7; reference src/pipeline/pipeline_mode.py:56-113).

Index build: attr sentence → attr vector → seeded noise → weighted concat
0.7*text ⊕ 0.3*noisy_attr → re-normalize (pipeline_mode.py:78-86).
Query build: 0.7*query_vec ⊕ 0.3*zeros (pipeline_mode.py:97-102).
Noise-quality metric A7: mean cosine(attr, noisy_attr)
(pipeline_mode.py:112-113).

The index build is one Arrow-batched NumPy stage; the query side is JVM
expressions (functions.vector). Noise is the deterministic LCG
perturbation of :func:`functions.vector.add_noise` — the one place we
deliberately diverge from the reference (its np.random.normal at
pipeline_mode.py:79 is unseeded and therefore untestable; SURVEY.md §7c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from clinical_vector_search_spark.functions import vector as V


def build_dp_index_pd(
    df: DataFrame,
    text_vec: str,
    attr_vec: str,
    id_col: str,
    sigma: float = 0.15,
    w_text: float = 0.7,
    w_attr: float = 0.3,
) -> DataFrame:
    """Return (id_col, dp_vec, noise_cosine): ``dp_vec`` is the unit-norm
    dim_text+dim_attr DP index vector, ``noise_cosine`` the per-row A7
    quality.

    Matches reference order of operations (pipeline_mode.py:78-86): the
    attribute vector is NORMALIZED first, noise is added to the normalized
    vector, and ``noise_cosine`` compares normalized-vs-noisy — so the
    noise-to-signal ratio has reference semantics even for unnormalized
    encoder outputs. One Arrow-batched numpy stage runs normalize → noise
    → cosine → concat → normalize (as chained higher-order expressions
    all five are CodegenFallback, interpreted per element). The LCG noise
    is exact int64 math, bit-identical to
    :func:`functions.vector.add_noise`; the float stages match the
    expression composition to summation order (last ulp), which
    tests/test_pipeline.py bounds."""
    from clinical_vector_search_spark.functions.vector import (
        EPS,
        LCG_A,
        LCG_C,
        LCG_M,
    )

    out_schema = f"{id_col} long, dp_vec array<double>, noise_cosine double"

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype="int64")
            T = np.array(pdf[text_vec].tolist(), dtype="float64")
            A = np.array(pdf[attr_vec].tolist(), dtype="float64")
            dim = A.shape[1]
            an = A / (np.linalg.norm(A, axis=1, keepdims=True) + EPS)
            # add_noise parity: u = LCG((id*dim + i) mod M) in [0,1),
            # noise = (u - 0.5) * 2σ on the NORMALIZED attr vector
            idx = (ids[:, None] * dim + np.arange(dim, dtype="int64")) % LCG_M
            u = ((LCG_A * idx + LCG_C) % LCG_M).astype("float64") / float(LCG_M)
            noisy = an + (u - 0.5) * (2.0 * sigma)
            na = np.linalg.norm(an, axis=1) + EPS
            nn = np.linalg.norm(noisy, axis=1) + EPS
            noise_cos = np.einsum("ij,ij->i", an, noisy) / (na * nn)
            tn = T / (np.linalg.norm(T, axis=1, keepdims=True) + EPS)
            nyn = noisy / (np.linalg.norm(noisy, axis=1, keepdims=True) + EPS)
            dp = np.hstack([w_text * tn, w_attr * nyn])
            dp = dp / (np.linalg.norm(dp, axis=1, keepdims=True) + EPS)
            yield pd.DataFrame(
                {id_col: ids, "dp_vec": list(dp), "noise_cosine": noise_cos}
            )

    return df.select(id_col, text_vec, attr_vec).mapInPandas(kernel, out_schema)


def dp_query_vec(
    df: DataFrame, query_vec: str, attr_dim: int, w_text: float = 0.7, w_attr: float = 0.3
) -> DataFrame:
    """Zero-pad the attribute half on the query side
    (pipeline_mode.py:97-102)."""
    padded = V.weighted_concat(
        V.l2_normalize(query_vec), V.zeros(attr_dim), w_text, w_attr
    )
    return df.withColumn("dp_query_vec", V.l2_normalize(padded))
