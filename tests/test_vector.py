"""Vector-kernel properties and NumPy golden comparisons (SURVEY §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import vector as V

VECS = [
    (0, [3.0, 4.0, 0.0]),
    (1, [1.0, 1.0, 1.0]),
    (2, [0.0, 0.0, 0.0]),  # zero vector — epsilon guard
    (3, [-2.5, 7.25, 0.125]),
]


@pytest.fixture(scope="module")
def vdf(spark):
    return spark.createDataFrame(VECS, "id long, v array<double>")


def test_normalize_unit_norm_and_idempotent(spark, vdf):
    out = vdf.select(
        "id",
        V.l2_normalize("v").alias("u"),
        V.l2_norm(V.l2_normalize("v")).alias("n1"),
        V.l2_norm(V.l2_normalize(V.l2_normalize("v"))).alias("n2"),
    ).collect()
    m = dict(VECS)
    for r in out:
        expect = np.array(m[r.id]) / (np.linalg.norm(m[r.id]) + V.EPS)
        assert np.allclose(r.u, expect, atol=1e-12)
        if r.id == 2:
            assert r.n1 == 0.0 and r.n2 == 0.0  # zero stays zero
        else:
            assert abs(r.n1 - 1.0) < 1e-8
            # V2∘V2 = V2 (up to the epsilon)
            assert abs(r.n2 - r.n1) < 1e-8


def test_dot_cosine_vs_numpy(spark, vdf):
    rows = (
        vdf.alias("a")
        .crossJoin(vdf.alias("b"))
        .select(
            F.col("a.id").alias("ai"),
            F.col("b.id").alias("bi"),
            V.dot("a.v", "b.v").alias("dot"),
            V.cosine("a.v", "b.v").alias("cos"),
        )
        .collect()
    )
    m = {i: np.array(v) for i, v in VECS}
    for r in rows:
        a, b = m[r.ai], m[r.bi]
        assert abs(r.dot - float(a @ b)) < 1e-9
        expect = float(a @ b) / (
            (np.linalg.norm(a) + V.EPS) * (np.linalg.norm(b) + V.EPS)
        )
        assert abs(r.cos - expect) < 1e-9


def test_weighted_concat_layout(spark, vdf):
    out = (
        vdf.filter(F.col("id") == 0)
        .select(V.weighted_concat("v", "v", 0.7, 0.3).alias("c"))
        .collect()[0]
        .c
    )
    assert out == [0.7 * x for x in VECS[0][1]] + [0.3 * x for x in VECS[0][1]]


def test_zeros_padding(spark):
    out = spark.range(1).select(V.zeros(4).alias("z")).collect()[0].z
    assert out == [0.0, 0.0, 0.0, 0.0]


def test_lcg_uniform_deterministic_and_bounded(spark):
    df = spark.range(1000).select(
        V.lcg_uniform(F.col("id")).alias("u"),
    )
    vals = [r.u for r in df.collect()]
    assert all(0.0 <= u < 1.0 for u in vals)
    # deterministic: same again
    vals2 = [r.u for r in df.collect()]
    assert vals == vals2
    # not constant / spread out
    assert len({round(u, 3) for u in vals}) > 500


def test_lcg_no_overflow_at_huge_index(spark):
    # indices far past 2^33 (the old overflow point at ~22M rows * 384 dims)
    df = spark.createDataFrame(
        [(2**62,), (10_000_000_000_000,)], "idx long"
    ).select(V.lcg_uniform(F.col("idx")).alias("u"))
    for r in df.collect():
        assert 0.0 <= r.u < 1.0


def test_add_noise_bounded_and_seeded(spark, vdf):
    sigma = 0.15
    out = vdf.filter(F.col("id") == 1).select(
        V.add_noise("v", "id", sigma, 3).alias("nv")
    )
    nv1 = out.collect()[0].nv
    nv2 = out.collect()[0].nv
    assert nv1 == nv2  # deterministic
    for orig, noisy in zip(VECS[1][1], nv1):
        assert abs(noisy - orig) <= sigma  # |U(-sigma, sigma)| bound


def _proj_matrix_np(in_dim, out_dim):
    """NumPy reference for V.proj_weight: the full R[in_dim, out_dim]
    matrix from the same LCG (all index math in int64, indices < 2^31)."""
    idx = (
        np.arange(in_dim, dtype="int64")[:, None] * out_dim
        + np.arange(out_dim, dtype="int64")[None, :]
    ) % V.LCG_M
    x = (V.PROJ_A * idx + V.PROJ_C) % V.LCG_M
    return x.astype("float64") / float(V.LCG_M) - 0.5


def test_random_projection_matches_numpy_twin(spark, vdf):
    out_dim = 5
    expr_rows = {
        r.id: r.p
        for r in vdf.select(
            "id", V.random_projection("v", 3, out_dim).alias("p")
        ).collect()
    }
    R = _proj_matrix_np(3, out_dim)
    for i, v in VECS:
        expect = np.array(v) @ R
        got = np.array(expr_rows[i])
        assert np.allclose(got, expect, atol=1e-9)


def test_hyperplane_bucket_range(spark, vdf):
    n_planes = 6
    out = vdf.select(
        V.hyperplane_sign_bucket("v", 3, n_planes).alias("b")
    ).collect()
    for r in out:
        assert 0 <= r.b < 2**n_planes


def test_quantize_int8_roundtrip(spark, sf_dir):
    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    s = V.quantize_scale("embedding")
    q = V.quantize_int8("embedding", scale_col=s)
    dq = V.dequantize(q, s)
    rows = v.select(
        F.col("embedding"),
        s.alias("s"),
        q.alias("q"),
        dq.alias("dq"),
        V.cosine("embedding", dq).alias("cos"),
    ).collect()
    assert rows
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.q)
        # max-abs element quantizes to ±127 (up to the eps guard)
        assert max(abs(c) for c in r.q) == 127
        # per-element reconstruction error bounded by half a quantization step
        for x, y in zip(r.embedding, r.dq):
            assert abs(x - y) <= r.s / 2 + 1e-12
        assert r.cos > 0.999


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "id long, v array<double>")
    r = df.select(V.quantize_int8("v").alias("q")).collect()[0]
    assert r.q == [0, 0, 0]


def test_mean_pool_matches_numpy(spark, sf_dir):
    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r.label: (r.n_vecs, r.mean_vec) for r in V.mean_pool(v).collect()}
    pdf = v.toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.array(grp["embedding"].tolist(), dtype="float64")
        n, mv = got[label]
        assert n == len(grp)
        assert np.allclose(np.array(mv), mat.mean(axis=0), atol=1e-9)


def test_lit_double_builders_bit_identical(spark):
    """r15: the one-parse literal builders must produce bit-identical
    values to the per-element F.lit spelling they replaced — including
    exponent-form, negative, and non-terminating binary fractions."""
    import struct

    from pyspark.sql import functions as F

    rows = [
        [1e-05, -0.5, 0.1, 1.0 / 3.0, 2.0 ** -40],
        [123456789.123456789, -1e300, 5e-324, 0.0, 1.0],
    ]
    old = F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])
    new = V.lit_double_matrix(rows)
    got = spark.range(1).select(old.alias("a"), new.alias("b")).collect()[0]
    bits = lambda m: [struct.pack("<d", x) for r in m for x in r]  # noqa: E731
    assert bits(got["a"]) == bits(got["b"])
    one = spark.range(1).select(
        V.lit_double_array(rows[0]).alias("x")
    ).collect()[0]["x"]
    assert bits([one]) == bits([rows[0]])
    # non-finite values (degenerate models) must parse, not raise —
    # and stay bit-identical to the F.lit path (ADVICE r15)
    nf = [float("inf"), float("-inf"), float("nan"), 1.0]
    got_nf = spark.range(1).select(
        F.array(*[F.lit(x) for x in nf]).alias("a"),
        V.lit_double_array(nf).alias("b"),
    ).collect()[0]
    assert bits([got_nf["a"]]) == bits([got_nf["b"]])
