"""Vector-column kernel (SURVEY.md §2.3).

All operators work on ``ArrayType(FloatType/DoubleType)`` columns using Spark
higher-order functions — pure JVM expressions, no Python in the hot path, so
Catalyst/Tungsten codegen applies and the ops scale with the data, not the
driver.

Reference parity notes (file:line cites into /root/reference):
  * L2 normalize keeps the reference's ``+1e-9`` epsilon
    (src/pipeline/utils.py:9-15).
  * Cosine/dot is the FAISS IndexFlatIP metric over normalized vectors
    (src/pipeline/pipeline.py:131,158; evaluation.py:291).
  * Weighted concat is the DP index layout: 0.7*text ⊕ 0.3*attr then
    re-normalize (src/pipeline/pipeline_mode.py:83-86).
  * Noise injection reproduces the DP perturbation
    (src/pipeline/pipeline_mode.py:78-80) but DETERMINISTICALLY — the
    reference leaves np.random unseeded there; we derive noise from an LCG
    keyed on (row id, element index) so runs are reproducible and
    oracle-checkable in plain SQL.
  * Random projection reproduces the FHE dimensionality reduction
    (src/pipeline/pipeline_mode.py:139-148: vecs @ R, R ~ seeded rng), again
    via a deterministic LCG matrix.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPS = 1e-9  # normalization epsilon, matches reference utils.py:9-15

# LCG constants (public-domain glibc/Borland parameters). Shared with the
# DuckDB oracle SQL — both engines compute identical 64-bit integer math.
LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2147483648  # 2^31

PROJ_A = 22695477  # Borland LCG multiplier, used for the projection matrix
PROJ_C = 1


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def to_double(vec: Column | str) -> Column:
    """Cast array<float> → array<double> so downstream math runs in fp64."""
    return F.transform(_col(vec), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product — left-to-right fold, fp64 accumulate (V3)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance — left-to-right fold, fp64 accumulate
    (the FAISS IndexFlatL2 metric; no sqrt, same argmin)."""
    return F.aggregate(
        F.zip_with(
            _col(a),
            _col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dlit(w: float) -> str:
    """Exact SQL double literal: ``repr`` is the shortest decimal that
    round-trips the IEEE-754 value in Python, and the JVM's
    ``Double.parseDouble`` is correctly rounded, so the parsed literal
    is bit-identical to ``F.lit(float(w))`` (pinned by
    tests/test_vector.py::test_lit_double_builders_bit_identical).
    Non-finite values (a degenerate PCA/k-means model) map to the
    ``double('Infinity')``/``double('NaN')`` spellings — ``repr``'s
    'inf'/'nan' would not parse (ADVICE r15; the per-element ``F.lit``
    path these builders replaced handled non-finites, so must this)."""
    w = float(w)
    if w != w:
        return "double('NaN')"
    if w == float("inf"):
        return "double('Infinity')"
    if w == float("-inf"):
        return "double('-Infinity')"
    return repr(w) + "D"


def lit_double_array(xs) -> Column:
    """array<double> literal built as ONE JVM-parsed expression.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element
    — a 64×16 centroid matrix was ~0.65 s of driver time PER QUERY
    PLAN BUILD (r15 measurement, knn serving path); the single
    ``F.expr`` parse is ~4 ms steady-state for the same bit-identical
    literal tree."""
    return F.expr("array(" + ",".join(_dlit(x) for x in xs) + ")")


def lit_double_matrix(rows) -> Column:
    """array<array<double>> literal in one JVM parse — see
    :func:`lit_double_array`."""
    body = ",".join(
        "array(" + ",".join(_dlit(x) for x in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def l2_normalize(a: Column | str, eps: float = EPS) -> Column:
    """V2: v / (‖v‖ + eps). Epsilon guards the zero vector (utils.py:9-15).

    The norm is evaluated ONCE per row: ``array_repeat(norm, size(v))``
    materializes it, then ``zip_with`` divides element-wise — O(d) total.
    (A naive ``transform(v, x -> x / norm(v))`` re-evaluates the norm
    aggregate inside the lambda for every element → O(d²) per vector.)
    """
    a = _col(a)
    norm = l2_norm(a) + F.lit(eps)
    return F.zip_with(
        a,
        F.array_repeat(norm, F.size(a)),
        lambda x, n: x.cast("double") / n,
    )


def cosine(a: Column | str, b: Column | str, eps: float = EPS) -> Column:
    """Cosine similarity for not-necessarily-normalized inputs."""
    return dot(a, b) / ((l2_norm(a) + F.lit(eps)) * (l2_norm(b) + F.lit(eps)))


def scale(a: Column | str, s: float | Column) -> Column:
    s = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(_col(a), lambda x: x.cast("double") * s)


def weighted_concat(
    a: Column | str, b: Column | str, wa: float = 0.7, wb: float = 0.3
) -> Column:
    """V7: hstack(wa*a, wb*b) — the DP 768-d layout (pipeline_mode.py:83-86).

    Callers re-normalize with :func:`l2_normalize` to finish the DP index
    vector. Query-side zero-padding (pipeline_mode.py:97-102) is
    ``weighted_concat(q, zeros(dim_b), 0.7, 0.3)``.
    """
    return F.concat(scale(a, wa), scale(b, wb))


def zeros(dim: int) -> Column:
    return F.array_repeat(F.lit(0.0), dim)


def quantize_scale(vec: Column | str, eps: float = 1e-12) -> Column:
    """Per-vector symmetric int8 scale: max(|x|)/127 (+eps guards the zero
    vector). One value per row — the metadata a quantized ANN index stores
    next to each code."""
    v = to_double(vec)
    return (F.array_max(F.transform(v, F.abs)) + F.lit(eps)) / F.lit(127.0)


def quantize_int8(
    vec: Column | str, scale_col: Column | None = None
) -> Column:
    """Scalar int8 quantization: round(x/scale) clamped to [-127, 127],
    returned as array<int>.

    The 100 TB rationale: a 384-d fp32 embedding is 1536 bytes; int8 codes
    + one fp scale are ~388 — a 4× cut in scan/shuffle/cache volume for
    ANN candidate generation, with exact rescoring on the surviving top-k
    (the same two-phase shape ``knn partial_topk`` already uses). Pure JVM
    expressions; dequantization is ``scale * code``.
    """
    v = to_double(vec)
    s = scale_col if scale_col is not None else quantize_scale(vec)
    # materialize the scale once per row (not per element — see l2_normalize)
    return F.zip_with(
        v,
        F.array_repeat(s, F.size(v)),
        lambda x, sc: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x / sc, 0).cast("int"))
        ),
    )


def dequantize(qvec: Column | str, scale_col: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> = scale * code."""
    s = _col(scale_col)
    q = _col(qvec)
    return F.zip_with(
        q, F.array_repeat(s, F.size(q)), lambda c, sc: c.cast("double") * sc
    )


def lcg_uniform(index: Column) -> Column:
    """Deterministic uniform in [0,1) from a 64-bit index — exact integer
    math, so Spark and any ANSI-SQL engine produce bit-identical values.

    The index is reduced mod LCG_M BEFORE the multiply so every intermediate
    stays below LCG_A * 2^31 ≈ 2.4e18 < 2^63 — no int64 overflow however
    large the row count (a raw ``LCG_A * index`` overflows past ~8.4e9,
    i.e. ~22M rows at dim 384, and Spark 4's ANSI mode would throw)."""
    reduced = F.pmod(index.cast("long"), F.lit(LCG_M))
    x = F.pmod(F.lit(LCG_A) * reduced + F.lit(LCG_C), F.lit(LCG_M))
    return x.cast("double") / F.lit(float(LCG_M))


def add_noise(
    vec: Column | str, row_id: Column | str, sigma: float, dim: int
) -> Column:
    """V6: element-wise perturbation ``v[i] + noise(row_id, i)`` with
    noise ~ deterministic-uniform(-sigma, sigma).

    The reference draws np.random.normal(0, sigma) UNSEEDED
    (pipeline_mode.py:78-80) — untestable. We key an LCG on
    (row_id*dim + i) instead: same privacy intent (bounded perturbation),
    fully reproducible, SQL-expressible.
    """
    vec, row_id = _col(vec), _col(row_id)
    return F.transform(
        vec,
        lambda x, i: x.cast("double")
        + (lcg_uniform(row_id * F.lit(dim) + i) - F.lit(0.5))
        * F.lit(2.0 * sigma),
    )


def proj_weight(i: Column, j: Column, out_dim: int) -> Column:
    """Projection matrix entry R[i][j] ~ deterministic-uniform(-0.5, 0.5).
    Index reduced mod LCG_M before the multiply (same overflow guard as
    :func:`lcg_uniform`)."""
    idx = F.pmod(i.cast("long") * F.lit(out_dim) + j.cast("long"), F.lit(LCG_M))
    x = F.pmod(F.lit(PROJ_A) * idx + F.lit(PROJ_C), F.lit(LCG_M))
    return x.cast("double") / F.lit(float(LCG_M)) - F.lit(0.5)


def random_projection(vec: Column | str, in_dim: int, out_dim: int) -> Column:
    """V8: out[j] = Σ_i vec[i] * R[i][j] — dimensionality reduction before
    the expensive (FHE) stage, as pipeline_mode.py:139-148 but with a
    deterministic matrix. Pure SQL expression."""
    vec = _col(vec)
    return F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(in_dim - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i + 1).cast("double") * proj_weight(i, j, out_dim),
        ),
    )


def hyperplane_sign_bucket(vec: Column | str, dim: int, n_planes: int) -> Column:
    """LSH bucket id: n_planes random-hyperplane sign bits packed little-endian.

    Plane p's normal is the deterministic LCG vector H[p][i] ~ U(-0.5, 0.5)
    (salted so it differs from the projection matrix). Used by the
    approximate-kNN scale path (SURVEY.md V5 — recall contract, not
    id-parity)."""
    vec = _col(vec)

    def plane_dot(p: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i + 1).cast("double")
            # salt=7777777 keeps plane weights independent of proj_weight;
            # index reduced mod LCG_M first (overflow guard, see lcg_uniform)
            * (
                F.pmod(
                    F.lit(PROJ_A)
                    * F.pmod(
                        p.cast("long") * F.lit(dim) + i + F.lit(7777777),
                        F.lit(LCG_M),
                    )
                    + F.lit(PROJ_C),
                    F.lit(LCG_M),
                ).cast("double")
                / F.lit(float(LCG_M))
                - F.lit(0.5)
            ),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        # 2^p via pow (exact in double for p < 53); shiftleft needs a
        # Python-int bit count and p here is a lambda-bound Column
        + F.when(
            plane_dot(p) >= 0, F.pow(F.lit(2.0), p).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )


def mean_pool(
    df,
    key_col: str = "label",
    vec_col: str = "embedding",
    out_col: str = "mean_vec",
):
    """Element-wise mean vector per key — the pooling stage that turns
    chunk/segment embeddings into one document/class embedding.

    Plan shape at scale: ``posexplode`` fans each vector out to (key, pos,
    value) rows, the mean is a map-side-combined aggregate on the COMPOSITE
    key (key, pos) — dim× more groups than keys, so a few hot keys cannot
    skew a partition the way a groupBy(key)+collect_list of whole vectors
    would — and the final reassembly groups dim tiny (pos, mean) rows per
    key. Returns (key_col, n_vecs, out_col).
    """
    ex = df.select(
        F.col(key_col), F.posexplode(to_double(vec_col)).alias("pos", "x")
    )
    per = ex.groupBy(key_col, "pos").agg(
        F.avg("x").alias("m"), F.count("*").alias("n")
    )
    return per.groupBy(key_col).agg(
        F.max("n").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias(out_col),
    )


def sign_pack(vec: Column | str, dim: int, word_bits: int = 32) -> Column:
    """Binary (1-bit sign) quantization: pack ``x > 0`` bits into an
    array<long> of ``ceil(dim/word_bits)`` words, MSB-first within a word
    (element ``w*word_bits+1`` lands on bit ``word_bits-1`` of word ``w``).

    The 100 TB rationale: a 384-d fp32 embedding is 1536 bytes; its sign
    code is 48 — a 32× cut in scan/shuffle volume for the candidate
    stage of :func:`~..operators.knn.hamming_rerank`, with exact cosine
    rescoring at candidate granularity only. Pure JVM fold expressions
    (``acc*2 + bit``), no Python in the hot path; 32-bit words keep every
    intermediate < 2^32 so the same math is exact BIGINT in any ANSI
    engine (no 64-bit sign-wrap divergence between engines).

    Mirrors the reference's quantization appetite (int8 scalar quant is
    the certified sibling, reference src/pipeline/pipeline.py embedding
    layout); binary+rerank is the standard scale path the reference's
    FAISS dependency ships as IndexBinaryFlat.
    """
    v = _col(vec)
    n_words = (dim + word_bits - 1) // word_bits

    def _word(base: int):
        # closure factory (NOT a default arg — pyspark counts lambda params
        # to pick the higher-order-function arity, so acc,j only)
        def fold(acc, j):
            idx = (F.lit(base) + j + 1).cast("int")
            bit = (
                F.when(
                    (F.lit(base) + j + 1 <= F.lit(dim)) & (F.element_at(v, idx) > 0),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .cast("long")
            )
            return acc * F.lit(2) + bit

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(word_bits - 1)), F.lit(0).cast("long"), fold
        )

    return F.array(*[_word(w * word_bits) for w in range(n_words)])


def hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed sign codes (arrays of words from
    :func:`sign_pack`): sum of popcount(xor) per word. Exact integer math —
    ``bit_count``/``xor`` are ANSI-portable, so the DuckDB oracle computes
    the identical value."""
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
