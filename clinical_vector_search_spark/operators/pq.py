"""Product quantization (PQ) — the third approximate-NN scale path next to
LSH and IVF (operators/knn.py), per Jégou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011).

The 64-dim embedding splits into ``m`` subspaces of ``dsub`` dims; each
subspace has its own ``ksub``-entry codebook, so a vector compresses to
``m`` small codes (m=8, ksub=16 → 8 codes ≈ 4 bytes vs 512 bytes of
float64: a 128× memory cut, which is the point at 100 TB — the codes table
fits where the raw vectors cannot). Query scoring is ADC (asymmetric
distance computation): one tiny per-query distance table (m × ksub), then
each doc scores with ``m`` table lookups instead of a ``dim``-wide dot.

Codebooks:
  * :func:`pq_codebooks_lcg` — deterministic integer-LCG codebooks
    (salt 7777777, disjoint from the projection/LSH/IVF families). Poor
    quantizers but bit-reproducible in ANSI SQL, so encode AND ADC top-k
    get full value-hash oracles (the knn_ivf_fullprobe pattern).
  * :func:`pq_codebooks_trained` — per-subspace Lloyd's k-means, every
    iteration ONE distributed mapInPandas pass producing partitions×m×ksub
    partial rows (the kmeans_centroids shape, knn.py:211-269). Train on a
    hash-sampled subset at scale, exactly like FAISS trains its quantizer.

:func:`pq_encode` and :func:`knn_pq_adc` are Arrow-batched NumPy
kernels; both are hash-checked against the DuckDB oracle
(``vec_pq_codes`` / ``knn_pq_adc`` entries) and against a plain-Python
reference in tests/test_pq.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions.vector import (
    LCG_M,
    PROJ_A,
    PROJ_C,
    lit_double_matrix,
)
from clinical_vector_search_spark.operators.knn import (
    ASSIGN_SCALE as _ASCALE,
)
from clinical_vector_search_spark.operators.knn import (
    _collect_queries,
    _ranked_asc,
)

PQ_SALT = 7777777


def _sumsq_lr(diff, axis: int):
    """Left-to-right fold of ``diff**2`` along ``axis``.

    np.sum uses pairwise (tree) summation, which can differ from the
    sequential fold of F.aggregate / DuckDB list_sum by an ulp — enough in
    principle to flip a round(,6) value or an argmin on a near-tie. The
    SQL oracle and the expression encoder (:func:`ivfpq_encode`) fold
    d-order left-to-right, so the NumPy kernels must too (ADVICE r4)."""
    import numpy as np

    sq = np.moveaxis(diff * diff, axis, -1)
    acc = sq[..., 0].copy()
    for t in range(1, sq.shape[-1]):
        acc += sq[..., t]
    return acc


def pq_codebooks_lcg(dim: int, m: int = 8, ksub: int = 16) -> list:
    """Deterministic codebooks: value(sub, k, d) from one LCG step of the
    flat index (sub*ksub + k)*dsub + d + salt, mapped to U(-0.5, 0.5).
    Integer math + one exact division → reproducible in any engine."""
    assert dim % m == 0, "dim must divide into m subspaces"
    dsub = dim // m
    return [
        [
            [
                (PROJ_A * (((sub * ksub + k) * dsub + d + PQ_SALT) % LCG_M) + PROJ_C)
                % LCG_M
                / float(LCG_M)
                - 0.5
                for d in range(dsub)
            ]
            for k in range(ksub)
        ]
        for sub in range(m)
    ]


def pq_codebooks_trained(
    docs: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 5,
    doc_vec: str = "embedding",
    centroids: list | None = None,
) -> list:
    """Per-subspace k-means codebooks. Each iteration: one mapInPandas pass
    computes per-(subspace, cluster) (count, sum) partials in NumPy; the
    driver combines partitions×m×ksub tiny rows. LCG-initialized, so runs
    are reproducible; empty clusters keep their previous centroid.

    ``centroids``: when given (a coarse-quantizer centroid matrix),
    training runs on RESIDUALS x − c(x) instead of raw vectors — the
    input distribution ``knn_ivfpq(residual=True)`` actually encodes
    (true FAISS IVFADC trains exactly this way). The r8 sweep measured
    the mismatch this fixes: raw-trained books + residual encoding
    LOWERS recall (0.54 → 0.36 at m=16/ksub=256) because the codebooks
    quantize a distribution the encoder never feeds them."""
    import numpy as np

    assert dim % m == 0
    dsub = dim // m
    books = np.array(pq_codebooks_lcg(dim, m, ksub), dtype="float64")
    C = (
        np.array(centroids, dtype="float64")
        if centroids is not None
        else None
    )
    # pin the training input once: with residual books ``docs`` is the
    # residual_vectors mapInPandas pipeline — unpinned it would
    # re-encode the corpus on every k-means iteration (same trap as
    # the pagerank edge pin)
    data = docs.select(doc_vec).localCheckpoint()
    schema = "sub int, cluster int, n long, vsum array<double>"
    for _ in range(n_iter):
        B = books

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums = np.zeros((m, ksub, dsub), dtype="float64")
            counts = np.zeros((m, ksub), dtype="int64")
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf[doc_vec].tolist(), dtype="float64")
                if C is not None:
                    # same quantized argmax-dot coarse assignment as the
                    # encoder (quantize-before-argmax, knn.ASSIGN_SCALE)
                    mat = mat - C[
                        np.argmax(
                            np.floor(mat @ C.T * _ASCALE + 0.5), axis=1
                        )
                    ]
                segs = mat.reshape(len(mat), m, dsub)
                for sub in range(m):
                    # L2 argmin via ||x||² - 2x·c + ||c||² (x-term constant)
                    d2 = (
                        -2.0 * segs[:, sub, :] @ B[sub].T
                        + (B[sub] ** 2).sum(axis=1)
                    )
                    assign = np.argmin(d2, axis=1)
                    np.add.at(sums[sub], assign, segs[:, sub, :])
                    counts[sub] += np.bincount(assign, minlength=ksub)
            rows = []
            for sub in range(m):
                for k in range(ksub):
                    rows.append((sub, k, int(counts[sub, k]), list(sums[sub, k])))
            yield pd.DataFrame(rows, columns=["sub", "cluster", "n", "vsum"])

        parts = data.mapInPandas(partial, schema).collect()
        tot = np.zeros_like(books)
        cnt = np.zeros((m, ksub), dtype="int64")
        for r in parts:
            tot[r["sub"], r["cluster"]] += np.array(r["vsum"], dtype="float64")
            cnt[r["sub"], r["cluster"]] += r["n"]
        new = books.copy()
        nz = cnt > 0
        new[nz] = tot[nz] / cnt[nz][:, None]
        books = new
    return [[[float(x) for x in c] for c in b] for b in books]


def _subspace_dists(vec: str, books: list, sub: int) -> F.Column:
    """Array of ksub squared-L2 distances from vec's sub-th segment to the
    sub-th codebook — d-order summation matches the SQL oracle. Only the
    sub-th codebook slice enters the plan as a literal (embedding the full
    m×ksub×dsub table per call would bloat every ivfpq_encode plan m-fold)."""
    dsub = len(books[0][0])
    v = F.col(vec)
    cb = lit_double_matrix(books[sub])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(books[0]) - 1)),
        lambda k: F.aggregate(
            F.sequence(F.lit(0), F.lit(dsub - 1)),
            F.lit(0.0),
            lambda acc, d: acc
            + F.pow(
                F.element_at(v, (F.lit(sub * dsub) + d).cast("int") + 1)
                - F.element_at(
                    F.element_at(cb, k.cast("int") + 1),
                    d.cast("int") + 1,
                ),
                F.lit(2.0),
            ),
        ),
    )


def pq_encode(
    df: DataFrame,
    books: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """PQ encoder: codes[sub] = argmin_k ||segment - c_k||² (first-min
    ties, matching SQL list_indexof; d-order summation, see
    :func:`_sumsq_lr`). Arrow-batched NumPy argmin. Returns (id, codes)."""
    import numpy as np

    B = np.array(books, dtype="float64")  # (m, ksub, dsub)
    m, _ksub, dsub = B.shape

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype="float64")
            segs = mat.reshape(len(mat), m, dsub)
            codes = np.empty((len(mat), m), dtype="int32")
            for sub in range(m):
                d2 = _sumsq_lr(segs[:, sub, :, None] - B[sub].T[None], 1)
                codes[:, sub] = np.argmin(d2, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, {out_col} array<int>"
    )


def knn_pq_adc(
    queries: DataFrame,
    codes: DataFrame,
    books: list,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    code_col: str = "codes",
) -> DataFrame:
    """ADC top-k: score each doc with ``m`` table lookups into a per-query
    m×ksub distance table — never touching raw doc vectors. Returns
    (query_id, rank, doc_id, adc_dist) ascending, ties by doc id.

    The bounded query batch (at most 100 000 rows, else ``ValueError``)
    collects to the driver; its distance tables ship into a mapInPandas
    kernel that scores whole Arrow batches with vectorized lookups and
    emits only its per-partition top-k per query (deterministic
    (dist, doc_id) lexsort); a final window over the partitions × Q × k
    survivors picks the global top-k. This is the partial_topk shape
    (operators/knn.py:62-91): the corpus-sized codes table (≈128×
    smaller than the vectors at 100 TB) is read once, map-side, and only
    tiny candidate sets shuffle. Approximation error is the quantization
    error — recall vs exact kNN rises with trained codebooks
    (tests/test_pq.py)."""
    import numpy as np

    B = np.array(books, dtype="float64")
    m, _ksub, dsub = B.shape
    qrows = _collect_queries(queries, query_id, query_vec, "knn_pq_adc")
    qids = [r[0] for r in qrows]
    Q = np.array([list(r[1]) for r in qrows], dtype="float64")
    segs = Q.reshape(len(Q), m, dsub)
    # tables[q, sub, k] — left-to-right d-order fold matches the SQL
    # oracle exactly (see _sumsq_lr)
    tabs = _sumsq_lr(segs[:, :, None, :] - B[None], -1)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf[code_col].tolist(), dtype="int64")
            ids = pdf[doc_id].to_numpy()
            d = np.zeros((len(qids), len(C)), dtype="float64")
            for sub in range(m):
                d += tabs[:, sub, C[:, sub]]
            kk = min(k, len(C))
            out_q, out_d, out_s = [], [], []
            for qi in range(len(qids)):
                order = np.lexsort((ids, d[qi]))[:kk]
                out_q.extend([qids[qi]] * kk)
                out_d.extend(ids[order])
                out_s.extend(d[qi][order])
            yield pd.DataFrame(
                {query_id: out_q, doc_id: out_d, "adc_dist": out_s}
            )

    partials = codes.mapInPandas(
        fn, f"{query_id} long, {doc_id} long, adc_dist double"
    )
    return _ranked_asc(partials, query_id, doc_id, k, "adc_dist")


def knn_ivfpq(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ composite — the canonical billion-scale ANN layout (FAISS
    IVFx,PQy): a coarse quantizer prunes the corpus to ``n_probe`` of
    ``n_centroids`` inverted lists, and within the probed lists docs score
    via PQ ADC table lookups instead of full-width dots. At 100 TB the
    corpus is stored ONCE as (cluster, codes) — ~128× smaller than raw
    vectors — clustered/partitioned by the coarse cell so a probe reads
    only its cells' files.

    ``residual=True`` is true FAISS IVFADC: each doc encodes its RESIDUAL
    (x − coarse centroid) instead of x, and the query builds one distance
    table per (query, probed cell) over (q − centroid) — residuals are
    tighter around zero than raw vectors, so the same codebook budget
    quantizes them with less error. The per-(query, cell) tables are
    nq × n_centroids × m × ksub scalars — still driver-tiny. Caveats
    (measured in the r8 tuning sweep at m=16/ksub=256, sf0.1):
    ``residual=True`` needs RESIDUAL-trained books —
    ``pq_codebooks_trained(..., centroids=cents)`` — or codebook and
    input distribution mismatch and recall drops (raw-trained books:
    0.36; residual-trained: 0.43). And on L2-normalized corpora with
    few coarse cells the residuals are NOT much smaller than the raw
    vectors (residual norm ≈ the angular spread within a cell), so
    plain raw encoding measured BETTER still (0.54) — IVFADC's edge
    appears when cells are tight relative to the vector scale, i.e.
    many centroids at real corpus sizes.

    Composition of the two audited parts: coarse assignment/probing from
    operators.knn (argmax-dot centroids, knn.py:302-356) and ADC scoring
    from this module. Approximate on two axes (pruning recall ×
    quantization error); recall contract tested in tests/test_pq.py.
    Caller-passed ``centroids`` must keep coarse dots bounded,
    |dot| ≲ 1e3 (normalize) — see the ``ASSIGN_SCALE`` precondition
    note in operators/knn.py. Returns (query_id, rank, doc_id,
    adc_dist)."""
    from clinical_vector_search_spark.operators.knn import _centroid_matrix

    cents = centroids or _centroid_matrix(dim, n_centroids)

    # one corpus pass: coarse cell + PQ codes (numpy kernel) — the same
    # encoder the incremental index-add path runs per batch
    index = ivfpq_encode_pd(
        docs, dim, books, cents, n_centroids, doc_id, doc_vec, residual
    )
    return knn_ivfpq_codes(
        queries, index, k, dim, books, cents, n_centroids,
        query_id, query_vec, doc_id, n_probe, residual,
    )


def knn_ivfpq_codes(
    queries: DataFrame,
    index: DataFrame,
    k: int,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    n_probe: int = 4,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ ADC search over a PREBUILT (id, cluster, codes) index —
    the serving half of the incremental maintenance loop: build with
    :func:`ivfpq_encode_pd` (or fold batches in with
    :func:`ivfpq_index_add` and read back with
    :func:`read_ivfpq_index`), then query HERE without ever
    re-encoding the corpus. At 100 TB this is the whole point of the
    codes table: the raw vectors are cold storage, the ~128×-smaller
    codes (clustered by coarse cell) are what queries touch. Same
    probing/scoring as :func:`knn_ivfpq` (which now composes encode +
    this); ``centroids``/``books``/``residual`` must match the state
    the index was encoded with."""
    import numpy as np

    from clinical_vector_search_spark.operators.knn import (
        _centroid_dots,
        _centroid_matrix,
        _top_probes,
    )

    cents = centroids or _centroid_matrix(dim, n_centroids)
    B = np.array(books, dtype="float64")
    m, _ksub, dsub = B.shape
    C = np.array(cents, dtype="float64")

    # query side: probe top-n_probe coarse cells (expression path — tiny;
    # rounded dots, ties → smallest index — same rule as knn_ivf)
    q_dots = _centroid_dots(query_vec, dim, len(cents), cents)
    probes = _top_probes(q_dots, len(cents), n_probe)
    q = queries.withColumn("cluster", F.explode(probes)).select(
        query_id, query_vec, "cluster"
    )

    # ADC within probed cells: build the distance tables once driver-side
    # (bounded query batch) and score the cell-joined codes in numpy.
    # residual=False: one table per query; residual=True: one per
    # (query, cell) over (q − centroid) — both driver-tiny.
    qrows = _collect_queries(queries, query_id, query_vec, "knn_ivfpq_codes")
    qids = {r[0]: i for i, r in enumerate(qrows)}
    Q = np.array([list(r[1]) for r in qrows], dtype="float64")
    if residual:
        # (nq, n_centroids, m, dsub) residual query segments
        rq = (Q[:, None, :] - C[None]).reshape(len(Q), len(C), m, dsub)
        tabs = _sumsq_lr(rq[:, :, :, None, :] - B[None, None], -1)
    else:
        segs = Q.reshape(len(Q), m, dsub)
        tabs = _sumsq_lr(segs[:, :, None, :] - B[None], -1)

    joined = index.join(q.select(query_id, "cluster"), "cluster").select(
        query_id, doc_id, "cluster", "codes"
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cc = np.array(pdf["codes"].tolist(), dtype="int64")
            qi = pdf[query_id].map(qids).to_numpy()
            d = np.zeros(len(Cc), dtype="float64")
            if residual:
                cl = pdf["cluster"].to_numpy()
                for sub in range(m):
                    d += tabs[qi, cl, sub, Cc[:, sub]]
            else:
                for sub in range(m):
                    d += tabs[qi, sub, Cc[:, sub]]
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id],
                    doc_id: pdf[doc_id],
                    "adc_dist": d,
                }
            )

    scored = joined.mapInPandas(
        score, f"{query_id} long, {doc_id} long, adc_dist double"
    )
    return _ranked_asc(scored, query_id, doc_id, k, "adc_dist")


def residual_vectors(
    docs: DataFrame,
    dim: int,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """(id, residual) frame: each vector minus its argmax-dot coarse
    centroid — the training input for residual codebooks (train
    :func:`pq_codebooks_trained` on THIS frame to get IVFADC books that
    quantize what will actually be encoded)."""
    import numpy as np

    C = np.array(centroids, dtype="float64")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype="float64")
            # quantize-before-argmax — must match the encoder's assignment
            cluster = np.argmax(
                np.floor(mat @ C.T * _ASCALE + 0.5), axis=1
            )
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: list(mat - C[cluster])}
            )

    return docs.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, {out_col} array<double>"
    )


def ivfpq_encode_pd(
    docs: DataFrame,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """(id, cluster, codes) for every row — the IVF-PQ index build pass
    (coarse argmax-dot cell + per-subspace PQ argmin codes), factored
    out of :func:`knn_ivfpq` so the incremental index-add path runs the
    EXACT kernel a full rebuild would: assignment is quantize-before-
    argmax (``knn.ASSIGN_SCALE``, first-max ties) and codes are
    first-min argmin, both matching the expression twin
    :func:`ivfpq_encode` and the SQL oracle bit-for-bit. Arrow-batched
    NumPy — the throughput path. ``residual=True`` encodes x − centroid
    (FAISS IVFADC; see the :func:`knn_ivfpq` caveats on codebook
    training)."""
    import numpy as np

    from clinical_vector_search_spark.operators.knn import (
        ASSIGN_SCALE,
        _centroid_matrix,
    )

    B = np.array(books, dtype="float64")
    m, _ksub, dsub = B.shape
    C = np.array(
        centroids or _centroid_matrix(dim, n_centroids), dtype="float64"
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype="float64")
            # quantize-before-argmax (ASSIGN_SCALE) — same rule as knn_ivf
            cluster = np.argmax(
                np.floor(mat @ C.T * ASSIGN_SCALE + 0.5), axis=1
            )
            enc = mat - C[cluster] if residual else mat
            segs = enc.reshape(len(mat), m, dsub)
            codes = np.empty((len(mat), m), dtype="int32")
            for sub in range(m):
                d2 = _sumsq_lr(segs[:, sub, :, None] - B[sub].T[None], 1)
                codes[:, sub] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": cluster.astype("int32"),
                    "codes": list(codes),
                }
            )

    return docs.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, cluster int, codes array<int>"
    )


def ivfpq_encode(
    docs: DataFrame,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Expression twin of :func:`ivfpq_encode_pd` — pure built-in
    expressions (whole-stage codegen, zero Python workers, zero joins,
    zero shuffle: the plan is one Project over the scan, with the
    centroids and the probed codebook slices as literals). This is the
    shape the incremental add needs at 100 TB: a daily batch folds into
    a persisted trained index entirely map-side. Identical output to
    the numpy twin (parity in tests/test_pq.py). Caller-passed
    ``centroids`` must keep dots bounded (normalize) — the
    ``ASSIGN_SCALE`` precondition in operators/knn.py."""
    from clinical_vector_search_spark.operators.knn import (
        _centroid_assign,
        _centroid_dots,
        _centroid_matrix,
    )

    cents = centroids or _centroid_matrix(dim, n_centroids)
    out = docs.select(id_col, vec_col).withColumn(
        "cluster", _centroid_assign(_centroid_dots(vec_col, dim, len(cents), cents))
    )
    enc_col = vec_col
    if residual:
        cent_arr = lit_double_matrix(cents)
        out = out.withColumn(
            "_enc",
            F.zip_with(
                F.col(vec_col),
                F.element_at(cent_arr, F.col("cluster") + 1),
                lambda x, w: x.cast("double") - w,
            ),
        )
        enc_col = "_enc"
    code_cols = []
    for sub in range(len(books)):
        dists = _subspace_dists(enc_col, books, sub)
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return out.select(
        F.col(id_col), F.col("cluster"), F.array(*code_cols).alias("codes")
    )


def read_ivfpq_index(
    spark, path: str, tombstone_path: str | None = None, id_col: str = "vec_id"
) -> DataFrame:
    """Read an :func:`ivfpq_index_add`-maintained codes directory — one
    plain ``batch-{id}`` subdirectory per ingested batch (the
    idempotent-retry layout), so listing must be recursive; tolerates
    the mixed layout after ``io.tables.compact_batched``.

    ``tombstone_path`` (an :func:`ivfpq_index_delete` directory) filters
    deleted ids with a BROADCAST anti-join, so the read stays one codes
    scan. All of it — swap self-heal included — is the shared reader
    half, ``io.tables.read_batches``."""
    from clinical_vector_search_spark.io.tables import read_batches

    return read_batches(spark, path, tombstones=tombstone_path, key=id_col)


def ivfpq_index_add(
    spark,
    new_vecs: DataFrame,
    batch_id: int,
    index_path: str,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    encoder: str = "expr",
    run_id: str | None = None,
) -> None:
    """Incremental IVF-PQ index maintenance — FAISS ``IndexIVFPQ.add``
    re-expressed for a codes table: fold a batch of new vectors into a
    PERSISTED trained index (assign to the existing coarse centroids,
    PQ-encode against the existing codebooks, append the (id, cluster,
    codes) rows) WITHOUT retraining and without touching the corpus —
    the serving-side twin of ``dedup.minhash_pairs_incremental``; cost
    ∝ batch, the index is never rescanned or shuffled (assignment is a
    pure per-row function of the trained state, which ships as plan
    literals).

    ``encoder`` picks between the bit-identical twins (parity in
    tests/test_pq.py): ``"expr"`` (:func:`ivfpq_encode`) stays inside
    whole-stage codegen with zero Python workers, but pays a constant
    ~2 s driver-side analysis+codegen compile of the ~m·ksub·dsub-term
    expression tree per plan build — negligible on a real ingest,
    dominant on a tiny one; ``"pd"`` (:func:`ivfpq_encode_pd`) is the
    Arrow-batched NumPy throughput path (measured 0.26 s vs 2.1 s warm
    on a 250-row batch — the plan-compile gap, not a kernel gap).

    Storage is the shared sink half (``io.tables.open_batch`` /
    ``write_batch``: batch-id overwrite, so retries are bit-identical
    up to the last ``compact_batched``). Read back with
    :func:`read_ivfpq_index`. Deterministic end-to-end
    (``ASSIGN_SCALE`` quantized argmax, first-min codes), so the oracle
    contract is the full-index rebuild restricted to batch rows."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    if encoder not in ("expr", "pd"):
        raise ValueError(
            f"encoder must be 'expr' or 'pd', got {encoder!r}"
        )
    bsub = open_batch(spark, "batch", run_id, batch_id, [index_path])
    enc_fn = ivfpq_encode if encoder == "expr" else ivfpq_encode_pd
    enc = enc_fn(
        new_vecs, dim, books, centroids, n_centroids, id_col, vec_col, residual
    )
    write_batch(spark, bsub, {index_path: enc})


def knn_pq_refine(
    queries: DataFrame,
    docs: DataFrame,
    books: list,
    k: int,
    k_coarse: int = 50,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage compressed search (the FAISS IndexRefineFlat
    architecture, generalizing reference pipeline.py:126-136's
    single-stage index): ADC over the PQ codes prunes the corpus to
    ``k_coarse`` candidates per query, then ONLY those candidates'
    raw vectors are fetched (doc-id equi-join at candidate granularity
    — Q·k_coarse rows, never corpus-sized) and rescored with the exact
    L2 distance; the final top-``k`` ranks by the exact score.

    Why this is the 100 TB serving shape: the scan stage touches the
    codes table (m bytes/doc, ~d·4/m× smaller than the vectors); the
    raw vectors are read point-wise through a join that a bucketed or
    z-ordered layout turns into a pruned fetch. Recall ≥ plain ADC at
    equal k (refinement can only fix quantization-induced inversions
    inside the candidate set — tests assert both), and the result is
    EXACT whenever the true top-k survives the coarse cut.

    Returns (query_id, rank, doc_id, l2_dist ascending, ties by doc id).
    """
    from clinical_vector_search_spark.functions import vector as V

    codes = pq_encode(
        docs.select(F.col(doc_id), F.col(vec_col)), books,
        id_col=doc_id, vec_col=vec_col,
    )
    cand = knn_pq_adc(
        queries, codes, books, k_coarse,
        query_id=query_id, query_vec=query_vec, doc_id=doc_id,
    ).select(query_id, doc_id)
    rescored = (
        cand.join(
            docs.select(F.col(doc_id), F.col(vec_col).alias("_dv")), doc_id
        )
        .join(
            F.broadcast(
                queries.select(F.col(query_id), F.col(query_vec).alias("_qv"))
            ),
            query_id,
        )
        .select(query_id, doc_id, V.l2_sq("_qv", "_dv").alias("l2_dist"))
    )
    return _ranked_asc(rescored, query_id, doc_id, k, "l2_dist")


def knn_refine_codes(
    queries: DataFrame,
    index: DataFrame,
    raw_vecs: DataFrame,
    k: int,
    dim: int,
    books: list,
    centroids: list | None = None,
    n_centroids: int = 16,
    k_coarse: int = 50,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    residual: bool = False,
) -> DataFrame:
    """Two-stage refine over a MAINTAINED index — the full FAISS
    ``IndexRefineFlat(IndexIVFPQ)`` serving shape, ending the
    maintenance lifecycle the way :func:`knn_pq_refine` cannot (it
    re-encodes the corpus every call): the ADC coarse cut runs over the
    READ-BACK codes table (:func:`read_ivfpq_index` — tombstone
    anti-join included, so deleted docs can neither rank nor be
    rescored), pruning to ``k_coarse`` candidates per query; then ONLY
    those candidates' raw vectors are fetched (doc-id equi-join at
    candidate granularity — Q·k_coarse rows, never corpus-sized) and
    rescored with the exact L2 distance. Final top-``k`` ranks by the
    exact score, ties by doc id.

    The 100 TB division of labor: hot path touches the ~dim·4/m×-smaller
    codes (one scan, clustered by coarse cell); ``raw_vecs`` stays cold
    and is read point-wise through the candidate join — a bucketed or
    z-ordered vector layout turns that into a pruned fetch. ``books``/
    ``centroids``/``residual`` must match the state the index was
    encoded with, exactly as in :func:`knn_ivfpq_codes` (which supplies
    the coarse stage)."""
    from clinical_vector_search_spark.functions import vector as V

    cand = knn_ivfpq_codes(
        queries, index, k_coarse, dim, books, centroids, n_centroids,
        query_id, query_vec, doc_id, n_probe, residual,
    ).select(query_id, doc_id)
    rescored = (
        cand.join(
            raw_vecs.select(F.col(doc_id), F.col(vec_col).alias("_dv")),
            doc_id,
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id), F.col(query_vec).alias("_qv")
                )
            ),
            query_id,
        )
        .select(query_id, doc_id, V.l2_sq("_qv", "_dv").alias("l2_dist"))
    )
    return _ranked_asc(rescored, query_id, doc_id, k, "l2_dist")


def ivfpq_index_delete(
    spark,
    ids: DataFrame,
    batch_id: int,
    tombstone_path: str,
    id_col: str = "vec_id",
    run_id: str | None = None,
) -> None:
    """Delete half of the codes-table lifecycle (FAISS ``remove_ids``
    re-expressed for immutable storage): ids are TOMBSTONED — appended
    as their own idempotent ``batch-{id}`` subdirectory under a path
    the caller keeps NEXT TO the codes directory (a separate path, so
    the codes reader's recursive listing never mixes schemas) — and
    filtered out at read time by :func:`read_ivfpq_index`'s broadcast
    anti-join. Cost ∝ deleted ids; the codes files are never rewritten
    (the 100 TB takedown path: a GDPR erasure is one tiny tombstone
    write, physical erasure happens at the next compaction — rewrite
    the codes minus tombstones, then clear the tombstone directory).
    Tombstones win over every add; re-ingesting a deleted id requires
    that physical compaction first. Storage is the shared sink half
    (``io.tables.open_batch`` / ``write_batch``)."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    sub = open_batch(spark, "batch", run_id, batch_id, [tombstone_path])
    write_batch(spark, sub, {tombstone_path: ids.select(id_col).distinct()})


def write_trained_state(
    spark,
    index_path: str,
    centroids: list,
    books: list,
    dim: int,
    residual: bool = False,
) -> None:
    """Stamp a maintained IVF-PQ index's trained state — coarse
    centroids + PQ codebooks + the geometry that interprets them — as a
    hidden ``_TRAINED.json`` INSIDE the codes directory. Hidden files
    are invisible to every parquet listing (Spark skips ``_``/``.``
    prefixes), so the codes readers never see it; living inside the
    directory (not as a sibling) means the compactors' move-aside swap
    carries it atomically with the codes it encodes
    (``io.tables._rewrite_and_swap`` preserves it across every rewrite).
    Published by hidden-tmp + FileContext atomic overwrite rename
    (``io.tables.publish_sidecar`` — the machinery shared with the
    semantic index's ``dedup.write_semantic_state``) so a crash
    mid-write never leaves a torn state file. Call once after the
    initial train/build; :func:`reindex_ivfpq` re-stamps it atomically
    with the re-encoded codes."""
    from clinical_vector_search_spark.io.tables import publish_sidecar

    publish_sidecar(
        spark, index_path, _trained_payload(centroids, books, dim, residual)
    )


def _trained_payload(
    centroids: list, books: list, dim: int, residual: bool
) -> bytes:
    import json

    return json.dumps(
        {
            "centroids": [[float(x) for x in row] for row in centroids],
            "books": [
                [[float(x) for x in c] for c in b] for b in books
            ],
            "dim": int(dim),
            "n_centroids": len(centroids),
            "m": len(books),
            "ksub": len(books[0]),
            "residual": bool(residual),
        }
    ).encode("utf-8")


def read_trained_state(spark, index_path: str) -> dict | None:
    """Read the trained state stamped by :func:`write_trained_state` /
    :func:`reindex_ivfpq` — the (centroids, books, dim, m, ksub,
    residual) every :func:`ivfpq_index_add` and serving call must agree
    on. None when the index carries no state file (pre-r14 indexes,
    where the caller keeps the trained state itself). Self-heals a
    crashed swap first (``io.tables.read_sidecar``)."""
    import json

    from clinical_vector_search_spark.io.tables import read_sidecar

    payload = read_sidecar(spark, index_path)
    return None if payload is None else json.loads(payload)


def reindex_ivfpq(
    spark,
    index_path: str,
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_centroids: int = 16,
    n_iter: int = 5,
    tombstone_path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    train_sample: DataFrame | None = None,
    encoder: str = "pd",
    target_file_bytes: int = 128 * 1024 * 1024,
    break_stale_lease_after_sec: float | None = None,
) -> dict:
    """Leased retrain-and-re-encode compaction — the missing lifecycle
    stage that closes the IVF-PQ drift hole: :func:`ivfpq_index_add`
    assigns every batch to the EXISTING centroids and codebooks (map-
    side by design), so after many ingests of a drifting distribution
    the frozen geometry decays recall with no recovery path short of a
    manual full rebuild. This job reaches the freshly-trained state the
    reference gets by rebuilding its FAISS index from scratch every run
    (src/pipeline/pipeline.py:126-136) WITHOUT losing the incremental
    story: the maintained index stays in place, serving entries and the
    add/delete protocol are unchanged, and the swap is the same
    self-healing machinery every compactor here uses.

    One batch job under the single-writer ``compaction_lease``:

    1. survivors = ids in the index minus tombstones (broadcast
       anti-join — the compaction-cadence bound keeps tombstones tiny);
    2. corpus = ``vectors`` semi-joined to survivors — the raw-vector
       source of record (codes are lossy; re-encoding needs the
       originals). At 100 TB this is the job's one big shuffle, paid
       once per retrain cadence;
    3. retrain: ``kmeans_centroids`` on the corpus (or the caller's
       hash-sampled ``train_sample`` — FAISS trains its quantizer on a
       sample the same way), then ``pq_codebooks_trained`` — on
       RESIDUALS when ``residual=True`` (the r8 finding: raw-trained
       books + residual encoding LOWERS recall, the codebooks must
       quantize the distribution the encoder feeds them);
    4. re-encode the corpus against the new state
       (:func:`ivfpq_encode_pd` — the Arrow/NumPy throughput twin;
       bit-identical to the expression path by the parity contract);
    5. fence the folded batch subdirectories (redelivery of a batch
       encoded under the OLD geometry must refuse, exactly like
       ``compact_batched``), then rewrite + swap with the trained state
       installed INSIDE the new directory — ``_TRAINED.json`` publishes
       atomically with the codes it encodes, so no crash ordering can
       leave codes live whose geometry nobody has;
    6. clear the tombstone directory LAST (deleted ids are now
       physically absent — same ordering argument as
       ``compact_tombstoned``).

    Returns the trained-state dict (also readable back via
    :func:`read_trained_state`); pass its ``centroids``/``books`` to
    every subsequent :func:`ivfpq_index_add` / serving call."""
    from clinical_vector_search_spark.io.tables import reindex_under_leases
    from clinical_vector_search_spark.operators.knn import kmeans_centroids

    if encoder not in ("expr", "pd"):
        raise ValueError(f"encoder must be 'expr' or 'pd', got {encoder!r}")
    state: dict = {}

    def build():
        # 1. surviving membership comes from the INDEX (ids ingested
        # minus ids deleted), so the re-encoded index serves exactly
        # the same id set — reindex changes geometry, never membership
        survivors = read_ivfpq_index(
            spark, index_path, tombstone_path, id_col
        ).select(id_col)

        # 2. the raw-vector source restricted to survivors — pinned
        # ONCE: three consumers follow (centroid training, codebook
        # training, the re-encode), and each would otherwise re-execute
        # the semi-join plan from the scans (the trainers'
        # per-iteration localCheckpoints pin only their own input) —
        # 3× the job's one big shuffle instead of 1×. At a scale where
        # the survivors exceed executor storage, replace the pin with a
        # temp-parquet spill; the plan is identical.
        corpus = (
            vectors.select(id_col, vec_col)
            .join(survivors, id_col, "semi")
            .localCheckpoint()
        )

        # 3. retrain on the shifted corpus (residual discipline: books
        # must quantize what the encoder will actually feed them)
        sample = train_sample if train_sample is not None else corpus
        cents = kmeans_centroids(sample, dim, n_centroids, n_iter, vec_col)
        books = pq_codebooks_trained(
            sample, dim, m, ksub, n_iter, vec_col,
            centroids=cents if residual else None,
        )
        state["centroids"], state["books"] = cents, books

        # 4. re-encode EVERYTHING in one batch pass. ``encoder`` picks
        # between the bit-identical twins, same contract as
        # :func:`ivfpq_index_add`: "pd" (default — a retrain-cadence
        # batch job wants the Arrow/NumPy throughput kernel) or "expr"
        # (the whole-stage-codegen oracle-parity path)
        enc_fn = ivfpq_encode if encoder == "expr" else ivfpq_encode_pd
        enc = enc_fn(
            corpus, dim, books, cents, n_centroids, id_col, vec_col, residual
        )
        return enc, _trained_payload(cents, books, dim, residual)

    # steps 5-6 (two-lease exclusion, ingest guards, fence, rewrite+swap
    # with the sidecar atomic, tombstones cleared LAST) are the shared
    # harness — one code path with dedup.reindex_semantic
    reindex_under_leases(
        spark, index_path, tombstone_path, build,
        target_file_bytes, break_stale_lease_after_sec,
    )
    cents, books = state["centroids"], state["books"]
    return {
        "centroids": cents,
        "books": books,
        "dim": dim,
        "n_centroids": n_centroids,
        "m": m,
        "ksub": ksub,
        "residual": residual,
    }


def knn_ivfpq_serve(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    tombstone_path: str | None = None,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "vec_id",
) -> DataFrame:
    """Serve ADC top-k straight from a maintained index DIRECTORY using
    its stamped trained state — the post-:func:`reindex_ivfpq` serving
    path where the caller holds NO geometry: the centroids/codebooks
    that interpret the codes live in the index's ``_TRAINED.json``
    (atomic with the codes they encode), so a serving tier needs only
    the path. Composition of :func:`read_trained_state` +
    :func:`read_ivfpq_index` + :func:`knn_ivfpq_codes`; raises loudly
    when the index carries no state file (pre-r14 indexes, where the
    caller keeps the trained state and calls ``knn_ivfpq_codes``
    directly) — serving against GUESSED geometry would return
    plausible-looking garbage.

    Two read-consistency guards (r14 review): the mid-swap crash
    window is healed BEFORE the state read (:func:`read_trained_state`
    heals first), and because state + codes are two separate unleased
    reads, the state is RE-read after the codes listing snapshot — a concurrent :func:`reindex_ivfpq` swap landing
    between them would otherwise score new-geometry codes with
    old-geometry ADC tables, silently. A mismatch retries with a
    fresh pair; swaps are rare, so one retry normally suffices."""
    for _ in range(3):
        st = read_trained_state(spark, index_path)
        if st is None:
            raise ValueError(
                f"index at {index_path!r} carries no _TRAINED.json trained "
                "state: stamp it with write_trained_state / reindex_ivfpq, "
                "or pass books/centroids explicitly via knn_ivfpq_codes"
            )
        # eager listing snapshot of the codes...
        index = read_ivfpq_index(spark, index_path, tombstone_path, doc_id)
        # ...then verify the geometry did not swap underneath it
        if read_trained_state(spark, index_path) == st:
            break
    else:
        raise IOError(
            f"trained state at {index_path!r} kept changing between the "
            "state read and the codes listing (concurrent reindexes?) — "
            "retry when the maintenance churn settles"
        )
    return knn_ivfpq_codes(
        queries, index, k, st["dim"], st["books"],
        centroids=st["centroids"], n_centroids=st["n_centroids"],
        query_id=query_id, query_vec=query_vec, doc_id=doc_id,
        n_probe=n_probe, residual=st["residual"],
    )
