"""Product quantization: encoder and ADC parity with plain-Python
references, trained-codebook quality, and ADC recall against exact kNN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _books_and_vecs(spark, sf_dir):
    from clinical_vector_search_spark.operators.pq import pq_codebooks_lcg

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_codebooks_lcg(64, 8, 16), emb


def _ref_dists(seg, book):
    """Squared L2 from one segment to every codeword, summed d-order
    left-to-right (the SQL oracle's list_sum fold)."""
    out = []
    for c in book:
        acc = 0.0
        for x, y in zip(seg, c):
            acc += (x - y) * (x - y)
        out.append(acc)
    return out


def _ref_tables(vec, books):
    dsub = len(books[0][0])
    return [
        _ref_dists(vec[s * dsub : (s + 1) * dsub], book)
        for s, book in enumerate(books)
    ]


def test_pq_encode_matches_python_reference(spark, sf_dir):
    """codes[sub] = FIRST argmin of the d-order squared distance (the
    SQL list_indexof(list_min) tie rule), for every vector."""
    from clinical_vector_search_spark.operators.pq import pq_encode

    books, emb = _books_and_vecs(spark, sf_dir)
    got = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    want = {
        r.vec_id: [t.index(min(t)) for t in _ref_tables(r.embedding, books)]
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert got == want and len(got) > 0


def test_pq_trained_codebooks_cut_reconstruction_error(spark, sf_dir):
    """Per-subspace k-means must quantize better than the LCG codebooks:
    mean squared reconstruction error strictly drops."""
    from clinical_vector_search_spark.operators.pq import (
        pq_codebooks_lcg,
        pq_codebooks_trained,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.array(
        [r.embedding for r in emb.select("embedding").collect()], dtype="float64"
    )

    def mse(books):
        B = np.array(books)
        codes = np.array(
            [r.codes for r in pq_encode(emb, books).orderBy("vec_id").collect()]
        )
        segs = np.array(
            [r.embedding for r in emb.orderBy("vec_id").collect()]
        ).reshape(len(mat), 8, 8)
        recon = np.stack(
            [B[s][codes[:, s]] for s in range(8)], axis=1
        )
        return float(((segs - recon) ** 2).mean())

    lcg = mse(pq_codebooks_lcg(64, 8, 16))
    trained = mse(pq_codebooks_trained(emb, 64, 8, 16, n_iter=10))
    assert trained < lcg, (trained, lcg)


def test_pq_adc_recall_improves_with_trained_books(spark, sf_dir):
    """ADC top-10 recall vs exact kNN: trained codebooks must beat the LCG
    ones, and both must be far above random (10/N)."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import knn
    from clinical_vector_search_spark.operators.pq import (
        knn_pq_adc,
        pq_codebooks_lcg,
        pq_codebooks_trained,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    exact = {}
    for r in knn(queries, docs, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.doc_id)

    def recall(books):
        codes = pq_encode(emb, books).withColumnRenamed("vec_id", "doc_id")
        got = {}
        for r in knn_pq_adc(queries, codes, books, 10).collect():
            got.setdefault(r.query_id, set()).add(r.doc_id)
        return sum(
            len(got[q] & exact[q]) / len(exact[q]) for q in exact
        ) / len(exact)

    r_lcg = recall(pq_codebooks_lcg(64, 8, 16))
    r_tr = recall(pq_codebooks_trained(emb, 64, 8, 16, n_iter=10))
    assert r_tr >= r_lcg, (r_tr, r_lcg)
    # both must clear random-guessing (k/N) by a wide margin
    n_docs = docs.count()
    assert r_tr > 3 * 10.0 / n_docs, (r_tr, n_docs)


def test_pq_adc_numpy_twin_parity(spark, sf_dir):
    """knn_pq_adc must reproduce a plain-Python ADC ranking exactly: per
    query, dist = Σ_sub table[sub][code[sub]] (sub-order fold), top-10
    by (dist, doc_id)."""
    from clinical_vector_search_spark.operators.pq import (
        knn_pq_adc,
        pq_encode,
    )

    books, emb = _books_and_vecs(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes = pq_encode(emb, books).withColumnRenamed("vec_id", "doc_id")
    got = sorted(
        tuple(r) for r in knn_pq_adc(queries, codes, books, 10).collect()
    )
    doc_codes = [(r.doc_id, list(r.codes)) for r in codes.collect()]
    want = []
    for q in queries.collect():
        tabs = _ref_tables(q.query_vec, books)
        scored = []
        for d, cs in doc_codes:
            acc = 0.0
            for s, c in enumerate(cs):
                acc += tabs[s][c]
            scored.append((acc, d))
        for rank, (dist, d) in enumerate(sorted(scored)[:10], 1):
            want.append((q.query_id, rank, d, dist))
    want.sort()
    assert [r[:3] for r in got] == [r[:3] for r in want] and len(got) == 50
    assert all(abs(g[3] - w[3]) <= 1e-6 for g, w in zip(got, want))


def test_knn_pq_adc_rejects_oversized_query_frame(spark, sf_dir):
    """The query side collects to the driver: a frame above 100 000 rows
    raises ValueError at plan build instead of collecting unbounded."""
    from clinical_vector_search_spark.operators.pq import knn_pq_adc, pq_encode

    books, emb = _books_and_vecs(spark, sf_dir)
    codes = pq_encode(emb, books).withColumnRenamed("vec_id", "doc_id")
    queries = spark.range(100_001).select(
        F.col("id").alias("query_id"),
        F.array_repeat(F.lit(0.0), 64).alias("query_vec"),
    )
    with pytest.raises(ValueError, match="100000"):
        knn_pq_adc(queries, codes, books, 10)


def test_ivfpq_recall_and_fullprobe_equivalence(spark, sf_dir):
    """IVF-PQ with all cells probed must equal plain PQ ADC (pruning off);
    with partial probing, recall-vs-ADC must stay well above random and
    every returned doc must come from a probed cell."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.pq import (
        knn_ivfpq,
        knn_pq_adc,
        pq_codebooks_lcg,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    )
    books = pq_codebooks_lcg(64, 8, 16)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")

    full = sorted(
        tuple(r)
        for r in knn_ivfpq(
            queries, docs, 10, 64, books, n_centroids=8, n_probe=8
        ).collect()
    )
    codes = pq_encode(emb, books).withColumnRenamed("vec_id", "doc_id")
    adc = sorted(
        tuple(r) for r in knn_pq_adc(queries, codes, books, 10).collect()
    )
    assert full == adc  # all probes == no pruning

    partial = knn_ivfpq(
        queries, docs, 10, 64, books, n_centroids=8, n_probe=4
    ).collect()
    got = {}
    for r in partial:
        got.setdefault(r.query_id, set()).add(r.doc_id)
    ref = {}
    for r in knn_pq_adc(queries, codes, books, 10).collect():
        ref.setdefault(r.query_id, set()).add(r.doc_id)
    recall = sum(len(got[q] & ref[q]) / len(ref[q]) for q in ref) / len(ref)
    n_docs = docs.count()
    assert recall > 3 * 10.0 / n_docs, (recall, n_docs)


def test_ivfpq_residual_fullprobe_matches_numpy_reference(spark, sf_dir):
    """IVFADC correctness: fullprobe residual IVF-PQ must equal a
    single-node NumPy reference (assign -> residual-encode -> per-cell ADC)
    exactly; residual recall must clear the random floor by a wide margin
    and trained-residual books must beat untrained plain IVF-PQ."""
    import numpy as np

    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import (
        _centroid_matrix,
        knn,
    )
    from clinical_vector_search_spark.operators.pq import (
        knn_ivfpq,
        pq_codebooks_lcg,
        pq_codebooks_trained,
        residual_vectors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    )
    books = pq_codebooks_lcg(64, 8, 16)
    cents = _centroid_matrix(64, 8)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")

    got = sorted(
        tuple(r)
        for r in knn_ivfpq(
            queries, docs, 10, 64, books, centroids=cents,
            n_centroids=8, n_probe=8, residual=True,
        ).collect()
    )

    # single-node reference
    drows = sorted((r.doc_id, list(r.embedding)) for r in docs.collect())
    ids = np.array([i for i, _ in drows])
    X = np.array([v for _, v in drows])
    C = np.array(cents)
    B = np.array(books)
    # quantize-before-argmax (knn.ASSIGN_SCALE) — the operators' contract
    cl = np.argmax(np.floor(X @ C.T * 1e12 + 0.5), axis=1)
    R = (X - C[cl]).reshape(len(X), 8, 8)
    codes = np.stack(
        [
            np.argmin(((R[:, s, :, None] - B[s].T[None]) ** 2).sum(1), axis=1)
            for s in range(8)
        ],
        axis=1,
    )
    want = []
    for qr in sorted((r.query_id, list(r.query_vec)) for r in queries.collect()):
        qid, qv = qr[0], np.array(qr[1])
        rq = (qv[None] - C).reshape(len(C), 8, 8)
        tabs = ((rq[:, :, None, :] - B[None]) ** 2).sum(-1)
        d = np.zeros(len(X))
        for s in range(8):
            d += tabs[cl, s, codes[:, s]]
        order = np.lexsort((ids, d))[:10]
        want.extend(
            (qid, rank + 1, int(ids[j]), round(float(d[j]), 6))
            for rank, j in enumerate(order)
        )
    assert got == sorted(want)

    # recall contracts
    exact = {}
    for r in knn(queries, docs, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.doc_id)

    def recall(res):
        g = {}
        for r in res:
            g.setdefault(r.query_id, set()).add(r.doc_id)
        return sum(len(g[q] & exact[q]) / 10 for q in exact) / len(exact)

    res_books = pq_codebooks_trained(
        residual_vectors(emb, 64, cents), 64, 8, 16, n_iter=8,
        doc_vec="residual",
    )
    r_res = recall(
        knn_ivfpq(queries, docs, 10, 64, res_books, centroids=cents,
                  n_centroids=8, n_probe=8, residual=True).collect()
    )
    r_plain = recall(
        knn_ivfpq(queries, docs, 10, 64, books, centroids=cents,
                  n_centroids=8, n_probe=8).collect()
    )
    n_docs = docs.count()
    assert r_res > 3 * 10.0 / n_docs, (r_res, n_docs)
    # Residual-vs-raw recall@10 ORDERING genuinely depends on corpus and
    # centroid geometry (see knn_ivfpq docstring: on L2-normalized
    # corpora with few spread cells, raw encoding can win) and moves in
    # 0.02 steps with 5 queries — the robust trained-books contract is
    # quantization error: books trained on the residual distribution
    # must quantize it with lower MSE than the untrained LCG books.
    assert r_plain > 3 * 10.0 / n_docs, (r_plain, n_docs)

    def q_mse(resid, bks):
        bq = np.array(bks)
        segs = resid.reshape(len(resid), 8, 8)
        tot = 0.0
        for s in range(8):
            d2 = ((segs[:, s, :, None] - bq[s].T[None]) ** 2).sum(1)
            tot += d2.min(axis=1).sum()
        return tot / resid.size

    resid = X - C[cl]
    assert q_mse(resid, res_books) < q_mse(resid, books), (
        q_mse(resid, res_books),
        q_mse(resid, books),
    )


def test_pq_refine_recall_geq_adc(spark, sf_dir):
    """Exact rescoring of the ADC candidate set can only fix
    quantization inversions: recall@k vs exact L2 must be >= plain ADC,
    and with k_coarse = N the result IS the exact top-k."""
    from clinical_vector_search_spark.operators.knn import knn_l2
    from clinical_vector_search_spark.operators.pq import (
        knn_pq_adc,
        knn_pq_refine,
        pq_codebooks_lcg,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    books = pq_codebooks_lcg(64, 8, 16)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.doc_id)
        return out

    exact = topsets(knn_l2(queries, docs, 10))

    def recall(df):
        got = topsets(df)
        return sum(
            len(got.get(q, set()) & e) / len(e) for q, e in exact.items()
        ) / len(exact)

    codes = pq_encode(docs, books, id_col="doc_id")
    r_adc = recall(knn_pq_adc(queries, codes, books, 10))
    r_ref = recall(knn_pq_refine(queries, docs, books, 10, k_coarse=50))
    assert r_ref >= r_adc
    # full-width coarse cut degenerates to the exact search
    full = topsets(knn_pq_refine(queries, docs, books, 10, k_coarse=n))
    assert full == exact


def test_residual_training_matches_residual_encoding(spark, sf_dir):
    """Train-on-what-you-encode: with residual=True, residual-trained
    codebooks (pq_codebooks_trained(centroids=...)) must quantize the
    residual distribution with lower MSE than raw-trained ones — the
    distribution-mismatch regression the r8 sweep measured (0.36 vs
    0.43 recall at sf0.1). Stated as quantization MSE, not recall@10
    ordering: at sf0.001 recall moves in 0.02 steps and its raw-vs-
    residual ordering flips with centroid geometry (the pre-r9 ordering
    assert only held because the affine LCG centroids were nearly
    collinear), while the MSE ordering is the kmeans objective itself
    and is decisive (measured 0.0125 vs 0.0177)."""
    import numpy as np
    from clinical_vector_search_spark.operators.knn import (
        kmeans_centroids,
        knn,
    )
    from clinical_vector_search_spark.operators.pq import (
        knn_ivfpq,
        pq_codebooks_trained,
    )
    from clinical_vector_search_spark.functions import vector as V

    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        V.l2_normalize("embedding").alias("embedding"),
    ).cache()
    q = v.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.doc_id)
        return out

    exact = topsets(knn(q, v, 10, strategy="window"))

    def recall(df):
        got = topsets(df)
        return sum(
            len(got.get(k, set()) & e) / len(e) for k, e in exact.items()
        ) / len(exact)

    cents = kmeans_centroids(v, 64, n_centroids=4)
    raw_books = pq_codebooks_trained(v, 64, 8, 32, n_iter=3)
    res_books = pq_codebooks_trained(
        v, 64, 8, 32, n_iter=3, centroids=cents
    )
    # both paths must still retrieve (clear the random floor by 3x)
    n_docs = v.count()
    for books in (raw_books, res_books):
        r = recall(
            knn_ivfpq(q, v, 10, 64, books, n_centroids=4, n_probe=2,
                      centroids=cents, residual=True)
        )
        assert r > 3 * 10.0 / n_docs, (r, n_docs)

    # the train-on-what-you-encode contract: residual-trained books fit
    # the residual distribution strictly better (quantization MSE)
    X = np.array([r.embedding for r in v.collect()], dtype="float64")
    C = np.array(cents)
    resid = X - C[np.argmax(np.floor(X @ C.T * 1e12 + 0.5), axis=1)]

    def q_mse(bks):
        bq = np.array(bks)
        m, _ksub, dsub = bq.shape
        segs = resid.reshape(len(resid), m, dsub)
        tot = 0.0
        for s in range(m):
            d2 = ((segs[:, s, :, None] - bq[s].T[None]) ** 2).sum(1)
            tot += d2.min(axis=1).sum()
        return tot / resid.size

    assert q_mse(res_books) < q_mse(raw_books), (
        q_mse(res_books),
        q_mse(raw_books),
    )


def test_ivfpq_encode_expr_pd_parity(spark, sf_dir):
    """The factored index-build kernel: expression path (the map-side
    incremental-add shape) and numpy path (the knn_ivfpq corpus pass)
    must emit identical (cluster, codes) rows — raw AND residual."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_encode_pd,
    )

    books, emb = _books_and_vecs(spark, sf_dir)
    v = emb.select("vec_id", V.l2_normalize("embedding").alias("embedding"))
    for residual in (False, True):
        a = {
            (r.vec_id, r.cluster, tuple(r.codes))
            for r in ivfpq_encode(
                v, 64, books, n_centroids=8, residual=residual
            ).collect()
        }
        b = {
            (r.vec_id, r.cluster, tuple(r.codes))
            for r in ivfpq_encode_pd(
                v, 64, books, n_centroids=8, residual=residual
            ).collect()
        }
        assert a == b and a, f"residual={residual}"


def test_ivfpq_index_add_matches_rebuild_and_is_idempotent(spark, sf_dir, tmp_path):
    """FAISS IndexIVFPQ.add semantics: the index is TRAINED once (on the
    corpus only — centroids + codebooks), then a new batch folds in
    without retraining. The fold-in must be bit-identical to a full
    rebuild with the same trained state restricted to batch rows, the
    persisted index after add must equal the full rebuild, and retrying
    a (batch, batch_id) write — foreachBatch at-least-once — must leave
    the index bit-identical."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import kmeans_centroids
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode_pd,
        ivfpq_index_add,
        pq_codebooks_trained,
        read_ivfpq_index,
    )

    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    ).cache()
    corpus = v.filter(F.col("vec_id") < 350)
    batch = v.filter(F.col("vec_id") >= 350)
    # trained state comes from the CORPUS ONLY — the batch never retrains
    cents = kmeans_centroids(corpus, 64, n_centroids=4)
    books = pq_codebooks_trained(corpus, 64, 8, 16, n_iter=2)
    idx = str(tmp_path / "ivfpq_index")

    ivfpq_index_add(spark, corpus, 0, idx, 64, books, centroids=cents)
    ivfpq_index_add(spark, batch, 1, idx, 64, books, centroids=cents)

    def snap():
        return sorted(
            (r.vec_id, r.cluster, tuple(r.codes))
            for r in read_ivfpq_index(spark, idx).collect()
        )

    got = snap()
    rebuild = sorted(
        (r.vec_id, r.cluster, tuple(r.codes))
        for r in ivfpq_encode_pd(v, 64, books, centroids=cents).collect()
    )
    assert got == rebuild and got
    # at-least-once retry of the batch write: bit-identical index
    ivfpq_index_add(spark, batch, 1, idx, 64, books, centroids=cents)
    assert snap() == got
    # the NumPy throughput encoder is a bit-identical twin through the
    # sink too — a retry that switches encoders changes nothing
    ivfpq_index_add(
        spark, batch, 1, idx, 64, books, centroids=cents, encoder="pd"
    )
    assert snap() == got
    # serving composition: ADC search over the incrementally-built codes
    # table (no re-encode) equals knn_ivfpq over the raw corpus+batch
    from clinical_vector_search_spark.operators.pq import (
        knn_ivfpq,
        knn_ivfpq_codes,
    )

    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    served = knn_ivfpq_codes(
        q, read_ivfpq_index(spark, idx), 10, 64, books,
        centroids=cents, n_probe=2, doc_id="vec_id",
    )
    direct = knn_ivfpq(
        q, v.select(F.col("vec_id").alias("doc_id"), "embedding"),
        10, 64, books, centroids=cents, n_centroids=4, n_probe=2,
    )
    srv = sorted((r.query_id, r.rank, r.vec_id) for r in served.collect())
    drt = sorted((r.query_id, r.rank, r.doc_id) for r in direct.collect())
    assert srv == drt and srv
    v.unpersist()


def test_ivfpq_index_add_rejects_unknown_encoder(spark, sf_dir, tmp_path):
    """A typo'd encoder name must raise, not silently fall back to the
    pandas path."""
    import pytest

    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        pq_codebooks_lcg,
    )

    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    ).limit(5)
    with pytest.raises(ValueError, match="encoder"):
        ivfpq_index_add(
            spark, v, 0, str(tmp_path / "c"), 64,
            pq_codebooks_lcg(64, 8, 16), n_centroids=4, encoder="np",
        )


def test_knn_refine_codes_over_maintained_index(spark, sf_dir, tmp_path):
    """knn_refine_codes = IndexRefineFlat over the maintained codes
    table: with fullprobe and k_coarse covering the whole corpus the
    exact rescore must equal brute-force L2 kNN over the SURVIVORS
    (tombstoned ids can neither rank nor be rescored), and a narrow
    coarse cut still returns exact distances for whatever survives it."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import knn_l2
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        ivfpq_index_delete,
        knn_refine_codes,
        pq_codebooks_lcg,
        read_ivfpq_index,
    )

    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    ).filter(F.col("vec_id") < 200)
    books = pq_codebooks_lcg(64, 8, 16)
    idx, tomb = str(tmp_path / "codes"), str(tmp_path / "tombs")
    ivfpq_index_add(spark, v.filter(F.col("vec_id") < 120), 0, idx, 64,
                    books, n_centroids=8)
    ivfpq_index_add(spark, v.filter(F.col("vec_id") >= 120), 1, idx, 64,
                    books, n_centroids=8)
    dead = v.filter(F.col("vec_id") % 9 == 4).select("vec_id")
    ivfpq_index_delete(spark, dead, 0, tomb)
    index = read_ivfpq_index(spark, idx, tombstone_path=tomb)
    queries = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    # full coarse cut + fullprobe == exact L2 kNN over survivors
    got = knn_refine_codes(
        queries, index, v, 10, 64, books, n_centroids=8, k_coarse=200,
        doc_id="vec_id", n_probe=8,
    )
    survivors = v.join(dead, "vec_id", "left_anti")
    want = knn_l2(queries, survivors, 10, doc_id="vec_id")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    dead_ids = {r.vec_id for r in dead.collect()}
    assert not dead_ids & {r.vec_id for r in got.collect()}

    # narrow cut: ranks contiguous 1..10, distances ascending and EXACT
    # (each returned pair's l2 equals the brute-force distance)
    narrow = knn_refine_codes(
        queries, index, v, 10, 64, books, n_centroids=8, k_coarse=30,
        doc_id="vec_id", n_probe=8,
    ).collect()
    by_q: dict = {}
    for r in narrow:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.l2_dist))
    exact = {
        (r.query_id, r.vec_id): r.l2_dist
        for r in knn_l2(queries, survivors, 200, doc_id="vec_id").collect()
    }
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, 11))
        dists = [r[2] for r in rows]
        assert dists == sorted(dists)
        for _, d_id, dist in rows:
            assert abs(exact[(q, d_id)] - dist) < 1e-9
def _drift_cloud(seed: int, n: int, dim: int, active: slice):
    """Deterministic L2-normalized vectors clustered around 4 random
    directions living only in ``active`` dims — two clouds with
    disjoint active slices model a distribution shift the frozen
    coarse/PQ geometry cannot follow."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = np.zeros((4, dim))
    centers[:, active] = rng.normal(size=(4, (active.stop - active.start)))
    pick = rng.integers(0, 4, size=n)
    mat = centers[pick] + 0.15 * rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
    return mat


def test_reindex_ivfpq_restores_recall_after_drift(spark, tmp_path):
    """The drift hole closed by reindex_ivfpq: batches of a SHIFTED
    distribution fold into geometry trained on the original corpus only
    (ivfpq_index_add never retrains — correct and map-side by design),
    degrading recall@10 vs a fresh rebuild; one leased
    retrain-and-re-encode restores the rebuild's recall, keeps the
    exact id membership, physically erases tombstoned ids, stamps the
    trained state atomically with the codes, and fences old-geometry
    batch redeliveries."""
    import numpy as np

    from clinical_vector_search_spark.io.tables import (
        guard_batch_not_compacted,
    )
    from clinical_vector_search_spark.operators.knn import kmeans_centroids
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode_pd,
        ivfpq_index_add,
        ivfpq_index_delete,
        knn_ivfpq_codes,
        pq_codebooks_trained,
        read_ivfpq_index,
        read_trained_state,
        reindex_ivfpq,
    )

    dim, k = 16, 10
    base = _drift_cloud(1, 300, dim, slice(0, 8))
    shift = _drift_cloud(2, 300, dim, slice(8, 16))

    def frame(mat, start):
        return spark.createDataFrame(
            [(start + i, [float(x) for x in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    base_df, shift_df = frame(base, 0), frame(shift, 300)
    vectors = base_df.unionByName(shift_df)
    idx = str(tmp_path / "idx")
    tomb = str(tmp_path / "tomb")

    # trained ONCE on the original distribution; the shifted batch
    # folds in against this frozen geometry
    cents0 = kmeans_centroids(base_df, dim, n_centroids=8, n_iter=5)
    books0 = pq_codebooks_trained(base_df, dim, 4, 16, n_iter=5)
    ivfpq_index_add(
        spark, base_df, 0, idx, dim, books0, cents0, encoder="pd"
    )
    ivfpq_index_add(
        spark, shift_df, 1, idx, dim, books0, cents0, encoder="pd"
    )
    # a few deletes pending physical erasure at the reindex
    dead = [0, 1, 300, 301]
    ivfpq_index_delete(
        spark, vectors.filter(F.col("vec_id").isin(dead)), 0, tomb
    )

    # queries FROM the shifted distribution; exact ground truth over
    # the surviving corpus (driver-side numpy — 596 docs)
    queries_mat = _drift_cloud(3, 40, dim, slice(8, 16))
    q_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(queries_mat)],
        "query_id long, query_vec array<double>",
    )
    all_mat = np.vstack([base, shift])
    alive = np.array([i for i in range(600) if i not in set(dead)])
    d2 = ((queries_mat[:, None, :] - all_mat[alive][None]) ** 2).sum(-1)
    truth = {
        qi: set(alive[np.argsort(d2[qi], kind="stable")[:k]])
        for qi in range(40)
    }

    def recall(served):
        got = {}
        for r in served.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            len(got.get(qi, set()) & truth[qi]) / k for qi in truth
        ) / len(truth)

    r_frozen = recall(
        knn_ivfpq_codes(
            q_df, read_ivfpq_index(spark, idx, tomb), k, dim, books0,
            cents0, n_probe=2, doc_id="vec_id",
        )
    )

    # yardstick: a from-scratch rebuild on the surviving corpus (what
    # the reference does every run)
    survivors_df = vectors.filter(~F.col("vec_id").isin(dead))
    cents1 = kmeans_centroids(survivors_df, dim, n_centroids=8, n_iter=5)
    books1 = pq_codebooks_trained(survivors_df, dim, 4, 16, n_iter=5)
    r_rebuild = recall(
        knn_ivfpq_codes(
            q_df,
            ivfpq_encode_pd(survivors_df, dim, books1, cents1),
            k, dim, books1, cents1, n_probe=2, doc_id="vec_id",
        )
    )
    assert r_rebuild > r_frozen + 0.1, (r_frozen, r_rebuild)

    # the leased retrain-and-re-encode reaches the rebuild's state
    state = reindex_ivfpq(
        spark, idx, vectors, dim, m=4, ksub=16, n_centroids=8,
        n_iter=5, tombstone_path=tomb,
    )
    r_re = recall(
        knn_ivfpq_codes(
            q_df, read_ivfpq_index(spark, idx), k, dim,
            state["books"], state["centroids"], n_probe=2, doc_id="vec_id",
        )
    )
    assert r_re > r_frozen + 0.1, (r_frozen, r_re)
    assert abs(r_re - r_rebuild) <= 0.05, (r_re, r_rebuild)

    # membership unchanged minus tombstones; tombstones cleared
    ids = sorted(r.vec_id for r in read_ivfpq_index(spark, idx).collect())
    assert ids == sorted(alive.tolist())
    import os

    assert not os.path.exists(tomb)
    # trained state stamped atomically with the codes, round-trips
    st = read_trained_state(spark, idx)
    assert st is not None and st["books"] == state["books"]
    assert st["centroids"] == state["centroids"]
    assert (st["dim"], st["m"], st["ksub"]) == (dim, 4, 16)
    # a redelivery of an old-geometry batch is fenced loudly
    with pytest.raises(ValueError, match="already"):
        guard_batch_not_compacted(idx, "batch-1")


def test_compaction_preserves_trained_state_sidecar(spark, tmp_path):
    """io.tables._rewrite_and_swap must carry _TRAINED.json across
    every ordinary compaction — otherwise the first compact_batched
    after a reindex silently strips the index's trained state."""
    from clinical_vector_search_spark.io.tables import compact_batched
    from clinical_vector_search_spark.operators.knn import kmeans_centroids
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        pq_codebooks_lcg,
        read_ivfpq_index,
        read_trained_state,
        write_trained_state,
    )

    dim = 16
    mat = _drift_cloud(7, 120, dim, slice(0, 8))
    docs = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(docs, dim, n_centroids=4, n_iter=2)
    books = pq_codebooks_lcg(dim, 4, 16)
    idx = str(tmp_path / "idx")
    ivfpq_index_add(spark, docs, 0, idx, dim, books, cents, encoder="pd")
    write_trained_state(spark, idx, cents, books, dim)
    before = read_trained_state(spark, idx)
    assert before is not None
    rows_before = sorted(
        (r.vec_id, r.cluster, tuple(r.codes))
        for r in read_ivfpq_index(spark, idx).collect()
    )
    assert compact_batched(spark, idx) >= 1
    # the sidecar survived the move-aside swap, codes unchanged, and
    # the hidden file never leaks into the parquet listing
    assert read_trained_state(spark, idx) == before
    rows_after = sorted(
        (r.vec_id, r.cluster, tuple(r.codes))
        for r in read_ivfpq_index(spark, idx).collect()
    )
    assert rows_after == rows_before


@pytest.mark.parametrize("residual", [False, True], ids=["raw", "residual"])
def test_knn_ivfpq_serve_uses_stamped_state(spark, tmp_path, residual):
    """knn_ivfpq_serve serves from the index DIRECTORY alone: the
    trained state comes from the stamped _TRAINED.json, so results must
    equal knn_ivfpq_codes called with the very state reindex returned —
    including the residual FLAG (r15: the sidecar alone must select the
    residual ADC path; serving residual codes with raw tables would be
    silently wrong scores); an unstamped (pre-r14) index refuses loudly
    instead of serving against guessed geometry."""
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        knn_ivfpq_codes,
        knn_ivfpq_serve,
        pq_codebooks_lcg,
        read_ivfpq_index,
        reindex_ivfpq,
    )

    dim = 16
    mat = _drift_cloud(11, 150, dim, slice(0, 8))
    docs = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    ivfpq_index_add(
        spark, docs, 0, idx, dim, pq_codebooks_lcg(dim, 4, 16),
        n_centroids=8, encoder="pd",
    )
    q = spark.createDataFrame(
        [(i, [float(x) for x in _drift_cloud(12, 5, dim, slice(0, 8))[i]])
         for i in range(5)],
        "query_id long, query_vec array<double>",
    )
    # unstamped index: loud refusal, not guessed geometry
    with pytest.raises(ValueError, match="_TRAINED"):
        knn_ivfpq_serve(spark, idx, q, 10)
    state = reindex_ivfpq(
        spark, idx, docs, dim, m=4, ksub=16, n_centroids=8, n_iter=3,
        residual=residual,
    )
    served = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in knn_ivfpq_serve(spark, idx, q, 10, n_probe=2).collect()
    )
    explicit = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in knn_ivfpq_codes(
            q, read_ivfpq_index(spark, idx), 10, dim, state["books"],
            centroids=state["centroids"], n_probe=2, doc_id="vec_id",
            residual=residual,
        ).collect()
    )
    assert served == explicit and served


def test_knn_ivfpq_serve_heals_crashed_swap_before_state_read(
    spark, tmp_path
):
    """A reindex crash inside the swap window leaves the index NAME
    absent with data (including _TRAINED.json) intact at __old_<tag>;
    serve must self-heal and answer — a bare sidecar-exists check would
    misdiagnose the recoverable index as 'no trained state'."""
    import os

    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        knn_ivfpq_serve,
        pq_codebooks_lcg,
        reindex_ivfpq,
    )

    dim = 16
    mat = _drift_cloud(21, 80, dim, slice(0, 8))
    docs = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    ivfpq_index_add(
        spark, docs, 0, idx, dim, pq_codebooks_lcg(dim, 4, 16),
        n_centroids=4, encoder="pd",
    )
    reindex_ivfpq(spark, idx, docs, dim, m=4, ksub=16, n_centroids=4,
                  n_iter=2)
    q = spark.createDataFrame(
        [(0, [float(x) for x in mat[0]])],
        "query_id long, query_vec array<double>",
    )
    want = sorted(
        (r.rank, r.vec_id)
        for r in knn_ivfpq_serve(spark, idx, q, 5, n_probe=2).collect()
    )
    # simulate the mid-swap crash: live name moved aside
    os.rename(idx, idx + "__old_deadbeef")
    got = sorted(
        (r.rank, r.vec_id)
        for r in knn_ivfpq_serve(spark, idx, q, 5, n_probe=2).collect()
    )
    assert got == want and os.path.exists(idx)
