"""Exact and approximate k-nearest-neighbor retrieval (SURVEY.md V4/V5/R1).

Reference behavior: FAISS IndexFlatIP brute-force top-k over L2-normalized
vectors (src/pipeline/pipeline.py:126-159), approximate variant IndexHNSWFlat
(pipeline.py:126-129, pipeline_mode.py:217-228). Here retrieval is a QUERY
over a vector table — "index = data".

Physical strategy (designed for 100 TB / 1000 executors):

* ``strategy="partial_topk"`` (default): broadcast the query matrix to every
  partition; each docs partition computes its own per-query top-k with
  vectorized NumPy inside ``mapInPandas`` (Arrow-batched); only
  ``n_partitions * Q * k`` candidate rows — not N×Q — reach the final
  per-query merge. No shuffle of the corpus, no crossJoin blow-up. This is
  the map-side-combine shape of a distributed FlatIP search.

* ``strategy="window"``: declarative crossJoin → score → row_number window.
  Catalyst-friendly and oracle-identical, but shuffles N×Q scored rows on
  query_id; kept for small inputs and plan comparison.

Both produce identical results: score = fp64 inner product (cosine when
inputs are normalized), ties broken by doc id ascending.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import vector as V


# below this input size the declarative window plan beats partial_topk's
# fixed Python-worker + rescore-join overhead (measured ~3s at sf0.1)
AUTO_WINDOW_MAX_BYTES = 256 * 1024 * 1024


def _estimate_input_bytes(df: DataFrame) -> int | None:
    """Driver-side size statistic from the scan's file listing — the same
    kind of metadata Spark's own broadcast-threshold planning uses. Sizes
    go through each file's own Hadoop FileSystem, so the statistic works
    on remote storage too (a small s3a:// corpus gets the cheap window
    plan instead of being assumed big); iteration stops as soon as the
    running total clears the dispatch threshold, so a million-file scan
    costs a handful of metadata calls, not a full listing walk. Returns
    None when the size cannot be established (→ assume big — the safe
    direction: partial_topk is the plan that survives scale)."""
    from pyspark.sql import SparkSession

    try:
        files = df.inputFiles()
        if not files:
            return None
        spark = SparkSession.getActiveSession()
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            total += jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
            if total >= AUTO_WINDOW_MAX_BYTES:
                return total  # already past the dispatch cut — stop sizing
        return total
    except Exception:  # noqa: BLE001 — any listing failure → unknown size
        return None


def knn(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Top-k docs per query by inner product (descending), ties → doc id asc.

    Returns columns: query_id, rank, doc_id, score (fp64).

    ``strategy="auto"`` picks the physical plan by input-size statistics:
    small corpora (< 256 MB of scan input) run the declarative
    crossJoin+window plan (no Python workers, lowest fixed cost); large or
    unknown-size corpora run partial_topk (the shape that survives 100 TB —
    only partitions×Q×k rows shuffle instead of N×Q).
    """
    if strategy == "auto":
        nbytes = _estimate_input_bytes(docs)
        strategy = (
            "window"
            if nbytes is not None and nbytes < AUTO_WINDOW_MAX_BYTES
            else "partial_topk"
        )
    if strategy == "window":
        return _knn_window(queries, docs, k, query_id, query_vec, doc_id, doc_vec)
    return _knn_partial_topk(queries, docs, k, query_id, query_vec, doc_id, doc_vec)


def _ranked(scored: DataFrame, query_id: str, doc_id: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(doc_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", doc_id, "score")
    )


def _knn_window(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    doc_id: str,
    doc_vec: str,
) -> DataFrame:
    q = queries.select(F.col(query_id), F.col(query_vec))
    d = docs.select(F.col(doc_id), F.col(doc_vec))
    scored = d.crossJoin(F.broadcast(q)).select(
        query_id, doc_id, V.dot(query_vec, doc_vec).alias("score")
    )
    return _ranked(scored, query_id, doc_id, k)


def _collect_queries(
    queries: DataFrame, query_id: str, query_vec: str, caller: str
) -> list:
    """The bounded query-side collect of every operator that ships the
    query set to the driver (one job): at most 100 000 rows, else
    ``ValueError``. ``limit`` runs BEFORE ``collect``, so an oversized
    frame raises with bounded driver memory instead of OOM-ing the
    collect the guard exists to prevent."""
    rows = queries.select(query_id, query_vec).limit(100_001).collect()
    if len(rows) > 100_000:
        raise ValueError(
            f"{caller} collects the query side to the driver (>100000 "
            "rows); pre-reduce the query set or shard it"
        )
    return rows


def _knn_partial_topk(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    doc_id: str,
    doc_vec: str,
) -> DataFrame:
    """Per-partition NumPy top-k, then a cheap global merge.

    The query set is collected to the driver (Q is small by construction —
    the reference evaluates 10 queries; even 10k queries × 384 dims is
    ~15 MB) and broadcast with the closure to every partition.
    """
    import numpy as np

    rows = _collect_queries(
        queries, query_id, query_vec, "knn(strategy='partial_topk')"
    )
    q_ids = [r[0] for r in rows]  # kept generic — int or string ids both work
    q_mat = np.array([r[1] for r in rows], dtype="float64")  # Q x d

    qid_type = dict(zip(queries.columns, (f.dataType.simpleString() for f in queries.schema.fields)))[query_id]
    did_type = dict(zip(docs.columns, (f.dataType.simpleString() for f in docs.schema.fields)))[doc_id]
    out_schema = f"{query_id} {qid_type}, {doc_id} {did_type}, score double"

    def partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[doc_id].to_numpy()
            mat = np.array(pdf[doc_vec].tolist(), dtype="float64")  # n x d
            scores = mat @ q_mat.T  # n x Q
            n = len(ids)
            kk = min(k, n)
            # per-query local top-k (argpartition = O(n), not a full sort)
            out_q, out_d, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = scores[:, qi]
                if kk < n:
                    cand = np.argpartition(-col, kk - 1)[:kk]
                else:
                    cand = np.arange(n)
                out_q.extend([q_ids[qi]] * len(cand))
                out_d.append(ids[cand])
                out_s.append(col[cand])
            yield pd.DataFrame(
                {
                    query_id: out_q,
                    doc_id: np.concatenate(out_d),
                    "score": np.concatenate(out_s),
                }
            )

    candidates = docs.select(doc_id, doc_vec).mapInPandas(partition_topk, out_schema)
    # fp64 NumPy matmul may reassociate vs the fold-order dot; recompute the
    # surviving ≤ partitions*Q*k candidate scores with the canonical fold so
    # results are bit-stable across strategies.
    rescored = (
        candidates.join(docs.select(doc_id, doc_vec), doc_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(query_id, doc_id, V.dot(query_vec, doc_vec).alias("score"))
    )
    return _ranked(rescored, query_id, doc_id, k)


# Quantization scale for the round-before-argmax rule: centroid dots are
# quantized as floor(dot * ASSIGN_SCALE + 0.5) — i.e. to the nearest
# 1e-12 grid cell — before argmax, so ulp-level reassociation noise
# between the expression fold, BLAS matmul, and the DuckDB oracle
# collapses and residual exact ties resolve identically (first max =
# smallest cluster id). floor(x*s + 0.5) is a pure IEEE multiply-add-
# floor, bit-identical in every engine; decimal ROUND(x, 12) is NOT —
# Spark rounds midpoint doubles HALF_UP over the shortest decimal repr,
# NumPy half-to-even over a scaled multiply, and the two land a full
# grid step apart on reachable doubles (e.g. 3.885985e-07).
#
# PRECONDITION — bounded dots (ADVICE r9): F.floor returns LongType, so
# |dot| beyond ~9.2e6 overflows the long, and beyond ~9.0e3 (2^53/1e12)
# the 1e-12 grid itself loses integer precision — past either bound the
# tie determinism this exists for silently degrades. All in-repo callers
# satisfy it by construction: doc/query vectors are L2-normalized and
# both md5 ``_centroid_matrix`` rows (components U(-0.5, 0.5)) and
# ``kmeans_centroids`` output (unit-normalized) keep |dot| ≤ ~√dim/2.
# Callers passing their OWN centroids/vectors must keep |dot| ≲ 1e3
# (normalize, or scale inputs down) — the quantizer does not validate.
ASSIGN_SCALE = 1.0e12


def _centroid_matrix(dim: int, n_centroids: int) -> list[list[float]]:
    """Deterministic md5 centroids: component (c, i) ~ U(-0.5, 0.5) from
    the top 8 bytes (big-endian) of ``md5("centroid:c:i")`` divided by
    2^64 (NOTE: deliberately not the 15-hex-char/2^60 spelling of
    functions/hashing.py — this matrix is built driver-side and inlined
    as literals on both engines, so no SQL re-derivation exists to match;
    the digest source is what makes it non-degenerate).
    Replaces the former LCG generator,
    which was AFFINE over any wrap-free index window: every centroid row
    was an arithmetic ramp with the same step, so for any zero-sum vector
    all centroid dots were mathematically equal (an exact k-way tie that
    ulp noise resolved differently per engine — caught by
    tests/test_property.py::test_semantic_dedup_matches_numpy_reference),
    and tiny-dim centroids were nearly collinear (poor IVF cell quality).
    Built ONCE driver-side; row-independent weights must never be
    re-derived per row."""
    import hashlib

    def u(c: int, i: int) -> float:
        h = hashlib.md5(f"centroid:{c}:{i}".encode()).digest()
        return int.from_bytes(h[:8], "big") / float(2**64) - 0.5

    return [[u(c, i) for i in range(dim)] for c in range(n_centroids)]


def kmeans_centroids(
    docs: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_iter: int = 5,
    doc_vec: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means (Lloyd's) centroids for IVF, trained with the same
    argmax-dot assignment :func:`knn_ivf` uses at query time.

    Each iteration is ONE distributed pass: every partition computes its
    per-cluster (count, vector-sum) partials in vectorized NumPy via
    ``mapInPandas``; only ``n_partitions × n_centroids`` tiny partial rows
    reach the driver, which combines them and re-normalizes (the map-side-
    combine shape — same aggregate the expression ``groupBy`` would build,
    but with the matmul in BLAS). Initialization is the deterministic md5
    matrix, so runs are reproducible; empty clusters keep their previous
    centroid. At 100 TB you train on a hash-sampled subset (pass a sampled
    ``docs`` — FAISS trains its IVF quantizer on a sample the same way).
    """
    import numpy as np

    cents = np.array(_centroid_matrix(dim, n_centroids), dtype="float64")
    cents /= np.linalg.norm(cents, axis=1, keepdims=True) + 1e-9
    # pin the training input once: each Lloyd iteration re-scans
    # ``data``, and the caller's docs frame is often a derived
    # pipeline (hash-sample, normalize) that would otherwise
    # re-execute n_iter times (same trap as the pagerank edge pin)
    data = docs.select(doc_vec).localCheckpoint()
    schema = "cluster int, n long, vsum array<double>"
    for _ in range(n_iter):
        C = cents  # captured by value in the closure for this iteration

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums = np.zeros((n_centroids, dim), dtype="float64")
            counts = np.zeros(n_centroids, dtype="int64")
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf[doc_vec].tolist(), dtype="float64")
                # quantize-before-argmax (ASSIGN_SCALE): ties resolve
                # to the smallest cluster id identically on every engine
                assign = np.argmax(
                    np.floor(mat @ C.T * ASSIGN_SCALE + 0.5), axis=1
                )
                np.add.at(sums, assign, mat)
                counts += np.bincount(assign, minlength=n_centroids)
            yield pd.DataFrame(
                {
                    "cluster": np.arange(n_centroids, dtype="int32"),
                    "n": counts,
                    "vsum": list(sums),
                }
            )

        parts = data.mapInPandas(partial, schema).collect()
        tot = np.zeros_like(cents)
        cnt = np.zeros(n_centroids, dtype="int64")
        for r in parts:
            tot[r["cluster"]] += np.array(r["vsum"], dtype="float64")
            cnt[r["cluster"]] += r["n"]
        new = cents.copy()
        nz = cnt > 0
        new[nz] = tot[nz] / cnt[nz, None]
        new /= np.linalg.norm(new, axis=1, keepdims=True) + 1e-9
        cents = new
    return [[float(x) for x in row] for row in cents]


def _centroid_dots(
    vec: str,
    dim: int,
    n_centroids: int,
    centroids: list[list[float]] | None = None,
) -> F.Column:
    """Array of dot products against the literal centroid matrix — one
    zip_with/aggregate per centroid over a constant weight array.
    ``centroids`` overrides the md5 matrix (e.g. k-means-trained).
    The matrix literal is built as one JVM-parsed expression
    (functions/vector.py lit_double_matrix): the former per-element
    F.lit spelling cost ~0.65 s of py4j round-trips per plan build at
    dim 64 × 16 centroids (r15), bit-identical trees."""
    from clinical_vector_search_spark.functions.vector import (
        lit_double_matrix,
    )

    v = F.col(vec)
    cents = lit_double_matrix(
        centroids or _centroid_matrix(dim, n_centroids)
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_centroids - 1)),
        lambda c: F.aggregate(
            F.zip_with(
                v,
                F.element_at(cents, c.cast("int") + 1),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _centroid_assign(dots: F.Column) -> F.Column:
    """Argmax cluster id over QUANTIZED centroid dots (quantize-before-
    argmax, ASSIGN_SCALE): ``array_position`` takes the FIRST max, so any
    residual tie resolves to the smallest cluster id — identically to
    ``np.argmax(np.floor(· * 1e12 + 0.5))`` and the oracle's
    ``ORDER BY floor(dot * 1e12 + 0.5) DESC, cid``."""
    r = F.transform(
        dots, lambda d: F.floor(d * F.lit(ASSIGN_SCALE) + F.lit(0.5))
    )
    return (F.array_position(r, F.array_max(r)) - 1).cast("int")


def _top_probes(dots: F.Column, n_centroids: int, n_probe: int) -> F.Column:
    """Top ``n_probe`` centroid indices by QUANTIZED dot, ties to the
    smallest index: sort (−quantized, i) structs ascending (struct order
    is lexicographic) and take the leading slice's indices."""
    keyed = F.zip_with(
        dots,
        F.sequence(F.lit(0), F.lit(n_centroids - 1)),
        lambda dot, i: F.struct(
            (-F.floor(dot * F.lit(ASSIGN_SCALE) + F.lit(0.5))).alias(
                "neg"
            ),
            i.alias("i"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(keyed), 1, n_probe), lambda s: s["i"]
    )


def knn_ivf(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate kNN (the second scale path next to LSH).

    Docs are assigned to their argmax-similarity centroid (one pass, one
    shuffle on a ≤n_centroids-ary key); each query probes its top
    ``n_probe`` centroids and scores only those partitions' docs. Recall
    rises with n_probe (n_probe = n_centroids ⇒ exact).

    ``centroids=None`` uses the deterministic md5 matrix (reproducible,
    the oracle-twin default); pass :func:`kmeans_centroids` output for
    trained centroids — same plan shape, higher recall at equal n_probe
    (asserted in tests/test_extensions.py).
    Contract: recall-vs-exact (like HNSW/LSH, SURVEY §7a), not id parity.
    Caller-passed ``centroids`` (and doc/query vectors) must keep
    centroid dots bounded, |dot| ≲ 1e3 — normalize, as every in-repo
    caller does — or the ``ASSIGN_SCALE`` tie quantizer degrades (see
    the precondition note at its definition).
    """
    d_dots = _centroid_dots(doc_vec, dim, n_centroids, centroids)
    d = docs.withColumn("cluster", _centroid_assign(d_dots)).select(
        doc_id, doc_vec, "cluster"
    )

    q_dots = _centroid_dots(query_vec, dim, n_centroids, centroids)
    # top-n_probe centroid indices, rounded dots, ties → smallest index
    probes = _top_probes(q_dots, n_centroids, n_probe)
    q = queries.withColumn("cluster", F.explode(probes)).select(
        query_id, query_vec, "cluster"
    )

    scored = d.join(q, "cluster").select(
        query_id, doc_id, V.dot(query_vec, doc_vec).alias("score")
    )
    return _ranked(scored, query_id, doc_id, k)


def knn_lsh(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 8,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
) -> DataFrame:
    """Approximate kNN: random-hyperplane LSH bucketing (V5 analog).

    Docs and queries are hashed to a 2^n_planes-bucket space with
    deterministic hyperplanes; scoring happens only within the query's
    bucket (an equi-join on bucket id — co-partitioned, no crossJoin).
    Contract is recall-vs-exact, not id parity (SURVEY.md §7: HNSW ids are
    not reproducible targets). At scale: the bucket join shuffles docs once
    on a uniform-ish key; use more planes for smaller candidate sets.
    """
    d = docs.withColumn(
        "bucket", V.hyperplane_sign_bucket(doc_vec, dim, n_planes)
    ).select(doc_id, doc_vec, "bucket")
    q = queries.withColumn(
        "bucket", V.hyperplane_sign_bucket(query_vec, dim, n_planes)
    ).select(query_id, query_vec, "bucket")
    scored = d.join(F.broadcast(q), "bucket").select(
        query_id, doc_id, V.dot(query_vec, doc_vec).alias("score")
    )
    return _ranked(scored, query_id, doc_id, k)


def knn_l2(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Euclidean top-k (ascending squared-L2, ties -> doc id asc) — the
    FAISS IndexFlatL2 metric twin of :func:`knn` (which ranks by inner
    product). On normalized vectors the two rankings coincide
    (L2² = 2 - 2·cos), on raw vectors they genuinely differ.
    Returns (query_id, rank, doc_id, l2_dist).

    Same two physical strategies as :func:`knn`, picked by the same
    input-size statistic: the declarative broadcast+WindowGroupLimit plan
    for small corpora, per-partition NumPy top-k (only partitions×Q×k
    candidate rows shuffle) for large/unknown ones."""
    if strategy == "auto":
        nbytes = _estimate_input_bytes(docs)
        strategy = (
            "window"
            if nbytes is not None and nbytes < AUTO_WINDOW_MAX_BYTES
            else "partial_topk"
        )
    if strategy == "window":
        pairs = docs.join(
            F.broadcast(queries.select(query_id, query_vec)), how="cross"
        )
        scored = pairs.select(
            query_id, doc_id, V.l2_sq(query_vec, doc_vec).alias("l2_dist")
        )
        return _ranked_asc(scored, query_id, doc_id, k, "l2_dist")
    return _knn_l2_partial(queries, docs, k, query_id, query_vec, doc_id, doc_vec)


def _knn_l2_partial(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    doc_id: str,
    doc_vec: str,
) -> DataFrame:
    """L2 twin of :func:`_knn_partial_topk`: per-partition NumPy top-k by
    ascending squared distance (||d||² − 2·d·q + ||q||², one BLAS matmul),
    then the surviving ≤ partitions×Q×k candidates are RESCORED with the
    canonical fold-order :func:`~...vector.l2_sq` so the final ranking is
    bit-stable across strategies."""
    import numpy as np

    rows = _collect_queries(
        queries, query_id, query_vec, "knn_l2(strategy='partial_topk')"
    )
    q_ids = [r[0] for r in rows]
    q_mat = np.array([r[1] for r in rows], dtype="float64")
    q_sq = (q_mat**2).sum(axis=1)

    qid_type = dict(
        zip(queries.columns, (f.dataType.simpleString() for f in queries.schema.fields))
    )[query_id]
    did_type = dict(
        zip(docs.columns, (f.dataType.simpleString() for f in docs.schema.fields))
    )[doc_id]
    out_schema = f"{query_id} {qid_type}, {doc_id} {did_type}, l2_dist double"

    def partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[doc_id].to_numpy()
            mat = np.array(pdf[doc_vec].tolist(), dtype="float64")
            d2 = (mat**2).sum(axis=1)[:, None] - 2.0 * (mat @ q_mat.T) + q_sq
            n = len(ids)
            kk = min(k, n)
            out_q, out_d, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = d2[:, qi]
                if kk < n:
                    cand = np.argpartition(col, kk - 1)[:kk]
                else:
                    cand = np.arange(n)
                out_q.extend([q_ids[qi]] * len(cand))
                out_d.append(ids[cand])
                out_s.append(col[cand])
            yield pd.DataFrame(
                {
                    query_id: out_q,
                    doc_id: np.concatenate(out_d),
                    "l2_dist": np.concatenate(out_s),
                }
            )

    candidates = docs.select(doc_id, doc_vec).mapInPandas(
        partition_topk, out_schema
    )
    rescored = (
        candidates.join(docs.select(doc_id, doc_vec), doc_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(query_id, doc_id, V.l2_sq(query_vec, doc_vec).alias("l2_dist"))
    )
    return _ranked_asc(rescored, query_id, doc_id, k, "l2_dist")


def _ranked_asc(
    scored: DataFrame, query_id: str, doc_id: str, k: int, dist_col: str
) -> DataFrame:
    """Ascending twin of :func:`_ranked` for distance metrics: rank ≤ k by
    (dist asc, doc id asc), distance rounded to 6 in the output (ranking on
    the raw value). Shared by knn_l2 and the PQ ADC paths."""
    w = Window.partitionBy(query_id).orderBy(F.asc(dist_col), F.asc(doc_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", doc_id, F.round(dist_col, 6).alias(dist_col))
    )


# above this many query rows the broadcast would strain executor memory
# (100k × 384-dim fp64 ≈ 300 MB before java object overhead) — same
# bound _knn_partial_topk enforces on its driver collect
RANGE_BROADCAST_MAX_QUERIES = 100_000


def range_search(
    queries: DataFrame,
    docs: DataFrame,
    min_score: float,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
) -> DataFrame:
    """FAISS-style range search: ALL docs scoring ≥ ``min_score``
    (dot / cosine-on-normalized) per query — the radius twin of top-k
    kNN for "give me every candidate above the match threshold"
    workloads (dedup sweeps, recall-first retrieval). Returns
    (query_id, doc_id, score), unbounded per query by design.

    Plan: broadcast the bounded query batch against the corpus — one
    scan, no shuffle until whatever consumes the matches; the filter
    runs inside the scan stage so non-matches never materialize. Same
    scale contract as exact kNN's broadcast path.

    The bound is ENFORCED, not just documented: a cheap count probe on
    the query side (ids+vecs only) guards the broadcast, and above
    ``RANGE_BROADCAST_MAX_QUERIES`` the plan falls back to a
    partitioned cartesian (each task scores one docs-split × one
    query-split block — no single executor ever holds the query batch
    whole). All-pairs work is inherent to range search at that query
    volume; for sub-quadratic behavior switch to the IVF/LSH bucketed
    operators and filter their scores.
    """
    q = queries.select(F.col(query_id), F.col(query_vec))
    d = docs.select(F.col(doc_id), F.col(doc_vec))
    if q.count() <= RANGE_BROADCAST_MAX_QUERIES:
        joined = d.crossJoin(F.broadcast(q))
    else:
        joined = d.crossJoin(q)
    return (
        joined.select(
            query_id, doc_id, V.dot(query_vec, doc_vec).alias("score")
        )
        .filter(F.col("score") >= F.lit(float(min_score)))
    )


def hamming_rerank(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    dim: int,
    n_candidates: int = 50,
    word_bits: int = 32,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
) -> DataFrame:
    """Binary-quantized two-stage ANN: Hamming top-``n_candidates`` over
    packed sign codes (:func:`~..functions.vector.sign_pack`), then exact
    cosine rerank of the candidates only (the FAISS
    IndexBinaryFlat + rescore shape; reference metric parity per
    src/pipeline/pipeline.py:126-159).

    100 TB shape: the candidate stage touches ONLY the packed codes —
    dim/8 bytes per row vs 4·dim fp32, a 32× scan/shuffle cut (in
    production the codes are a persisted sidecar table, the same
    lifecycle as ``pq_encode``'s codes). The fp32 corpus is read again
    only at candidate granularity (``n_queries × n_candidates`` rows)
    through the join-back, and the query code frame is broadcast — the
    corpus never shuffles. Exact integer Hamming ties broken by doc id,
    so the candidate set is deterministic and oracle-checkable; the
    rescore reuses the certified fp64 dot.

    Contract: recall-vs-exact (like LSH/IVF/PQ, SURVEY §7a) — sign
    quantization keeps direction only, so recall rises with
    ``n_candidates`` (n_candidates ≥ corpus ⇒ exact top-k).
    """
    d = docs.select(doc_id, doc_vec)
    codes = d.select(doc_id, V.sign_pack(doc_vec, dim, word_bits).alias("code"))
    qc = queries.select(
        F.col(query_id),
        F.col(query_vec),
        V.sign_pack(query_vec, dim, word_bits).alias("qcode"),
    )

    cand = codes.crossJoin(F.broadcast(qc.select(query_id, "qcode"))).select(
        query_id, doc_id, V.hamming("code", "qcode").alias("hamming")
    )
    wc = Window.partitionBy(query_id).orderBy(F.asc("hamming"), F.asc(doc_id))
    cand = (
        cand.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= n_candidates)
        .drop("crank")
    )

    rescored = (
        cand.join(d, doc_id)
        .join(F.broadcast(qc.select(query_id, query_vec)), query_id)
        .select(query_id, doc_id, "hamming", V.dot(query_vec, doc_vec).alias("score"))
    )
    wr = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(doc_id))
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", doc_id, "hamming", "score")
    )
