"""SemDeDup-specific behaviors of the maintained semantic index
(operators/dedup.py semantic_index_add / ingest_semantic_batch /
reindex_semantic — r15). The shared lifecycle protocol (add==rebuild,
delete algebra, compaction fences, streaming state, property algebra) is
covered once for all five indexes in test_maintained_index.py; THIS file
pins what is semantic about the semantic index: the incremental pair
probe's chunking invariance, tombstones gating the probe, the
drift-recall hole reindex_semantic closes, and the sidecar kind guard.

Reference ancestor: the reference re-embeds and re-clusters its whole
corpus every run (src/pipeline/pipeline.py:90-136); the maintained index
is the cost-proportional-to-batch replacement."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.operators.dedup import (
    ingest_semantic_batch,
    read_semantic_state,
    reindex_semantic,
    semantic_clusters,
    semantic_dedup_pairs,
    semantic_index_add,
    semantic_index_delete,
    semantic_read_index,
    write_semantic_state,
)
from clinical_vector_search_spark.functions import vector as V
from clinical_vector_search_spark.io.tables import streaming_index_ingest


def _blob_frame(spark, n_blobs=6, per_blob=40, dim=16, noise=0.22, seed=11):
    """Deterministic blobby corpus: near-dup pairs live INSIDE blobs
    (high cosine), so clustering quality directly controls pair
    recall."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pick = np.repeat(np.arange(n_blobs), per_blob)
    mat = centers[pick] + noise * rng.normal(size=(len(pick), dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    return df, mat


def _pairs_snap(df):
    return sorted(
        (r.a_id, r.b_id, r.cluster, round(r.cosine, 9)) for r in df.collect()
    )


def _within_cluster_pairs(index_df, threshold):
    """All within-cluster cosine->=threshold pairs a read-back index
    admits — the candidate set its clustering can ever surface."""
    a = index_df.select(
        "cluster", F.col("vec_id").alias("a_id"), F.col("_nv").alias("_va")
    )
    b = index_df.select(
        "cluster", F.col("vec_id").alias("b_id"), F.col("_nv").alias("_vb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", V.dot("_va", "_vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def test_incremental_pairs_match_one_shot_and_retry_is_idempotent(
    spark, tmp_path
):
    """Replaying the corpus as 3 ingest batches accumulates EXACTLY the
    one-shot semantic_dedup_pairs output (each pair emitted once, in
    the later member's batch — the chunking-invariance contract), and
    an at-least-once retry of a middle batch leaves both sinks
    bit-identical (batch-id overwrite + probe-rediscovery collapsing
    under distinct)."""
    docs, _ = _blob_frame(spark, n_blobs=4, per_blob=25, dim=8, seed=3)
    A, P = str(tmp_path / "assign"), str(tmp_path / "pairs")
    for b in range(3):
        ingest_semantic_batch(
            spark, docs.filter(F.col("vec_id") % 3 == b), b, A, P, 8,
            threshold=0.6, n_clusters=4,
        )
    acc = spark.read.option("recursiveFileLookup", "true").parquet(P)
    one = semantic_dedup_pairs(
        docs, 8, threshold=0.6, n_clusters=4, max_cluster_rows=None
    )
    got = _pairs_snap(acc)
    assert got == _pairs_snap(one) and got
    # at-least-once retry of the LAST batch (foreachBatch redelivers
    # in order — a batch is only ever retried before its successor
    # starts) with the index already holding its rows: the probe
    # rediscovers the batch-self pairs with identical cosines and the
    # distinct collapses them — both sinks bit-identical
    ingest_semantic_batch(
        spark, docs.filter(F.col("vec_id") % 3 == 2), 2, A, P, 8,
        threshold=0.6, n_clusters=4,
    )
    acc2 = spark.read.option("recursiveFileLookup", "true").parquet(P)
    assert _pairs_snap(acc2) == got


def test_tombstoned_ids_form_no_new_pairs(spark, tmp_path):
    """A deleted id must be invisible to the probe: ingesting a
    near-exact copy of a tombstoned doc emits no pair against it
    (the GDPR argument — an erased doc can't keep matching), while the
    same copy DOES pair against a live original."""
    docs, _ = _blob_frame(spark, n_blobs=2, per_blob=10, dim=8, seed=5)
    A, P, D = (
        str(tmp_path / "assign"), str(tmp_path / "pairs"),
        str(tmp_path / "dead"),
    )
    ingest_semantic_batch(
        spark, docs, 0, A, P, 8, threshold=0.9, n_clusters=2,
        tombstone_path=D,
    )
    semantic_index_delete(spark, docs.filter(F.col("vec_id") == 0), 0, D)
    # batch of exact copies of doc 0 and doc 1 under fresh ids
    clones = docs.filter(F.col("vec_id").isin(0, 1)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    ingest_semantic_batch(
        spark, clones, 1, A, P, 8, threshold=0.99, n_clusters=2,
        tombstone_path=D,
    )
    new_pairs = (
        spark.read.parquet(f"{P}/batch-1")
        .select("a_id", "b_id")
        .collect()
    )
    partners = {r.a_id for r in new_pairs} | {r.b_id for r in new_pairs}
    assert 0 not in partners          # erased doc never matches
    assert 1 in partners and 1001 in partners  # live original does


def test_reindex_semantic_restores_pair_recall_after_drift(
    spark, tmp_path
):
    """The drift hole reindex_semantic closes: batches assigned against
    the frozen deterministic-md5 centroids split blobs across clusters,
    so within-cluster candidate recall vs the exact cosine ground truth
    decays; one leased retrain-and-reassign restores it, keeps the
    exact id membership, physically erases tombstoned ids, stamps the
    centroids atomically with the assignments, and fences old-geometry
    batch redeliveries."""
    import numpy as np

    from clinical_vector_search_spark.io.tables import (
        guard_batch_not_compacted,
    )

    docs, mat = _blob_frame(
        spark, n_blobs=6, per_blob=40, dim=16, noise=0.22, seed=11
    )
    A, D = str(tmp_path / "assign"), str(tmp_path / "dead")
    thr = 0.85
    for b in range(2):
        semantic_index_add(
            spark, docs.filter(F.col("vec_id") % 2 == b), b, A, 16,
            n_clusters=6,
        )
    dead = [0, 1, 41, 120]
    semantic_index_delete(
        spark, docs.filter(F.col("vec_id").isin(dead)), 0, D
    )

    alive = np.array([i for i in range(len(mat)) if i not in set(dead)])
    sims = mat[alive] @ mat[alive].T
    iu, ju = np.triu_indices(len(alive), k=1)
    hit = sims[iu, ju] >= thr
    truth = {
        (int(alive[i]), int(alive[j]))
        for i, j in zip(iu[hit], ju[hit])
    }

    def recall(index_df):
        found = {
            (r.a_id, r.b_id)
            for r in _within_cluster_pairs(index_df, thr).collect()
        }
        assert found <= truth  # cosine filter is exact; only recall moves
        return len(found) / len(truth)

    r_frozen = recall(semantic_read_index(spark, A, D))
    state = reindex_semantic(
        spark, A, docs, 16, n_clusters=6, n_iter=5, tombstone_path=D
    )
    reread = semantic_read_index(spark, A)
    r_re = recall(reread)
    assert r_re > r_frozen + 0.1, (r_frozen, r_re)
    assert r_re > 0.95, r_re

    # membership unchanged minus tombstones; tombstones cleared
    ids = sorted(r.vec_id for r in reread.select("vec_id").collect())
    assert ids == alive.tolist()
    assert not os.path.exists(D)
    # centroids stamped atomically with the assignments, round-trip
    st = read_semantic_state(spark, A)
    assert st is not None and st["kind"] == "semantic"
    assert st["centroids"] == state["centroids"]
    assert (st["dim"], st["n_clusters"]) == (16, 6)
    # read-back equals the one-shot rebuild under the new centroids
    want = sorted(
        (r.vec_id, r.cluster)
        for r in semantic_clusters(
            docs.filter(~F.col("vec_id").isin(dead)), 16, 6,
            centroids=state["centroids"],
        ).select("vec_id", "cluster").collect()
    )
    got = sorted((r.vec_id, r.cluster) for r in reread.collect())
    assert got == want
    # a redelivery of an old-geometry batch is fenced loudly
    with pytest.raises(ValueError, match="already"):
        guard_batch_not_compacted(A, "batch-1")


def test_read_semantic_state_rejects_foreign_sidecar(spark, tmp_path):
    """A semantic reader pointed at an IVF-PQ index must fail loudly —
    interpreting PQ geometry as centroids would be silent garbage."""
    from clinical_vector_search_spark.operators.pq import (
        pq_codebooks_lcg,
        write_trained_state,
    )

    docs, _ = _blob_frame(spark, n_blobs=2, per_blob=5, dim=8, seed=7)
    A = str(tmp_path / "assign")
    semantic_index_add(spark, docs, 0, A, 8, n_clusters=2)
    # stamp an IVF-PQ payload over it
    write_trained_state(
        spark, A, [[0.0] * 8] * 2, pq_codebooks_lcg(8, 2, 4), 8
    )
    with pytest.raises(ValueError, match="trained state"):
        read_semantic_state(spark, A)
    # the semantic stamp round-trips
    write_semantic_state(spark, A, [[0.0] * 8] * 2, 8)
    assert read_semantic_state(spark, A)["kind"] == "semantic"


def test_streaming_semantic_ingest_pairs_match_one_shot(spark, tmp_path):
    """The kit's streaming test pins the INDEX state; this pins the
    PAIRS sink: replaying the corpus through micro-batches accumulates
    exactly the one-shot pair set (chunking invariance through
    foreachBatch)."""
    docs, _ = _blob_frame(spark, n_blobs=3, per_blob=12, dim=8, seed=9)
    base = str(tmp_path / "sem")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_index_ingest(
        stream,
        lambda df, bid, rid: ingest_semantic_batch(
            spark, df, bid, f"{base}/assign", f"{base}/pairs", 8,
            threshold=0.6, n_clusters=3, run_id=rid,
        ),
        str(tmp_path / "ckpt"),
        "day1",
    )
    assert q.awaitTermination(300)
    assert len(q.recentProgress) > 1
    acc = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{base}/pairs"
    )
    one = semantic_dedup_pairs(
        docs, 8, threshold=0.6, n_clusters=3, max_cluster_rows=None
    )
    got = _pairs_snap(acc)
    assert got == _pairs_snap(one) and got
    assert any(
        d.startswith("batch-day1-")
        for d in os.listdir(f"{base}/pairs")
    )


def test_backfill_recovers_pairs_the_stale_geometry_missed(
    spark, tmp_path
):
    """reindex_semantic improves candidate generation only for FUTURE
    ingests; backfill_semantic_pairs recovers the existing corpus's
    missed pairs: after ingest-under-md5 -> reindex(trained) ->
    backfill, the accumulated (a_id, b_id) set equals
    old-pairs ∪ pairs-under-the-new-geometry, its recall reaches the
    new clustering's recall, and a retry of the backfill is a no-op
    (anti-join emits nothing new)."""
    from clinical_vector_search_spark.operators.dedup import (
        backfill_semantic_pairs,
    )

    docs, mat = _blob_frame(
        spark, n_blobs=6, per_blob=40, dim=16, noise=0.22, seed=11
    )
    A, P = str(tmp_path / "assign"), str(tmp_path / "pairs")
    thr = 0.85
    for b in range(2):
        ingest_semantic_batch(
            spark, docs.filter(F.col("vec_id") % 2 == b), b, A, P, 16,
            threshold=thr, n_clusters=6,
        )
    old = {
        (r.a_id, r.b_id)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(P).select("a_id", "b_id").collect()
    }
    reindex_semantic(spark, A, docs, 16, n_clusters=6, n_iter=5)
    backfill_semantic_pairs(spark, A, P, threshold=thr)
    acc = {
        (r.a_id, r.b_id)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(P).select("a_id", "b_id").collect()
    }
    admitted = {
        (r.a_id, r.b_id)
        for r in _within_cluster_pairs(
            semantic_read_index(spark, A), thr
        ).collect()
    }
    assert acc == old | admitted
    assert len(admitted - old) > 0  # the reindex genuinely found more
    # accumulated recall reaches the retrained clustering's recall
    import numpy as np

    sims = mat @ mat.T
    iu, ju = np.triu_indices(len(mat), k=1)
    hit = sims[iu, ju] >= thr
    truth = {(int(i), int(j)) for i, j in zip(iu[hit], ju[hit])}
    assert acc <= truth  # cosine filter exact: never a false pair
    assert len(acc) / len(truth) > 0.95
    # retry: the anti-join makes the backfill idempotent
    backfill_semantic_pairs(spark, A, P, threshold=thr, batch_id=1)
    acc2 = {
        (r.a_id, r.b_id)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(P).select("a_id", "b_id").collect()
    }
    assert acc2 == acc
    # at-least-once redelivery of the SAME batch id: the anti-join must
    # not see the batch's own earlier output, or the overwrite empties it
    backfill_semantic_pairs(spark, A, P, threshold=thr)
    acc3 = {
        (r.a_id, r.b_id)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(P).select("a_id", "b_id").collect()
    }
    assert acc3 == acc
