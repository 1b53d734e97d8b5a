"""The maintained-index lifecycle protocol, tested ONCE over all five
indexes that implement it (VERDICT r13 task 5).

BM25 (operators/bm25.py), TF-IDF and trigram (operators/sparse.py),
IVF-PQ (operators/pq.py) and the SemDeDup assignments table
(operators/dedup.py, the r15 fifth kit) share an identical maintenance
protocol: additive
sufficient statistics in per-batch subdirectories / batch-id OVERWRITE
idempotency / tombstoned deletes with delete-redelivery fencing /
compaction fence manifests / ingest-marker + lease exclusion / global
stats refolded at read. Previously each index carried a hand-written
copy of the same property and example tests; this suite parameterizes
the protocol itself over an IndexKit (corpus / add / delete / read /
rebuild), so the CONTRACT is the tested artifact and a new index gets
the full ladder by writing one kit — proven the same round: the
trigram index (operators/sparse.py trigram_index_add) was written
AFTER the suite and runs the whole ladder as the fourth kit with zero
new test code. Index-SPECIFIC behaviors
(serving-score parity, encoder-switch retries, recall) stay in the
per-index files.

Replaces the three hand-written algebra twins that lived in
test_property.py and the per-file lifecycle duplicates pruned from
test_bm25.py / test_tfidf_incremental.py / test_pq.py."""
from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clinical_vector_search_spark.io.tables import streaming_index_ingest

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "zephyr"]


@dataclass(frozen=True)
class IndexKit:
    """Everything the shared protocol suite needs to drive one
    maintained index; all paths are derived from a per-test base dir."""

    name: str
    id_col: str
    # corpus(spark, seed) -> DataFrame; seed=None gives the fixed
    # 6-row corpus whose row 2 carries signal unique to it (for text
    # kits: vocabulary that must VANISH when row 2 dies)
    corpus: Callable
    add: Callable          # (spark, df, batch_id, base, run_id=None)
    delete: Callable       # (spark, df, batch_id, base)
    read: Callable         # (spark, base) -> DataFrame
    rebuild: Callable      # (survivors_df) -> DataFrame (one-shot)
    snap: Callable         # (DataFrame) -> sorted comparable list
    compact_dirs: Callable  # (base) -> [dirs for compact_batched]
    tombstoned: Callable   # (base) -> (data_path, tombstone_path, join col)
    stream_check_dir: Callable  # (base) -> dir holding batch-{run}- subdirs


def _text_corpus(spark, seed=None):
    if seed is None:
        rows = [
            (0, "alpha bravo charlie delta"),
            (1, "alpha bravo echo"),
            (2, "zephyr quorl alpha"),  # zephyr/quorl live ONLY here
            (3, "bravo charlie foxtrot"),
            (4, "delta echo golf alpha bravo"),
            (5, "charlie golf hotel"),
        ]
    else:
        import numpy as np

        rng = np.random.RandomState(seed)
        n = int(rng.randint(2, 12))
        rows = [
            (
                i,
                " ".join(
                    _VOCAB[j]
                    for j in rng.randint(0, len(_VOCAB), rng.randint(1, 7))
                ),
            )
            for i in range(n)
        ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vec_corpus(spark, seed=None):
    import numpy as np

    rng = np.random.RandomState(7 if seed is None else seed)
    n = 12 if seed is None else int(rng.randint(2, 12))
    vecs = rng.uniform(-1, 1, size=(n, 8)).round(3)
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def _bm25_kit() -> IndexKit:
    from clinical_vector_search_spark.operators.bm25 import (
        bm25_index,
        bm25_index_add,
        bm25_index_delete,
        bm25_read_index,
    )

    return IndexKit(
        name="bm25",
        id_col="doc_id",
        corpus=_text_corpus,
        add=lambda spark, df, b, base, run_id=None: bm25_index_add(
            spark, df, b, base, run_id=run_id
        ),
        delete=lambda spark, df, b, base: bm25_index_delete(
            spark, df, b, base
        ),
        read=lambda spark, base: bm25_read_index(spark, base),
        rebuild=bm25_index,
        snap=lambda df: sorted(
            (
                r.doc, r.term, r.tf, r.dl,
                round(r.idf, 10), r.n_docs, round(r.avgdl, 10),
            )
            for r in df.collect()
        ),
        compact_dirs=lambda base: [
            f"{base}/postings", f"{base}/df", f"{base}/scalars"
        ],
        tombstoned=lambda base: (f"{base}/postings", f"{base}/deleted", "doc"),
        stream_check_dir=lambda base: f"{base}/postings",
    )


def _tfidf_kit() -> IndexKit:
    from clinical_vector_search_spark.operators.sparse import (
        tfidf_index,
        tfidf_index_add,
        tfidf_index_delete,
        tfidf_read_index,
    )

    return IndexKit(
        name="tfidf",
        id_col="doc_id",
        corpus=_text_corpus,
        add=lambda spark, df, b, base, run_id=None: tfidf_index_add(
            spark, df, b, base, run_id=run_id
        ),
        delete=lambda spark, df, b, base: tfidf_index_delete(
            spark, df, b, base
        ),
        read=lambda spark, base: tfidf_read_index(spark, base),
        rebuild=tfidf_index,
        snap=lambda df: sorted(
            (r.doc, r.term, r.tf, round(r.idf, 10), round(r.w, 10))
            for r in df.collect()
        ),
        compact_dirs=lambda base: [
            f"{base}/postings", f"{base}/df", f"{base}/scalars"
        ],
        tombstoned=lambda base: (f"{base}/postings", f"{base}/deleted", "doc"),
        stream_check_dir=lambda base: f"{base}/postings",
    )


def _ivfpq_kit() -> IndexKit:
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode_pd,
        ivfpq_index_add,
        ivfpq_index_delete,
        pq_codebooks_lcg,
        read_ivfpq_index,
    )

    books = pq_codebooks_lcg(8, 2, 4)

    def _add(spark, df, b, base, run_id=None):
        # alternate the bit-identical encoder twins across batch ids —
        # their parity must hold THROUGH the sink
        ivfpq_index_add(
            spark, df, b, f"{base}/codes", 8, books, n_centroids=2,
            encoder="pd" if b % 2 else "expr", run_id=run_id,
        )

    return IndexKit(
        name="ivfpq",
        id_col="vec_id",
        corpus=_vec_corpus,
        add=_add,
        delete=lambda spark, df, b, base: ivfpq_index_delete(
            spark, df.select("vec_id"), b, f"{base}/dead"
        ),
        read=lambda spark, base: read_ivfpq_index(
            spark, f"{base}/codes", tombstone_path=f"{base}/dead"
        ),
        rebuild=lambda df: ivfpq_encode_pd(df, 8, books, n_centroids=2),
        snap=lambda df: sorted(
            (r.vec_id, r.cluster, tuple(r.codes)) for r in df.collect()
        ),
        compact_dirs=lambda base: [f"{base}/codes"],
        tombstoned=lambda base: (f"{base}/codes", f"{base}/dead", "vec_id"),
        stream_check_dir=lambda base: f"{base}/codes",
    )


def _trigram_kit() -> IndexKit:
    # the r14 fourth index — written AFTER the suite, proving the
    # "one kit = the full ladder" claim this file exists to make
    from clinical_vector_search_spark.operators.sparse import (
        trigram_index_add,
        trigram_index_delete,
        trigram_postings,
        trigram_read_index,
    )

    return IndexKit(
        name="trigram",
        id_col="doc_id",
        corpus=_text_corpus,
        add=lambda spark, df, b, base, run_id=None: trigram_index_add(
            spark, df, b, base, run_id=run_id
        ),
        delete=lambda spark, df, b, base: trigram_index_delete(
            spark, df.select("doc_id"), b, base
        ),
        read=lambda spark, base: trigram_read_index(spark, base),
        rebuild=trigram_postings,
        snap=lambda df: sorted(
            (r.doc_id, r.trigram) for r in df.collect()
        ),
        compact_dirs=lambda base: [f"{base}/postings"],
        tombstoned=lambda base: (f"{base}/postings", f"{base}/deleted", "doc"),
        stream_check_dir=lambda base: f"{base}/postings",
    )


def _semantic_kit() -> IndexKit:
    # the r15 fifth index — the maintained SemDeDup assignments table
    # (operators/dedup.py semantic_index_add): per-doc rows are
    # (vec_id, _nv, cluster) against FROZEN md5 centroids, so add is a
    # pure per-row function exactly like the ivfpq kit; the pair-probe
    # and reindex behaviors specific to SemDeDup stay in
    # test_semantic_index.py
    from clinical_vector_search_spark.operators.dedup import (
        semantic_clusters,
        semantic_index_add,
        semantic_index_delete,
        semantic_read_index,
    )

    def _add(spark, df, b, base, run_id=None):
        # alternate the bit-identical expr/BLAS assignment twins across
        # batch ids — their parity must hold THROUGH the sink
        semantic_index_add(
            spark, df, b, f"{base}/assign", 8, n_clusters=2,
            encoder="pd" if b % 2 else "expr", run_id=run_id,
        )

    return IndexKit(
        name="semantic",
        id_col="vec_id",
        corpus=_vec_corpus,
        add=_add,
        delete=lambda spark, df, b, base: semantic_index_delete(
            spark, df.select("vec_id"), b, f"{base}/dead"
        ),
        read=lambda spark, base: semantic_read_index(
            spark, f"{base}/assign", tombstone_path=f"{base}/dead"
        ),
        rebuild=lambda df: semantic_clusters(df, 8, 2),
        snap=lambda df: sorted(
            (r.vec_id, r.cluster, tuple(r._nv)) for r in df.collect()
        ),
        compact_dirs=lambda base: [f"{base}/assign"],
        tombstoned=lambda base: (f"{base}/assign", f"{base}/dead", "vec_id"),
        stream_check_dir=lambda base: f"{base}/assign",
    )


KITS = [_bm25_kit, _tfidf_kit, _ivfpq_kit, _trigram_kit, _semantic_kit]
KIT_IDS = ["bm25", "tfidf", "ivfpq", "trigram", "semantic"]


@pytest.fixture(params=KITS, ids=KIT_IDS)
def kit(request) -> IndexKit:
    return request.param()


def test_add_matches_rebuild_and_retry_is_idempotent(spark, kit, tmp_path):
    """Folding the corpus in as 3 batches reconstructs the one-shot
    rebuild value-for-value (global stats refolded at read), an
    at-least-once retry of a batch id leaves the index bit-identical
    (overwrite sink), and a LATER ingest shifts every global stat
    exactly as a full rebuild would."""
    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    first = docs.filter(F.col(kit.id_col) < 4)
    later = docs.filter(F.col(kit.id_col) >= 4)
    for b in range(3):
        kit.add(spark, first.filter(F.col(kit.id_col) % 3 == b), b, base)
    got = kit.snap(kit.read(spark, base))
    assert got == kit.snap(kit.rebuild(first)) and got
    # at-least-once retry: bit-identical state
    kit.add(spark, first.filter(F.col(kit.id_col) % 3 == 1), 1, base)
    assert kit.snap(kit.read(spark, base)) == got
    # later ingest: globals refresh exactly like a rebuild
    kit.add(spark, later, 3, base)
    assert kit.snap(kit.read(spark, base)) == kit.snap(kit.rebuild(docs))


def test_delete_matches_survivor_rebuild_and_redelete_is_fenced(
    spark, kit, tmp_path
):
    """Deletes run the algebra in reverse: the view equals the one-shot
    rebuild of the SURVIVORS (for text kits: vocabulary whose last doc
    died must vanish — row 2's unique terms); a re-delete under a FRESH
    batch id is a fenced no-op (no double-subtract); a MIXED batch
    (already-deleted + live, live duplicated) subtracts only the live
    doc's deltas exactly once; and the mixed batch's own at-least-once
    retry is bit-identical."""
    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    kit.add(spark, docs, 0, base)
    kit.delete(spark, docs.filter(F.col(kit.id_col) == 2), 0, base)
    want = kit.snap(kit.rebuild(docs.filter(F.col(kit.id_col) != 2)))
    after_first = kit.snap(kit.read(spark, base))
    assert after_first == want
    # fresh-id re-delete of the same doc: no-op
    kit.delete(spark, docs.filter(F.col(kit.id_col) == 2), 1, base)
    assert kit.snap(kit.read(spark, base)) == after_first
    # mixed batch: dead 2 + live 4, 4 duplicated
    mixed = docs.filter(F.col(kit.id_col).isin(2, 4)).unionByName(
        docs.filter(F.col(kit.id_col) == 4)
    )
    kit.delete(spark, mixed, 2, base)
    want2 = kit.snap(
        kit.rebuild(docs.filter(~F.col(kit.id_col).isin(2, 4)))
    )
    assert kit.snap(kit.read(spark, base)) == want2
    # at-least-once retry of the mixed batch id: bit-identical
    kit.delete(spark, mixed, 2, base)
    assert kit.snap(kit.read(spark, base)) == want2


def test_compact_batched_preserves_view_and_fences_redelivery(
    spark, kit, tmp_path
):
    """compact_batched folds batch subdirectories into flat files
    without changing the reconstructed view; redelivering a FOLDED
    batch id is refused loudly (a recreated subdirectory would
    double-count every surviving row); fresh batch ids keep ingesting
    and still reconstruct the rebuild exactly."""
    from clinical_vector_search_spark.io.tables import compact_batched

    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    b0 = docs.filter(F.col(kit.id_col) < 3)
    b1 = docs.filter(F.col(kit.id_col) >= 3)
    kit.add(spark, b0, 0, base)
    before = kit.snap(kit.read(spark, base))
    for d in kit.compact_dirs(base):
        assert compact_batched(spark, d) >= 1
    assert kit.snap(kit.read(spark, base)) == before
    with pytest.raises(ValueError, match="already"):
        kit.add(spark, b0, 0, base)
    kit.add(spark, b1, 1, base)
    assert kit.snap(kit.read(spark, base)) == kit.snap(kit.rebuild(docs))


def test_add_after_crashed_swap_keeps_earlier_rows(
    spark, kit, tmp_path, monkeypatch
):
    """A compaction that crashes between its swap's two renames leaves
    the live directory absent with the rows at ``<dir>__old_<tag>``. The
    next batch add must self-heal that swap BEFORE it writes its own
    subdirectory: writing first recreates the live name, readers then
    never heal, and the earlier batch's rows are stranded (and deleted
    by the next deep compaction pass)."""
    from test_swap_recovery import _crash_mid_swap

    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    kit.add(spark, docs.filter(F.col(kit.id_col) < 3), 0, base)
    crashed = kit.compact_dirs(base)[0]
    _crash_mid_swap(spark, crashed, monkeypatch, recursive=True)
    kit.add(spark, docs.filter(F.col(kit.id_col) >= 3), 1, base)
    assert kit.snap(kit.read(spark, base)) == kit.snap(kit.rebuild(docs))
    assert glob.glob(crashed + "__old_*") == []


def test_tombstone_compaction_physically_erases(spark, kit, tmp_path):
    """compact_tombstoned rewrites the data minus tombstoned ids and
    clears the tombstone directory LAST: the view is unchanged, the
    redelivery of folded ingest batches is refused (they would
    resurrect the erased ids), an absent-tombstone re-run is a no-op,
    and a previously deleted id may re-ingest under a fresh batch id
    (its negative stat deltas, where the index keeps them, cancel
    against the re-ingested positives)."""
    from clinical_vector_search_spark.io.tables import compact_tombstoned

    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    kit.add(spark, docs, 0, base)
    kit.delete(spark, docs.filter(F.col(kit.id_col) == 2), 0, base)
    before = kit.snap(kit.read(spark, base))
    data_path, tomb_path, join_col = kit.tombstoned(base)
    assert compact_tombstoned(spark, data_path, tomb_path, join_col) >= 1
    assert not os.path.exists(tomb_path)
    assert kit.snap(kit.read(spark, base)) == before
    assert before == kit.snap(
        kit.rebuild(docs.filter(F.col(kit.id_col) != 2))
    )
    # redelivery of the folded ingest batch: refused, view unchanged
    with pytest.raises(ValueError, match="already"):
        kit.add(spark, docs, 0, base)
    assert kit.snap(kit.read(spark, base)) == before
    # absent tombstones: re-run is a no-op
    assert compact_tombstoned(spark, data_path, tomb_path, join_col) == 0
    # the erased id may re-ingest under a fresh batch id
    kit.add(spark, docs.filter(F.col(kit.id_col) == 2), 7, base)
    assert kit.snap(kit.read(spark, base)) == kit.snap(kit.rebuild(docs))


def test_streaming_ingest_matches_one_shot(spark, kit, tmp_path):
    """Replaying the corpus through ``streaming_index_ingest`` over the
    kit's batch add in micro-batches (maxFilesPerTrigger=1,
    availableNow) accumulates
    state whose reconstructed view is value-identical to the one-shot
    rebuild — chunking must not matter — and the run_id namespaces the
    batch subdirectories (streaming batch ids are unique only per
    checkpoint)."""
    base = str(tmp_path / kit.name)
    docs = kit.corpus(spark)
    docs_path = str(tmp_path / "src")
    docs.repartition(3).write.parquet(docs_path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_path)
    )
    q = streaming_index_ingest(
        stream,
        lambda df, bid, rid: kit.add(spark, df, bid, base, run_id=rid),
        str(tmp_path / "ckpt"),
        "day1",
    )
    assert q.awaitTermination(300)
    assert len(q.recentProgress) > 1  # >1 micro-batch actually ran
    got = kit.snap(kit.read(spark, base))
    assert got == kit.snap(kit.rebuild(docs)) and got
    assert any(
        d.startswith("batch-day1-")
        for d in os.listdir(kit.stream_check_dir(base))
    )


def test_streaming_ingest_validates_run_id_before_start(spark, tmp_path):
    """An unsafe run_id is refused BEFORE the stream starts: no query is
    left running and the batch add never sees a batch."""
    src = str(tmp_path / "src")
    _text_corpus(spark).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    calls = []
    before = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="run_id"):
        streaming_index_ingest(
            stream, lambda *a: calls.append(a), str(tmp_path / "ckpt"), "a/b"
        )
    assert [q for q in spark.streams.active if q.id not in before] == []
    assert calls == []


@_slow
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    k=st.integers(min_value=1, max_value=3),        # ingest batches
    mask=st.integers(min_value=0, max_value=255),   # delete-subset bitmask
    mask2=st.integers(min_value=0, max_value=255),  # second delete batch
)
@pytest.mark.parametrize("make_kit", KITS, ids=KIT_IDS)
def test_lifecycle_algebra_matches_survivor_rebuild(
    spark, tmp_path_factory, make_kit, seed, k, mask, mask2
):
    """For ANY corpus, ANY batch partitioning and ANY sequence of two
    delete batches — the second MIXED: new deletions plus redeliveries
    of already-deleted ids — the maintained state (additive stats /
    codes, minus tombstones and negative deltas) must reconstruct the
    one-shot rebuild of exactly the surviving rows, with redelivered
    ids' deltas subtracted exactly once and vanished vocabulary
    dropped (text kits). One property, five indexes — the protocol
    algebra is the artifact under test."""
    kit = make_kit()
    docs = kit.corpus(spark, seed=seed)
    n = docs.count()
    base = str(tmp_path_factory.mktemp(f"{kit.name}_prop"))
    for b in range(k):
        kit.add(spark, docs.filter(F.col(kit.id_col) % k == b), b, base)
    deleted = [i for i in range(n) if (mask >> (i % 8)) & 1]
    if len(deleted) == n:  # a 0-row index is out of contract
        deleted = deleted[:-1]
    if deleted:
        kit.delete(
            spark, docs.filter(F.col(kit.id_col).isin(deleted)), 0, base
        )
    extra = [
        i for i in range(n)
        if (mask2 >> (i % 8)) & 1 and i not in set(deleted)
    ]
    if len(deleted) + len(extra) == n:
        extra = extra[:-1]  # never delete everything
    batch2 = extra + deleted[:2]  # mixed: new deletes + redeliveries
    if batch2:
        kit.delete(
            spark, docs.filter(F.col(kit.id_col).isin(batch2)), 1, base
        )
    survivors = docs.filter(~F.col(kit.id_col).isin(deleted + extra))
    assert kit.snap(kit.read(spark, base)) == kit.snap(
        kit.rebuild(survivors)
    )
