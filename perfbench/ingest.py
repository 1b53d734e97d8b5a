"""``ingest``: writes beside reads on maintained BM25 and IVF-PQ indexes.

Each ``ingest`` folds a new batch of documents and their vectors into both
indexes and tombstones the oldest live batch, so the live corpus keeps its
starting size. Each is followed by a ``fresh`` query batch over the
read-back indexes, including vectors of the batch just ingested. Every
``COMPACT_EVERY`` ingests a ``compact`` operation folds batch directories
and erases tombstoned rows, so file counts stay bounded and latency does
not drift with run length. No batch ever repeats.

Why: this is the only workload that drives the ``io.tables`` marker, fence
and swap protocol and the read-back reconstruction of both indexes. A
speed-up that reuses work across a changed input shows here as wrong
results (the checks below) or slower writes.
"""

from __future__ import annotations

import os
import shutil
from collections import OrderedDict

import numpy as np
import pandas as pd

import checks
import gen as G

N_START, BATCH, N_QUERIES, K = 2000, 100, 8, 10
N_CENTROIDS, K_COARSE, N_PROBE = 16, 50, 4
COMPACT_EVERY = 2
OWN = 2  # fresh queries that are exact vectors of just-ingested docs
OPS = ("ingest", "fresh", "compact")


class Ingest:
    ops = OPS
    round_weights = {"ingest": COMPACT_EVERY, "fresh": COMPACT_EVERY, "compact": 1}

    def __init__(self, ctx):
        self.ctx = ctx
        self.live: OrderedDict[int, tuple] = OrderedDict()
        self.recalls: list[float] = []
        self.step = 0
        self.attempt = 0

    def generate(self) -> None:
        g = self.ctx.gen
        self.cents = G.centres(g)
        rng = g.rng("corpus")
        self.start_docs = G.docs_table(rng, np.arange(N_START))
        self.start_vecs = G.vectors(rng, self.cents, N_START)

    def _batch(self, step: int) -> tuple:
        """The step's new documents and vectors: a stream of its own, so
        batch contents do not depend on how many steps a run completes."""
        rng = self.ctx.gen.rng(f"batch{step}")
        ids = np.arange(N_START + (step - 1) * BATCH, N_START + step * BATCH)
        return ids, G.docs_table(rng, ids), G.vectors(rng, self.cents, BATCH)

    def _frames(self, docs, ids, vecs):
        spark = self.ctx.spark
        d = spark.createDataFrame(docs.select(["doc_id", "text"]).to_pandas())
        v = spark.createDataFrame(pd.DataFrame({
            "vec_id": ids.astype("int64"), "embedding": list(vecs),
        }))
        return d, v

    def setup(self) -> None:
        """Write the starting corpus as batch 0 of a fresh index."""
        from clinical_vector_search_spark.io.tables import write_parquet
        from clinical_vector_search_spark.operators.bm25 import bm25_index_add
        from clinical_vector_search_spark.operators.pq import (
            ivfpq_index_add,
            pq_codebooks_lcg,
        )

        if self.attempt:
            shutil.rmtree(self.idx)
        self.attempt += 1
        self.idx = os.path.join(self.ctx.work, f"index{self.attempt}")
        self.books = pq_codebooks_lcg(G.DIM, 8, 16)
        spark = self.ctx.spark
        ids = np.arange(N_START)
        d, v = self._frames(self.start_docs, ids, self.start_vecs)
        bm25_index_add(spark, d, 0, f"{self.idx}/bm25")
        ivfpq_index_add(
            spark, v, 0, f"{self.idx}/codes", G.DIM, self.books,
            n_centroids=N_CENTROIDS, encoder="pd",
        )
        write_parquet(v, f"{self.idx}/raw/batch-0")
        self.live.clear()
        for b in range(N_START // BATCH):
            sl = slice(b * BATCH, (b + 1) * BATCH)
            self.live[-1 - b] = (ids[sl], self.start_docs.slice(sl.start, BATCH),
                                 self.start_vecs[sl])
        self.step = 0

    # -- operations -------------------------------------------------------

    def _ingest(self, ids, docs, vecs) -> None:
        from clinical_vector_search_spark.io.tables import write_parquet
        from clinical_vector_search_spark.operators.bm25 import (
            bm25_index_add,
            bm25_index_delete,
        )
        from clinical_vector_search_spark.operators.pq import (
            ivfpq_index_add,
            ivfpq_index_delete,
        )

        rec, spark, s = self.ctx.rec, self.ctx.spark, self.step
        d, v = rec.plan(self._frames, docs, ids, vecs)
        rec.exec(bm25_index_add, spark, d, s, f"{self.idx}/bm25")
        rec.exec(
            ivfpq_index_add, spark, v, s, f"{self.idx}/codes", G.DIM,
            self.books, n_centroids=N_CENTROIDS, encoder="pd",
        )
        rec.exec(write_parquet, v, f"{self.idx}/raw/batch-{s}")
        _, (old_ids, old_docs, old_vecs) = self.live.popitem(last=False)
        od, ov = rec.plan(self._frames, old_docs, old_ids, old_vecs)
        rec.exec(bm25_index_delete, spark, od, s, f"{self.idx}/bm25")
        rec.exec(ivfpq_index_delete, spark, ov.select("vec_id"), s,
                 f"{self.idx}/dead")
        self.live[s] = (ids, docs, vecs)

    def _fresh(self, qvec, qtext):
        from clinical_vector_search_spark.operators.bm25 import (
            bm25_read_index,
            bm25_topk_set,
        )
        from clinical_vector_search_spark.operators.pq import (
            knn_refine_codes,
            read_ivfpq_index,
        )

        rec, spark = self.ctx.rec, self.ctx.spark
        q = rec.plan(spark.createDataFrame, pd.DataFrame({
            "query_id": np.arange(N_QUERIES, dtype="int64"),
            "query_vec": list(qvec),
        }))
        index = rec.plan(bm25_read_index, spark, f"{self.idx}/bm25")
        lex = rec.plan(
            bm25_topk_set, index,
            [(i, t.split()) for i, t in enumerate(qtext)], K,
        )
        lex_rows = rec.exec(lex.collect)
        codes = rec.plan(
            read_ivfpq_index, spark, f"{self.idx}/codes",
            tombstone_path=f"{self.idx}/dead",
        )
        raw = rec.plan(read_ivfpq_index, spark, f"{self.idx}/raw")
        vec = rec.plan(
            knn_refine_codes, q, codes, raw, K, G.DIM, self.books,
            n_centroids=N_CENTROIDS, k_coarse=K_COARSE, doc_id="vec_id",
            n_probe=N_PROBE,
        )
        return lex_rows, rec.exec(vec.collect)

    def _compact(self) -> list[int]:
        from clinical_vector_search_spark.io.tables import (
            compact_batched,
            compact_tombstoned,
        )

        rec, spark, idx = self.ctx.rec, self.ctx.spark, self.idx
        return [
            rec.exec(compact_tombstoned, spark, f"{idx}/bm25/postings",
                     f"{idx}/bm25/deleted", "doc"),
            rec.exec(compact_batched, spark, f"{idx}/bm25/df"),
            rec.exec(compact_batched, spark, f"{idx}/bm25/scalars"),
            rec.exec(compact_tombstoned, spark, f"{idx}/codes",
                     f"{idx}/dead", "vec_id"),
            rec.exec(compact_batched, spark, f"{idx}/raw"),
        ]

    # -- checks -----------------------------------------------------------

    def _live_matrix(self):
        ids = np.concatenate([b[0] for b in self.live.values()])
        vecs = np.concatenate([b[2] for b in self.live.values()]).astype("float64")
        return ids, vecs

    def _check_fresh(self, qvec, own_ids, out) -> list[str]:
        from clinical_vector_search_spark.operators.bm25 import bm25_read_index

        lex_rows, vec_rows = out
        live_ids, live_vecs = self._live_matrix()
        live = set(live_ids.tolist())
        problems = []
        n_docs = bm25_read_index(self.ctx.spark, f"{self.idx}/bm25").select(
            "n_docs").first()[0]
        if n_docs != len(live):
            problems.append(f"bm25 n_docs {n_docs} != live {len(live)}")
        for q, rs in checks.group_rows(lex_rows, "query_id").items():
            ids = [r["doc_id"] for r in rs]
            if any(i not in live for i in ids):
                problems.append(f"bm25 q{q}: non-live ids {sorted(set(ids) - live)[:5]}")
            s = [r["bm25"] for r in rs]
            if any(b - a > checks.SCORE_TOL for a, b in zip(s, s[1:])):
                problems.append(f"bm25 q{q}: scores out of order")
        problems += checks.topk_shape(vec_rows, N_QUERIES, K, live, "vec_id",
                                      "l2_dist", descending=False)
        ref, _ = checks.exact_topk(qvec, live_vecs, live_ids, K, metric="l2")
        for q, rs in checks.group_rows(vec_rows, "query_id").items():
            got = [r["vec_id"] for r in rs]
            if q < OWN and got[:1] != [own_ids[q]]:
                problems.append(f"q{q}: own doc {own_ids[q]} not first in {got}")
            self.recalls.append(checks.recall(got, ref[q]))
        return problems

    def _step(self, timed: bool) -> None:
        self.step += 1
        ids, docs, vecs = self._batch(self.step)
        ledger, rec = self.ctx.ledger, self.ctx.rec

        def ingest():
            with rec.op("ingest", self.step, timed):
                self._ingest(ids, docs, vecs)

        ok, _ = ledger.run("ingest", ingest)
        if timed and ok:
            self.ctx.units += BATCH
        rng = self.ctx.gen.rng(f"fresh{self.step}")
        live_ids, live_vecs = self._live_matrix()
        picks = rng.integers(0, len(live_ids), N_QUERIES - OWN)
        qvec = np.vstack([
            G.perturb(rng, vecs[:OWN], 0.0),
            G.perturb(rng, live_vecs[picks], 0.05),
        ])
        qtext = G.query_texts(rng, N_QUERIES)

        def fresh():
            with rec.op("fresh", self.step, timed):
                lex_rows, vec_rows = self._fresh(qvec, qtext)
                return ([r.asDict() for r in lex_rows],
                        [r.asDict() for r in vec_rows])

        ledger.run("fresh", fresh, lambda out: self._check_fresh(qvec, ids, out))

    def _compact_op(self, rnd: int, timed: bool) -> None:
        def compact():
            with self.ctx.rec.op("compact", rnd, timed):
                return self._compact()

        self.ctx.ledger.run(
            "compact", compact,
            lambda n: [] if all(x > 0 for x in n) else [f"file counts {n}"],
        )

    def round(self, rnd: int, timed: bool = True) -> None:
        for _ in range(COMPACT_EVERY):
            self._step(timed)
        self._compact_op(rnd, timed)

    def warmup(self) -> None:
        """One step and one compaction: every operation runs once."""
        self._step(timed=False)
        self._compact_op(-1, timed=False)

    def facts(self) -> dict:
        return {
            "recall_at_10": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "live_docs": sum(len(b[0]) for b in self.live.values()),
        }

    def index_stats(self) -> tuple[int, float]:
        """(files under the index directory, index bytes per byte of live
        user data: document text plus float32 vectors)."""
        files = size = 0
        for root, _, names in os.walk(self.idx):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        user = sum(
            sum(len(t.encode()) for t in b[1].column("text").to_pylist())
            + b[2].nbytes
            for b in self.live.values()
        )
        return files, size / user
