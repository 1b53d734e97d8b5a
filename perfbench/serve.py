"""``serve``: fresh 8-query batches against a static sf0.1-sized corpus,
rotating through the paper's four retrieval architectures.

Why: this is the paper's use case. At this corpus size a request is bound
by fixed costs (plan build, job count, Python worker start), so changes to
those show here and executor-kernel changes should not. About one batch in
four repeats an earlier batch of the same architecture verbatim, so work
that requests share is present and its share is reported.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen as G

N_DOCS, N_VECS, BATCH, K = 5000, 2000, 8, 10
FHE_SUBSET, FHE_OUT_DIM = 300, 16
RAG_CANDIDATES, RAG_BM25, RAG_LAMBDA = 40, 40, 0.5
REPEAT_P = 0.25
WARMUP_ROUNDS = 3
QUERY_NOISE = 0.05
OPS = ("knn", "dp", "fhe", "rag")


def _with_snippets(results, docs):
    """The baseline mode's output shape (``pipeline.modes.baseline_mode``):
    kNN hits joined back to their documents with a text snippet."""
    from clinical_vector_search_spark.functions import text as TXT

    return (
        results.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "query_id", "rank", "doc_id", "score",
            TXT.snippet("text", 200).alias("snippet"),
        )
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


class Serve:
    ops = OPS
    round_weights = {op: 1 for op in OPS}

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        self.history = {op: [] for op in OPS}
        self.batches = self.repeats = 0
        self.quality = {op: [] for op in OPS}

    def generate(self) -> None:
        g = self.ctx.gen
        rng = g.rng("corpus")
        docs = G.docs_table(rng, np.arange(N_DOCS))
        vecs = G.vectors(rng, G.centres(g), N_VECS)
        os.makedirs(self.data)
        pq.write_table(docs, os.path.join(self.data, "documents.parquet"))
        pq.write_table(G.vecs_table(np.arange(N_VECS), vecs),
                       os.path.join(self.data, "embeddings.parquet"))
        self.texts = docs.column("text").to_pylist()
        v = vecs.astype("float64")
        self.unit_vecs = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.user_bytes = sum(len(t.encode()) for t in self.texts) + vecs.nbytes
        self.qrng = g.rng("queries")

    def setup(self) -> None:
        """Build the serving state the way ``pipeline.modes`` does: the
        normalized-vector cache, the BM25 index cache and the DP index."""
        from clinical_vector_search_spark.functions import text as TXT
        from clinical_vector_search_spark.io.tables import read_table
        from clinical_vector_search_spark.operators.bm25 import bm25_index
        from clinical_vector_search_spark.pipeline.dp import build_dp_index_pd
        from clinical_vector_search_spark.pipeline.embedding import hash_embed_pd
        from clinical_vector_search_spark.pipeline.modes import load_corpus
        from clinical_vector_search_spark.plan_cache import tracked_cache

        spark = self.ctx.spark
        spark.catalog.clearCache()
        self.docs, self.vecs = load_corpus(spark, self.data)
        self.vecs.count()
        tracked_cache(bm25_index(self.docs, "doc_id", "text")).count()
        attrs = self.docs.select(
            "doc_id", TXT.attr_sentence("lang", "source").alias("attr_text")
        )
        attr_vecs = hash_embed_pd(attrs, G.DIM, text_col="attr_text")
        joined = self.vecs.join(
            attr_vecs.select("doc_id", F.col("embedding").alias("attr_vec")),
            "doc_id",
        )
        self.dp_index = tracked_cache(build_dp_index_pd(
            joined, "embedding", "attr_vec", "doc_id", sigma=0.15
        ))
        self.dp_index.count()
        self.raw = read_table(spark, self.data, "embeddings")

    # -- requests ---------------------------------------------------------

    def _batch(self, op: str, timed: bool) -> dict:
        hist = self.history[op]
        rng = self.qrng
        repeat = rng.random() < REPEAT_P and bool(hist)
        if repeat:
            batch = hist[int(rng.integers(len(hist)))]
        else:
            base = self.unit_vecs[rng.integers(0, N_VECS, BATCH)]
            batch = {
                "vec": G.perturb(rng, base, QUERY_NOISE),
                "text": G.query_texts(rng, BATCH),
            }
            hist.append(batch)
        if timed:
            self.batches += 1
            self.repeats += repeat
        return batch

    def _frame(self, batch: dict, with_text: bool = False):
        cols = {
            "query_id": np.arange(BATCH, dtype="int64"),
            "query_vec": list(batch["vec"]),
        }
        if with_text:
            cols["query_text"] = batch["text"]
        return self.ctx.rec.plan(
            self.ctx.spark.createDataFrame, pd.DataFrame(cols)
        )

    def _run_knn(self, batch):
        from clinical_vector_search_spark.operators.knn import knn

        rec = self.ctx.rec
        hits = rec.plan(knn, self._frame(batch), self.vecs, K)
        return rec.exec(rec.plan(_with_snippets, hits, self.docs).collect)

    def _run_dp(self, batch):
        from clinical_vector_search_spark.operators.knn import knn
        from clinical_vector_search_spark.pipeline.dp import dp_query_vec

        rec = self.ctx.rec
        dq = rec.plan(dp_query_vec, self._frame(batch), "query_vec", G.DIM)
        res = rec.plan(
            knn,
            dq.select("query_id", F.col("dp_query_vec").alias("query_vec")),
            self.dp_index.select("doc_id", F.col("dp_vec").alias("embedding")),
            K,
        )
        return rec.exec(res.collect)

    def _run_fhe(self, batch):
        from clinical_vector_search_spark.pipeline.fhe import encrypted_topk_demo

        rec = self.ctx.rec
        res = rec.plan(
            encrypted_topk_demo, self._frame(batch), self.raw, K,
            in_dim=G.DIM, out_dim=FHE_OUT_DIM, subset_n=FHE_SUBSET,
        )
        return rec.exec(res.collect)

    def _run_rag(self, batch):
        from clinical_vector_search_spark.pipeline.rag import rag_pipeline

        rec = self.ctx.rec
        res = rec.plan(
            rag_pipeline, self._frame(batch, with_text=True), self.vecs,
            self.docs, K, RAG_CANDIDATES, RAG_BM25, RAG_LAMBDA,
        )
        return rec.exec(res.collect)

    # -- checks -----------------------------------------------------------

    def _check(self, op: str, batch: dict, rows) -> list[str]:
        key = -(batch["vec"] @ self.unit_vecs.T)  # lower is better
        ids = np.arange(N_VECS)
        ref_ids, _ = checks.exact_topk(batch["vec"], self.unit_vecs, ids, K)
        if op == "knn":
            problems = checks.topk_shape(rows, BATCH, K, set(range(N_VECS)),
                                         "doc_id", "score")
            for q, rs in checks.group_rows(rows, "query_id").items():
                got = [r["doc_id"] for r in rs]
                if not checks.matches_exact(got, ref_ids[q], dict(enumerate(key[q]))):
                    problems.append(f"q{q}: ids {got} != exact {ref_ids[q].tolist()}")
                for r in rs:
                    if abs(r["score"] + key[q][r["doc_id"]]) > 1e-6:
                        problems.append(f"q{q}: score {r['score']} for {r['doc_id']}")
                    want = self.texts[r["doc_id"]].replace("\n", " ")[:200]
                    if r["snippet"] != want:
                        problems.append(f"q{q}: snippet of {r['doc_id']}")
            return problems
        valid = set(range(FHE_SUBSET)) if op == "fhe" else set(range(N_VECS))
        id_col = "doc_id"
        score = None if op == "rag" else "score"
        problems = checks.topk_shape(rows, BATCH, K, valid, id_col, score)
        if not problems:
            for q, rs in checks.group_rows(rows, "query_id").items():
                self.quality[op].append(
                    checks.recall([r[id_col] for r in rs], ref_ids[q])
                )
        return problems

    def request(self, op: str, req: int, timed: bool) -> None:
        batch = self._batch(op, timed)
        run = getattr(self, f"_run_{op}")

        def call():
            with self.ctx.rec.op(op, req, timed):
                return [r.asDict() for r in run(batch)]

        ok, _ = self.ctx.ledger.run(op, call, lambda rows: self._check(op, batch, rows))
        if timed and ok:
            self.ctx.units += BATCH

    def round(self, rnd: int, timed: bool = True) -> None:
        order = self.qrng.permutation(len(OPS))
        for i in order:
            self.request(OPS[i], rnd * len(OPS) + int(i), timed)

    def warmup(self) -> None:
        for rnd in range(WARMUP_ROUNDS):
            self.round(-1 - rnd, timed=False)

    def facts(self) -> dict:
        return {
            "repeat_share": self.repeats / self.batches if self.batches else 0.0,
            "recall_at_10_vs_exact": {
                op: float(np.mean(v)) for op, v in self.quality.items() if v
            },
        }

    def index_stats(self) -> tuple[int, float]:
        """(files under the data directory, bytes of cached serving state
        per byte of generated input)."""
        sc = self.ctx.spark.sparkContext
        cached = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        files = sum(len(f) for _, _, f in os.walk(self.data))
        return files, cached / self.user_bytes
