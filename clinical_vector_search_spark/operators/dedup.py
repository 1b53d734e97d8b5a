"""Deduplication suite for large-scale training-data pipelines.

Generalizes the reference's exact text dedup (src/pipeline/pipeline.py:67,
``drop_duplicates(subset=["text"])``) into the family of operators a 100 TB
corpus pipeline needs. All hash-dependent operators use the cross-engine
MD5 primitives from ``functions.hashing`` so they are deterministic and
oracle-checkable in ANSI SQL.

Scale design notes:
  * exact_dedup: one shuffle on the (hashed) key; at 100 TB hash the text
    first so the shuffle key is 8 bytes, not the document body.
  * minhash: explode-to-shingles is map-side; the signature is a groupBy
    on doc_id (co-partitioned with the source if bucketed). Candidate
    generation joins on (band, band-signature) — a uniform key, small
    buckets, no N² blow-up.
  * ngram_jaccard: the self-join is on shingle (postings join); frequent
    shingles are the skew risk — cap or salt them in a real deployment
    (df_cap parameter here).
  * embedding near-dup: brute self-join is quadratic; the scale path
    buckets by LSH sign-hash first (same hyperplanes as knn_lsh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import hashing as H
from clinical_vector_search_spark.functions import text as TXT
from clinical_vector_search_spark.functions import vector as V


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct text — deterministic survivor = min id
    (the reference keeps first-in-file, pipeline.py:67; pandas order is an
    accident, min-id is the explicit contract here). Groups on md5(text) so
    the shuffle key is fixed-width."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "text_hash", "dup_count")
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic universal-hash family member i: h_i(x) = (a·x + b) mod P.
    Constants derived from the public LCG multipliers; a ∈ [1, P-1] so the
    map is a bijection on Z_P. All intermediates < 2^62 (a, x < 2^31)."""
    a = (1103515245 * (i + 1) + 12345) % (MINHASH_P - 1) + 1
    b = (22695477 * (i + 1) + 1) % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature rows (doc_id, hash_idx, sig).

    sig[i] = min over the doc's distinct word-shingles of
    (a_i · md5_long(shingle) + b_i) mod P — ONE md5 per shingle with a
    universal-hash family on top (vs hashing each shingle num_hashes
    times), and all num_hashes minima computed in a SINGLE groupBy over
    the exploded shingles (no ×num_hashes row blow-up before the shuffle —
    at 100 TB the shingle explosion is the dominant cost and this keeps it
    ×1). Docs with fewer tokens than shingle_size have no shingles and
    drop out (callers that need them use a smaller shingle size).

    Shingling goes through ``shingle_rows`` (codegen lead-window path,
    ~6× the HOF expression) with ``distinct=False``: min is invariant
    under duplicate shingles, so the per-doc dedup shuffle is skipped."""
    sh = TXT.shingle_rows(
        df, shingle_size, text_col, id_col, distinct=False
    ).withColumn("hv", F.pmod(H.md5_long(F.col("shingle")), F.lit(MINHASH_P)))
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(
                    F.lit(a) * F.col("hv") + F.lit(b), F.lit(MINHASH_P)
                )
            ).alias(f"_s{i}")
            for i, (a, b) in (
                (i, minhash_params(i)) for i in range(num_hashes)
            )
        ]
    )
    stack_args = ", ".join(f"{i}, _s{i}" for i in range(num_hashes))
    return mins.selectExpr(
        id_col, f"stack({num_hashes}, {stack_args}) as (hash_idx, sig)"
    )


def minhash_band_buckets(
    sigs: DataFrame, rows_per_band: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """LSH banding: (doc_id, band, bucket) where bucket = md5 of the band's
    concatenated signature values. Two docs sharing any (band, bucket) are
    near-dup candidates."""
    banded = sigs.withColumn(
        "band", (F.col("hash_idx") / F.lit(rows_per_band)).cast("int")
    )
    return (
        banded.groupBy(id_col, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("hash_idx", "sig"))
                    ),
                    lambda s: s["sig"].cast("string"),
                ),
                "-",
            ).alias("band_key")
        )
        .select(id_col, "band", F.md5("band_key").alias("bucket"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs (a_id < b_id) from MinHash LSH banding.

    The bucket table is cached before the self-join: Spark does not reuse
    exchanges across self-join sides (re-resolved exprIds break canonical
    equality), so an uncached plan would run the whole scan→shingle→hash
    pipeline twice. The cached frame is tiny — (doc_id, band, bucket-hash)
    per band, never document bodies; at 100 TB you persist it as a table
    (same "index = data" pattern as the vector/BM25 indexes)."""
    sigs = minhash_signatures(df, num_hashes, shingle_size, text_col, id_col)
    buckets = minhash_band_buckets(sigs, rows_per_band, id_col).cache()
    a = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("a_id")
    )
    b = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("b_id")
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus_buckets: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-ingest near-dup filter: flag each NEW document whose MinHash
    LSH bucket collides with the EXISTING corpus index.

    The incremental shape of :func:`minhash_candidate_pairs`: the corpus
    side is the persisted (doc_id, band, bucket) table built once by
    :func:`minhash_band_buckets` ("index = data", io.tables) and only
    appended as batches are accepted; each incoming batch shingles only
    ITS OWN documents — cost ∝ batch size, not corpus size. The probe is
    a left-semi join on (band, bucket) against the distinct corpus
    buckets; both join sides are slim band/bucket rows, never document
    bodies. Returns one row per new doc: (id_col, corpus_dup) —
    shingle-less docs (shorter than the shingle size) can't collide and
    come back False.
    """
    sigs = minhash_signatures(
        new_docs, num_hashes, shingle_size, text_col, id_col
    )
    nb = minhash_band_buckets(sigs, rows_per_band, id_col)
    # no .distinct() on the corpus side: left-semi join semantics already
    # ignore duplicate build rows, and a distinct would re-aggregate the
    # whole corpus index on every ingest batch
    hits = (
        nb.join(
            corpus_buckets.select("band", "bucket"),
            ["band", "bucket"],
            "left_semi",
        )
        .select(id_col)
        .distinct()
        .withColumn("corpus_dup", F.lit(True))
    )
    return new_docs.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce("corpus_dup", F.lit(False)).alias("corpus_dup"),
    )


def minhash_pairs_incremental(
    new_docs: DataFrame,
    corpus_buckets: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental banded-MinHash near-dup PAIRS against a growing
    corpus — the maintenance composition next to :func:`dedup_incremental`
    (which only flags) and the near-dup analogue of SCD2's
    ``scd2_apply_changes``: ingesting a batch emits exactly the NEW
    candidate pairs a full :func:`minhash_candidate_pairs` rerun over
    corpus+batch would add, without ever rescanning old×old.

    Sound because MinHash signatures are per-document (no cross-doc
    state), so the persisted corpus (doc_id, band, bucket) index rows
    are bit-identical to what a full recompute would rebuild, and every
    NEW pair has ≥1 batch member by definition. The batch shingles only
    itself; the batch's distinct (band, bucket) keys are BROADCAST and
    the corpus index is probed with a map-side left-semi join — zero
    shuffle of untouched buckets, cost ∝ batch size (at 100 TB the
    index is stored clustered by bucket, so the probe additionally
    prunes files). new×new pairs come from the batch's own tiny
    self-join; new×old pairs join only the semi-join survivors back to
    the broadcast batch buckets. Returns (a_id, b_id), a_id < b_id,
    distinct across bands — new×new and new×old candidate pairs only.
    """
    sigs = minhash_signatures(
        new_docs, num_hashes, shingle_size, text_col, id_col
    )
    nb = minhash_band_buckets(sigs, rows_per_band, id_col)
    return _incremental_pairs_from_buckets(nb, corpus_buckets, id_col)


def _incremental_pairs_from_buckets(
    new_buckets: DataFrame,
    corpus_buckets: DataFrame,
    id_col: str = "doc_id",
    materialized: bool = False,
) -> DataFrame:
    """Bucket-level core of :func:`minhash_pairs_incremental`, reused by
    :func:`ingest_neardup_batch` where the batch's (doc_id, band,
    bucket) rows are computed once and both probed and appended.

    ``materialized=True`` says the input is already pinned (e.g. a
    ``localCheckpoint`` from the streaming path), so the multi-consumer
    ``cache()`` below is skipped — a long-running stream must not
    accumulate cached blocks in executor storage, one per micro-batch."""
    from clinical_vector_search_spark.plan_cache import tracked_cache

    # cached: reused by the touched-key broadcast, the new×new self-join
    # (Spark does not reuse exchanges across self-join sides), and the
    # new×old probe join — slim (doc_id, band, bucket-hash) rows only.
    # tracked_cache, not bare .cache(): inside a registered plan build
    # the handle is owned (and evicted) by the build; outside one the
    # caller owns it, same contract as semantic_clusters
    nb = new_buckets if materialized else tracked_cache(new_buckets)
    if not materialized:
        # populate the cache BEFORE the consumers run: the touched-key
        # and new-side broadcast exchanges below build as CONCURRENT
        # futures, and on a cold cache each future recomputes the whole
        # batch shingle→minhash pipeline before any of them populates
        # it (r16 profiler: three ~2 s duplicate builds per ingest at
        # sf0.1). One cheap count pays the pipeline exactly once.
        nb.count()

    a = nb.select("band", "bucket", F.col(id_col).alias("a_id"))
    b = nb.select("band", "bucket", F.col(id_col).alias("b_id"))
    new_new = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )

    touched = nb.select("band", "bucket").distinct()
    corpus_hits = corpus_buckets.join(
        F.broadcast(touched), ["band", "bucket"], "left_semi"
    )
    new_old = (
        corpus_hits.select(
            "band", "bucket", F.col(id_col).alias("_old_id")
        )
        .join(
            F.broadcast(
                nb.select("band", "bucket", F.col(id_col).alias("_new_id"))
            ),
            ["band", "bucket"],
        )
        # ids may interleave; canonicalize instead of assuming old < new
        .select(
            F.least("_old_id", "_new_id").alias("a_id"),
            F.greatest("_old_id", "_new_id").alias("b_id"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    return new_new.unionByName(new_old).distinct()


def read_neardup_output(spark, path: str) -> DataFrame:
    """Read an :func:`ingest_neardup_batch` pairs/index directory.
    The sink writes one ``batch-{id}`` subdirectory per micro-batch (the
    idempotent-retry layout), so a plain ``spark.read.parquet`` would
    not see the leaf files; the recursive listing also tolerates the
    mixed layout left by ``compact_parquet`` (flat compacted files next
    to newer batch subdirectories), after self-healing a crashed swap —
    the shared reader half, ``io.tables.read_batches``. Raises like any
    parquet read if the path does not exist."""
    from clinical_vector_search_spark.io.tables import read_batches

    return read_batches(spark, path)


def ingest_neardup_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str | None = None,
) -> None:
    """Streaming near-dup ingestion, one micro-batch: the incremental
    step of :func:`minhash_pairs_incremental`. Stream a document source
    through it with ``io.tables.streaming_index_ingest(stream, lambda
    df, bid, rid: ingest_neardup_batch(spark, df, bid, …, run_id=rid),
    checkpoint_path, run_id)``. The batch's (doc_id, band, bucket) rows
    are computed ONCE (localCheckpoint), probed against the persisted
    band index for new×new + new×old candidate pairs (broadcast
    touched-bucket semi-join — no old×old rescan), and appended to
    ``index_path`` so later batches see them; the pairs go to
    ``pairs_path``.

    The accumulated pair set is INVARIANT to how the stream is chunked:
    in a failure-free run every pair is emitted exactly once, in the
    batch of whichever doc arrives later (same batch ⇒ the new×new
    term), so replaying any partitioning of a corpus reproduces exactly
    the one-shot :func:`minhash_candidate_pairs` output — the
    oracle-checked contract. ``foreachBatch`` is only at-least-once, so
    the sink is IDEMPOTENT: running the same (batch, batch_id) twice
    leaves both sinks bit-identical, because each batch OVERWRITES its
    own ``batch-{id}`` subdirectory rather than appending, and
    re-probing an index that already holds the batch's own buckets
    emits the identical pair set (batch-self pairs rediscovered through
    the probe collapse into the new×new term under the final
    ``distinct``). Index discovery is a ``try: read`` (storage-agnostic
    — works on hdfs://, s3a://, … where an ``os.walk`` would silently
    report 'no index' and drop every new×old pair).

    BECAUSE the sink overwrites, the subdirectory name must be unique
    per logical batch FOR THE LIFETIME OF THE INDEX — and streaming
    batch ids are only unique per checkpoint (a new query with a fresh
    checkpoint restarts at 0 and would OVERWRITE a prior run's batch-0
    subdirectory, silently dropping its buckets and pairs). Resume the
    same logical stream with the same checkpoint (ids continue
    monotonically). ``run_id`` namespaces the subdirectory
    (``batch-{run_id}-{id}``): extending an existing index from a NEW
    query/checkpoint, pass a distinct run_id (e.g. the ingest date);
    retries and checkpoint-restarts of the SAME logical run must reuse
    the same run_id so redelivery stays idempotent. Storage — the
    compaction fence, markers, recursive reads, and the rule that only
    genuine absence of the index reads as "first batch" — is the shared
    protocol (``io.tables.open_batch`` / ``read_batches`` /
    ``write_batch``); schedule ``compact_batched`` over ``index_path``
    on the usual cadence."""
    from clinical_vector_search_spark.io.tables import (
        open_batch,
        read_batches,
        write_batch,
    )

    sub = open_batch(
        spark, "batch", run_id, batch_id, [pairs_path, index_path]
    )
    sigs = minhash_signatures(
        batch_df, num_hashes, shingle_size, text_col, id_col
    )
    nb = minhash_band_buckets(sigs, rows_per_band, id_col).localCheckpoint()
    corpus = read_batches(spark, index_path, optional=True)
    corpus = (
        spark.createDataFrame([], nb.schema)
        if corpus is None
        else corpus.select(id_col, "band", "bucket")
    )
    pairs = _incremental_pairs_from_buckets(
        nb, corpus, id_col, materialized=True
    )
    write_batch(spark, sub, {pairs_path: pairs, index_path: nb}, ordered=True)


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = r"\.\s+",
    joiner: str = ". ",
) -> DataFrame:
    """Cross-document span-level dedup (the C4 / RefinedWeb shape): every
    sentence-span that occurs in more than one place is kept only at its
    FIRST occurrence (ordered by (doc id, position)) and removed
    everywhere else; documents are reassembled from their surviving
    spans. This is the boilerplate-killer — repeated disclaimers,
    navigation text, licence blocks — that document-level dedup cannot
    touch.

    Plan: split+posexplode (map-side) → winner per normalized span via
    groupBy-min(struct(doc_id, pos)) — a MAP-SIDE-COMBINED aggregation,
    so a span repeated a billion times collapses to one row per input
    partition before the shuffle (the skew-safe alternative to a
    row_number window, which would funnel all copies of one hot span
    into one task) → equi-join spans⋈winners on the span key →
    reassemble with one groupBy(doc id). Two span-sized shuffles total.

    Returns one row per input doc: (id_col, n_kept, text_dedup) —
    docs whose every span was claimed elsewhere come back with
    n_kept = 0 and an empty string.
    """
    # the span key is the md5-long of the normalized span, not the text:
    # the winner groupBy and the join back shuffle 8-byte keys, and the
    # span text rides along only once (for reassembly)
    units = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "unit"),
        )
        .filter(F.trim(F.col("unit")) != "")
        .withColumn("k", H.md5_long(F.lower(F.trim(F.col("unit")))))
    )
    winners = units.groupBy("k").agg(
        F.min(F.struct(id_col, "pos")).alias("w")
    )
    kept = units.join(winners, "k").filter(
        (F.col(id_col) == F.col(f"w.{id_col}")) & (F.col("pos") == F.col("w.pos"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda s: s["unit"],
            ),
            joiner,
        ).alias("text_dedup"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def repeated_window_fraction(
    df: DataFrame,
    window_tokens: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated token-window scoring — the exact-substring
    duplication signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL'22), approximated at fixed token-window
    granularity instead of a distributed suffix array: every
    ``window_tokens``-gram occurring in >= ``min_docs`` DISTINCT documents
    is "hot", and each document is scored by the fraction of its window
    positions covered by hot grams — the memorization-risk number used to
    cut or down-weight documents.

    Within-doc repetition deliberately does NOT flag (that is
    ``functions.text`` Gopher-repetition's job): hotness counts distinct
    documents, so a chorus repeated 50× inside one song scores 0 here.

    Plan: codegen lead-window gram rows (one shuffle on id), gram key
    md5-hashed so the hotness groupBy shuffles 8-byte keys instead of
    gram text, hot set map-side-combined via count_distinct, one left
    join back, one per-doc count. Every stage is gram- or doc-sized —
    no pairs, no quadratic blow-up.
    """
    wins = TXT.shingle_rows(
        df, window_tokens, text_col, id_col, distinct=False
    ).select(F.col(id_col), H.md5_long(F.col("shingle")).alias("g"))
    hot = (
        wins.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g", F.lit(1).alias("_hot"))
    )
    stats = (
        wins.join(hot, "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("_hot", F.lit(0))).alias("n_repeated"),
        )
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.round(F.col("n_repeated") / F.col("n_windows"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("frac_repeated"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    shingle_size: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Postings self-join on shingle → common count; |A|,|B| joined back;
    J = common / (|A| + |B| - common). ``df_cap`` drops shingles appearing
    in more than df_cap docs (stopword-shingle skew guard at scale)."""
    # cached: the postings frame feeds sizes + both self-join sides — an
    # uncached plan would re-derive scan→tokenize→shingle 3× (no cross-side
    # exchange reuse in Spark); rows are (doc_id, shingle) only
    sh = TXT.shingle_rows(
        df, shingle_size, text_col, id_col, distinct=True
    ).withColumnRenamed(id_col, "doc")
    if df_cap is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
        sh = sh.join(freq.filter(F.col("sdf") <= df_cap), "shingle").select(
            "doc", "shingle"
        )
    sh = sh.cache()
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc").alias("a_id"), "shingle")
    b = sh.select(F.col("doc").alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc", "a_id").withColumnRenamed("n_sh", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc", "b_id").withColumnRenamed("n_sh", "nb"), "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc SimHash: bit j of the hash = 1 iff Σ_tokens (±1 for the
    token's md5 bit j) > 0, i.e. strictly more than half the tokens
    (multiset — repeated tokens count repeatedly) have md5 bit j set.
    Tokens are :func:`functions.text.tokenize`'s (lowercase, split on
    ASCII whitespace); docs with zero tokens drop out. Returns
    (id_col, simhash long); ``id_col`` must be integral.

    One Arrow batch stage with ZERO shuffle — each doc's tokens live in
    its own row, so the operator is embarrassingly parallel, and the
    popcount is a vectorized numpy bit-unpack. Token hashes are memoized
    per batch (vocabulary ≪ token count), so the Python md5 cost is per
    distinct token, not per occurrence. Measured ~4× faster at sf0.1
    than exploding tokens to rows and shuffling them on ``id_col``."""
    out_schema = f"{id_col} long, simhash long"
    if bits > 62:  # bit 63 would overflow the signed long output
        raise ValueError("simhash supports at most 62 bits")
    TXT.require_integral_id(df, id_col)

    def kernel(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        # Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); re.ASCII matches it
        splitter = re.compile(r"\s+", re.ASCII)
        shifts = np.arange(bits, dtype=np.uint64)
        vocab: dict[str, int] = {}

        def hv(tok: str) -> int:
            v = vocab.get(tok)
            if v is None:
                # parity with functions.hashing.md5_long: first 15 hex chars
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                vocab[tok] = v
            return v

        for pdf in batches:
            ids, sketches = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [
                    t for t in splitter.split((text or "").lower()) if t
                ]
                if not toks:
                    continue
                h = np.fromiter(
                    (hv(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                bitset = (2 * ones > len(toks)).astype(np.uint64)
                ids.append(doc_id)
                sketches.append(int((bitset << shifts).sum()))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "simhash": pd.Series(sketches, dtype="int64")}
            )

    return df.select(id_col, text_col).mapInPandas(kernel, out_schema)


def dedup_groups(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    seed_labels: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-GROUP assignment: connected components over the candidate
    pair graph — the step after MinHash/Jaccard pair generation that turns
    pairwise matches into dedup decisions. Every doc gets
    ``group_id = min(doc id in its component)``; the survivor of a group is
    the doc whose id equals its group_id; singletons keep their own id.

    Algorithm: iterative min-label propagation. Each round is one
    edges⋈labels join + one min-groupBy; labels converge in diameter(G)
    rounds (near-dup components are duplicate clusters, not social graphs —
    diameters are tiny). Labels are lazily ``localCheckpoint``-ed every
    round — truncating the lineage a loop of joins would otherwise
    stack up — and the convergence sum is the SAME action that
    materializes the checkpoint: one job per round (r16; the former
    eager checkpoint + sum paid two; an iterative algorithm acts per
    iteration by nature, like Lloyd's). At extreme scale swap the
    propagation for the alternating large-star/small-star variant
    (O(log n) rounds) — the per-round plan shape is the same.

    ``ids`` must carry every node (one row per ``id_col``); ``pairs``
    carries (a_id, b_id) candidate edges. Returns (id_col, group_id).

    ``seed_labels`` (optional, (id_col, group_id)) REPLACES the
    identity-label start: the caller hands a complete initial label
    table covering exactly the nodes of ``ids`` (duplicate rows are
    fine — the first round's min-groupBy resolves them; ``ids`` itself
    is then never evaluated). The fixpoint is unchanged as long as
    every seed is a MEMBER id of the node's own component that is ≤
    the node's id (labels only decrease pointwise, and a valid member
    label can never undershoot the component minimum) — exactly what a
    previous run's min-id labels are. Starting at the old minima
    instead of identity saves one full propagation round per ingest
    (r15, guide §1.2: fewer passes), and skipping the identity build
    drops the ids-side union+distinct exchange with it.
    """
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .cache()  # re-read every round; rows are two ids
    )
    if seed_labels is not None:
        labels = seed_labels.select(F.col(id_col), F.col("group_id"))
    else:
        labels = ids.select(F.col(id_col), F.col(id_col).alias("group_id"))

    # Min-label propagation only DECREASES labels pointwise (each round
    # takes a min over a superset that includes the old label), so the
    # exact label sum strictly decreases until the fixpoint — sum
    # equality is a JOIN-FREE convergence check (one agg action per
    # round vs the former labels⋈labels diff-count; DECIMAL(38,0) keeps
    # the sum exact at any id scale).
    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("group_id").cast("decimal(38,0)"))
        ).collect()[0][0]

    # No pre-loop baseline action (r16): the first round's sum IS the
    # baseline — monotone decrease means sum(r_k) == sum(r_{k-1}) still
    # detects the fixpoint exactly, one driver action earlier per call.
    # The seed/identity frame is materialized by round 1's own action
    # (its lazy checkpoint persists on first compute, so the two
    # consumers inside that round still compute it once).
    prev = None
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed(id_col, "src"), "src"
        ).select(F.col("dst").alias(id_col), "group_id")
        # LAZY localCheckpoint + sum = ONE action per round (r16): the
        # convergence sum doubles as the materializing action (the
        # eager variant spent a dedicated job per round on the
        # checkpoint, then a second on the sum). Lineage truncation is
        # unchanged — the plan becomes a LogicalRDD either way, which
        # is what keeps a loop of self-referencing joins from stacking
        # an exponentially growing plan (a plain persist OOMs here).
        new_labels = (
            labels.union(prop)
            .groupBy(id_col)
            .agg(F.min("group_id").alias("group_id"))
            .localCheckpoint(eager=False)
        )
        cur = label_sum(new_labels)
        labels = new_labels
        if cur == prev:
            break
        prev = cur
    return labels


def _incremental_group_subgraph(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sub_ids, sub_pairs, members) for :func:`dedup_groups_incremental`
    — the touched-component reduction. ``members`` is the old label
    rows of the touched components (batch-bounded), returned so the
    propagation can seed from them. Old min-id labels ARE the old
    components (each is the star doc↔group_id, connectivity-equivalent
    to the old pair graph), so the only edges that need propagation are
    the batch's new pairs plus the stars of the components those pairs
    touch. Both probe joins are BROADCAST left-semi on batch-sized key
    sets — the untouched corpus labels are scanned but never shuffled,
    and the propagation loop downstream sees touched-component + batch
    nodes only."""
    # materialize once: the pairs plan (shingle→probe when fed from
    # minhash_pairs_incremental) is consumed by the touched-key
    # broadcast, the subgraph edge union, AND every propagation round —
    # unmaterialized it re-derives per consumer (measured 24.6 s vs
    # 4.5 s warm at sf0.1). Batch-bounded rows, so the checkpoint is
    # cheap by construction. LAZY (r16): the first consumer — the
    # touched-key broadcast chain under the seed convergence sum —
    # materializes it in its own job instead of a dedicated one.
    new_pairs = new_pairs.localCheckpoint(eager=False)
    pair_ids = (
        new_pairs.select(F.col("a_id").alias(id_col))
        .union(new_pairs.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    touched = (
        old_labels.join(F.broadcast(pair_ids), id_col, "left_semi")
        .select("group_id")
        .distinct()
    )
    members = old_labels.join(F.broadcast(touched), "group_id", "left_semi")
    star = members.filter(F.col(id_col) != F.col("group_id")).select(
        F.col(id_col).alias("a_id"), F.col("group_id").alias("b_id")
    )
    sub_ids = (
        members.select(id_col).union(new_ids.select(id_col)).distinct()
    )
    sub_pairs = new_pairs.select("a_id", "b_id").union(star)
    return sub_ids, sub_pairs, members


def dedup_groups_incremental(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Incremental duplicate-GROUP maintenance — the step after
    :func:`minhash_pairs_incremental` that folds a batch's new candidate
    pairs into the persisted component labels without re-running
    connected components over the corpus.

    ``old_labels`` is the persisted (id_col, group_id) table from the
    previous run (group_id = min doc id in component — exactly what
    :func:`dedup_groups` emits; it must cover every previously-ingested
    doc). ``new_pairs`` are the batch's candidate pairs (every pair has
    ≥1 batch member); ``new_ids`` one row per batch doc. Returns
    (id_col, group_id) for every doc in a component CONTAINING A BATCH
    DOC — updated old members (components can merge through a batch
    doc; the new label is the min id over the merged set, consistent
    with a from-scratch rerun because old labels are genuine member
    ids) plus all batch docs (collision-free ones as singletons).
    Rows outside the output are untouched: (old_labels minus output's
    ids) ∪ output == the full recompute over corpus+batch.

    Cost ∝ touched components, not corpus: see
    :func:`_incremental_group_subgraph` for the broadcast-probe shape;
    the min-label propagation then runs on the subgraph only.
    """
    sub_ids, sub_pairs, members = _incremental_group_subgraph(
        old_labels, new_pairs, new_ids, id_col
    )
    # seed with the touched components' persisted labels (members —
    # batch-bounded, never the corpus label table) plus identity rows
    # for the batch: old members start at their component minimum (a
    # valid member id ≤ their own), so the first propagation round no
    # longer re-derives what the last run already knew — one fewer
    # round per ingest, same fixpoint; handing a COMPLETE seed table
    # also skips the identity build's union+distinct exchange (see
    # dedup_groups seed_labels). members ∪ new_ids is exactly
    # sub_ids' node set, so the output population is unchanged.
    # pinned: the seed table is read by the initial convergence sum,
    # the first round's propagation join AND its union — unpinned, the
    # members broadcast-probe lineage re-executes for each. LAZY
    # checkpoint (r16): dedup_groups' initial convergence sum is the
    # first consumer and materializes it in the same action the old
    # eager localCheckpoint spent a dedicated job on (batch-bounded
    # rows, truncation unchanged)
    seeds = members.select(F.col(id_col), F.col("group_id")).union(
        new_ids.select(F.col(id_col), F.col(id_col).alias("group_id"))
    ).localCheckpoint(eager=False)
    return dedup_groups(
        sub_ids, sub_pairs, id_col, max_iter, seed_labels=seeds
    )


def dedup_groups_star(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round twin of :func:`dedup_groups`.

    Same contract: (id_col, group_id) with ``group_id = min(doc id in the
    component)``; singletons keep their own id. Min-label propagation
    converges in diameter(G) rounds — fine for blob-shaped duplicate
    clusters, pathological on chain-shaped ones (a 10k-link chain of
    pairwise near-dups needs 10k join rounds). Each star round instead
    re-hooks every node to the minimum of its whole neighborhood, so
    component height roughly halves per round pair and convergence is
    O(log n) regardless of topology — the variant that matters for 100 TB
    corpora where one boilerplate template chains millions of docs.

      * large-star: over the symmetric closure, every neighbor v > u
        re-hooks to m = min(N(u) ∪ {u}).
      * small-star: on the hi→lo oriented edges, every node of
        N(u) ∪ {u} re-hooks to m = min(N(u) ∪ {u}).

    Plan shape per round: neighborhood minima via groupBy-min (MAP-SIDE
    combined — a duplication hub with 10⁹ neighbors collapses to one row
    per input partition before the shuffle, where a window-min would
    funnel and sort the whole neighborhood in one task) joined back onto
    the edges (streaming hash join, AQE-skew-splittable), then distinct;
    edges are lazily ``localCheckpoint``-ed each round (truncating the
    join-loop lineage, which references the previous round ~8×) and the
    convergence fingerprint is the SAME action that materializes the
    checkpoint — one job per round (r16). Convergence =
    (count, xor-of-xxhash64) fingerprint equality — two cheap aggs, no
    symmetric-difference join. The same per-round convergence action
    any iterative algorithm (Lloyd's, label propagation) performs.
    """
    # canonical hi→lo orientation; self-loops dropped. LAZY checkpoint:
    # the fingerprint action materializes it in the same job (r16, same
    # discipline as dedup_groups — the convergence check IS the
    # materializing action; truncation itself must stay, each round
    # references the previous plan ~8 times)
    edges = (
        pairs.select(
            F.greatest("a_id", "b_id").alias("u"),
            F.least("a_id", "b_id").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # No pre-loop baseline action (r16, same as dedup_groups): the star
    # rounds are idempotent at the fixed point, so fp(r_k) == fp(r_{k-1})
    # detects convergence without fingerprinting the input first; the
    # input checkpoint materializes under round 1's own action.
    fp = None
    converged = False
    for _ in range(max_iter):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(lmins, "u")
            .withColumn("m", F.least(F.col("u"), F.col("mn")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star input is hi→lo oriented (m <= u < v above), so
        # min(N(u) ∪ {u}) is simply min(v) per u
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        with_m = large.join(smins, "u")
        small = (
            with_m.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(with_m.select("u", F.col("m").alias("v")).distinct())
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_fp = fingerprint(small)
        edges = small
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # the final min-per-u label read below is only valid on a star
        # forest (the fixed point) — returning early labels would be
        # silently wrong, unlike the propagation variant whose partial
        # labels are at least self-consistent
        raise RuntimeError(
            f"dedup_groups_star did not converge in {max_iter} rounds; "
            "raise max_iter (O(log n) rounds suffice for any topology)"
        )

    # at the fixed point the edge set is a forest of stars hi → component-min
    labels = edges.groupBy("u").agg(F.min("v").alias("group_id"))
    return (
        ids.select(id_col)
        .join(labels.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("group_id", F.col(id_col)).alias("group_id"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    dim: int | None = None,
    n_planes: int = 8,
) -> DataFrame:
    """Pairs (a_id < b_id, cosine) with cosine ≥ threshold.

    ``use_lsh=True`` restricts comparison to same-LSH-bucket pairs (the
    scale path — recall<1 contract); default is the exact quadratic
    self-join (fine at test SF, the oracle-checkable path). The default
    emits a warning at plan-build time: O(N²) pairs do not survive a
    large corpus — flip to LSH beyond ~100k vectors."""
    if not use_lsh:
        import warnings

        warnings.warn(
            "embedding_neardup_pairs(use_lsh=False) builds an O(N^2) "
            "crossJoin — exact/oracle path only; use use_lsh=True at scale",
            stacklevel=2,
        )
    # norms precomputed per VECTOR (not per pair): the pairwise stage then
    # evaluates one dot per pair instead of dot + two norm aggregates —
    # 3× less HOF work on the O(N²)/bucketed pair set. Same cosine formula
    # bit-for-bit: dot / ((‖a‖+eps)·(‖b‖+eps)).
    base = df.select(
        F.col(id_col), F.col(vec_col), V.l2_norm(vec_col).alias("_n")
    )
    if use_lsh:
        assert dim is not None
        # cached: the hyperplane-dot bucketing is O(n_planes·dim) per row
        # and feeds both self-join sides (no cross-side exchange reuse)
        base = base.withColumn(
            "bucket", V.hyperplane_sign_bucket(vec_col, dim, n_planes)
        ).cache()
        join_cond = ["bucket"]
        a = base.select(
            *join_cond,
            F.col(id_col).alias("a_id"),
            F.col(vec_col).alias("va"),
            F.col("_n").alias("na"),
        )
        b = base.select(
            *join_cond,
            F.col(id_col).alias("b_id"),
            F.col(vec_col).alias("vb"),
            F.col("_n").alias("nb"),
        )
        pairs = a.join(b, join_cond).filter(F.col("a_id") < F.col("b_id"))
    else:
        base = base.cache()  # feeds both crossJoin sides
        a = base.select(
            F.col(id_col).alias("a_id"),
            F.col(vec_col).alias("va"),
            F.col("_n").alias("na"),
        )
        b = base.select(
            F.col(id_col).alias("b_id"),
            F.col(vec_col).alias("vb"),
            F.col("_n").alias("nb"),
        )
        pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    cos = V.dot("va", "vb") / (
        (F.col("na") + F.lit(V.EPS)) * (F.col("nb") + F.lit(V.EPS))
    )
    return pairs.select(
        "a_id", "b_id", cos.alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def dedup_survivors(
    docs: DataFrame,
    groups: DataFrame,
    quality_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical-document selection per duplicate group — the step that
    turns group assignments into an actual deduplicated corpus: keep the
    highest-quality member (default quality = text length, the common
    keep-the-longest heuristic), ties broken by min id.

    ``groups`` carries (id, group_id) from :func:`dedup_groups`. Returns
    (id, group_id, keep); ``filter(keep)`` yields exactly one survivor per
    group (singletons survive trivially). One window shuffle on group_id —
    group sizes are duplicate-cluster sizes, naturally small; a
    pathological giant cluster is a data bug upstream, not a plan hazard.
    """
    from pyspark.sql import Window

    q = (
        docs.select(id_col, F.col(quality_col).alias("_q"))
        if quality_col
        else docs.select(id_col, F.length(text_col).alias("_q"))
    )
    w = Window.partitionBy("group_id").orderBy(F.desc("_q"), F.asc(id_col))
    return (
        groups.join(q, id_col)
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "group_id", "keep")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — flag training docs that share any word
    n-gram with an evaluation/benchmark set (the GPT-3/PaLM-style 'remove
    eval overlap from pretraining data' step). Returns (id,
    n_contaminated_grams, contaminated); filter ``~contaminated`` for the
    clean corpus, or join the flag back for auditing.

    Plan shape: benchmark n-grams (distinct) are BROADCAST — eval sets are
    tiny next to a pretraining corpus — so the corpus side is one map-side
    semi-join of its exploded distinct shingles, then a groupBy(id) count.
    No corpus-×-benchmark shuffle; corpus rows never leave their
    partitions until the per-doc count aggregation.
    """
    bench_grams = (
        benchmark.select(
            F.explode(TXT.shingles(TXT.tokenize(bench_text_col), n)).alias("g")
        ).distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(TXT.shingles(TXT.tokenize(text_col), n)).alias("g"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_contaminated_grams", F.lit(0)).alias(
            "n_contaminated_grams"
        ),
        (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def simhash_candidate_pairs(
    sketches: DataFrame,
    bits: int = 32,
    n_blocks: int = 4,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    sketch_col: str = "simhash",
) -> DataFrame:
    """Hamming-near pairs from SimHash sketches via block banding — the
    pigeonhole trick that makes SimHash usable without all-pairs: split the
    ``bits``-bit sketch into ``n_blocks`` equal blocks and equi-join on any
    identical block. Two sketches within Hamming distance ``n_blocks - 1``
    MUST share at least one exact block (pigeonhole), so recall is total up
    to that distance; block collisions beyond it are filtered by the exact
    popcount predicate.

    Returns (a_id, b_id, hamming) with a_id < b_id and hamming ≤
    ``max_hamming`` (default ``n_blocks - 1``, the guaranteed-recall
    radius). Candidate dedup across multi-block collisions is a distinct
    on the pair — same banding shape as MinHash-LSH
    (minhash_candidate_pairs)."""
    if bits % n_blocks != 0:
        raise ValueError(f"{bits=} must divide into {n_blocks=}")
    if max_hamming is None:
        max_hamming = n_blocks - 1
    width = bits // n_blocks
    mask = (1 << width) - 1

    blocks = sketches.select(
        F.col(id_col),
        F.col(sketch_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright(F.col(sketch_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("_b"),
    ).select(
        id_col, sketch_col, F.col("_b.block").alias("block"), F.col("_b.key").alias("key")
    )
    a = blocks.select(
        F.col(id_col).alias("a_id"),
        F.col(sketch_col).alias("a_sketch"),
        "block",
        "key",
    )
    b = blocks.select(
        F.col(id_col).alias("b_id"),
        F.col(sketch_col).alias("b_sketch"),
        "block",
        "key",
    )
    pairs = (
        a.join(b, ["block", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sketch", "b_sketch")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("a_sketch").bitwiseXOR(F.col("b_sketch"))
    ).alias("hamming")
    return pairs.select("a_id", "b_id", hamming).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# ---------------------------------------------------------------------------


# Encoder auto-dispatch boundary (VERDICT r12 task 4), in expression
# TERMS = dim × n_clusters — the size of the interpreted/codegen'd
# assignment expression tree, the thing that actually grows. The expr
# twin's cost is dominated by driver-side analysis + codegen compile,
# LINEAR in terms and data-size-independent; the BLAS twin is flat.
# Measured on this host (sf0.1 embeddings, warm lanes, r13 calibration;
# 10× rows change nothing because the cliff is plan compile, not data):
#   terms   512 (c8·d64):   expr 0.88 s  pd 0.33 s
#   terms  2048 (c32·d64):  expr 1.69 s  pd 0.37 s
#   terms  8192 (c128·d64): expr 5.39 s  pd 0.38 s
#   terms 40960 (c640·d64): expr 89.2 s  pd 0.87 s (assignment stage)
# Below the boundary expr keeps the zero-Python-worker property at
# negligible cost (pd pays worker spawn on a cold one-shot run); above
# it the compile time is pure loss. SemDeDup's prescribed usage scales
# n_clusters with the corpus (50k clusters at web scale) — at 100 TB
# the auto path always lands on BLAS.
SEMANTIC_ENCODER_PD_TERMS = 1024


def choose_semantic_encoder(dim: int, n_clusters: int) -> str:
    """Pick the cluster-assignment encoder for ``semantic_dedup``:
    ``"pd"`` (Arrow-batched BLAS matmul) when the assignment expression
    would exceed :data:`SEMANTIC_ENCODER_PD_TERMS` terms, ``"expr"``
    (whole-stage-codegen fold) below. Zero recall/value change — the
    twins are bit-identical by the quantize-before-argmax contract
    (see :func:`semantic_clusters_pd`), so this is purely a cost
    dispatch, same pattern as ``events.choose_sessionize_strategy``."""
    return "pd" if dim * n_clusters > SEMANTIC_ENCODER_PD_TERMS else "expr"


def semantic_clusters(
    df: DataFrame,
    dim: int,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Argmax-cosine cluster assignment over normalized embeddings:
    (id, cluster, _nv). Quantize-before-argmax (knn.ASSIGN_SCALE: dots
    keyed by floor(dot*1e12 + 0.5)) with first-occurrence tie-break
    (array_position of array_max — the oracle mirrors with ORDER BY
    floor(dot*1e12 + 0.5) DESC, cid ASC), so exact ties resolve
    identically across the expression fold, the BLAS twin, and the
    DuckDB oracle (decimal ROUND would not: its midpoint rule differs
    per engine — see knn.ASSIGN_SCALE).
    CACHED via plan_cache.tracked_cache: it feeds both sides of the
    pair self-join and the survivor anti-join, and the centroid-dot
    stage is the per-row expensive part. Inside a registered plan build
    the handle is owned (and evicted) by the plan-cache entry; outside
    one the caller owns the returned frame's lifecycle (unpersist when
    done on a long-lived driver)."""
    from clinical_vector_search_spark.plan_cache import tracked_cache

    return tracked_cache(
        _assignment_frame(
            df, dim, n_clusters, id_col, vec_col, centroids, encoder="expr"
        )
    )


def _assignment_frame(
    df: DataFrame,
    dim: int,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    encoder: str | None = None,
) -> DataFrame:
    """UNCACHED (id, _nv, cluster) assignment frame — the shared core of
    :func:`semantic_clusters` / :func:`semantic_clusters_pd` (which add
    the multi-consumer ``tracked_cache``) and the maintained semantic
    index's write-only ingest path (:func:`semantic_index_add`), which
    must NOT cache: a ``foreachBatch`` sink caching every micro-batch
    would accumulate executor-storage blocks for the stream's lifetime.
    ``encoder=None`` resolves via :func:`choose_semantic_encoder`
    (expression fold below the measured dim×n_clusters boundary, BLAS
    matmul above); both paths are bit-identical by the
    quantize-before-argmax contract."""
    if encoder is None:
        encoder = choose_semantic_encoder(dim, n_clusters)
    if encoder not in ("expr", "pd"):
        raise ValueError(f"encoder must be 'expr' or 'pd', got {encoder!r}")
    base = df.select(F.col(id_col), V.l2_normalize(vec_col).alias("_nv"))
    if encoder == "expr":
        from clinical_vector_search_spark.operators.knn import (
            _centroid_assign,
            _centroid_dots,
        )

        dots = _centroid_dots("_nv", dim, n_clusters, centroids)
        return base.withColumn("cluster", _centroid_assign(dots))

    import numpy as np
    import pandas as pd

    from clinical_vector_search_spark.operators.knn import (
        ASSIGN_SCALE,
        _centroid_matrix,
    )

    C = np.array(
        centroids or _centroid_matrix(dim, n_clusters), dtype="float64"
    )
    id_type = base.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, _nv array<double>, cluster int"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["_nv"].tolist(), dtype="float64")
            cl = np.argmax(
                np.floor(X @ C.T * ASSIGN_SCALE + 0.5), axis=1
            ).astype("int32")
            yield pd.DataFrame(
                {id_col: pdf[id_col], "_nv": pdf["_nv"], "cluster": cl}
            )

    return base.mapInPandas(assign, schema)


def semantic_clusters_pd(
    df: DataFrame,
    dim: int,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """BLAS twin of :func:`semantic_clusters` — same (id, _nv, cluster)
    frame, but the argmax-centroid assignment runs as one ``X @ Cᵀ``
    matmul per Arrow batch instead of an interpreted
    O(n_clusters·dim)-per-row fold expression. The 10× scale probe
    measured WHY this exists: at 640 clusters the interpreted
    assignment dominated the whole dedup (43.8 s vs 13.1 s at 64 —
    growing with cluster count, exactly the dimension SemDeDup scales,
    50k clusters at web scale).

    Parity contract: ``_nv`` is computed by the canonical expression
    BEFORE the pandas stage (Arrow fp64 passthrough is exact), so every
    downstream canonical dot over ``_nv`` stays bit-identical to the
    expression path; the centroid DOTS use BLAS summation, whose
    ulp-level reassociation differs from the expression fold — so both
    paths apply the quantize-before-argmax rule (knn.ASSIGN_SCALE):
    the floor(·*1e12 + 0.5) key collapses the ulp noise and any residual
    exact tie goes to the FIRST max (= smallest cluster id) under both
    np.argmax and array_position. Asserted equal to the expression twin on the
    testdata AND property-tested against a NumPy reference
    (tests/test_property.py)."""
    from clinical_vector_search_spark.plan_cache import tracked_cache

    return tracked_cache(
        _assignment_frame(
            df, dim, n_clusters, id_col, vec_col, centroids, encoder="pd"
        )
    )


def semantic_dedup_pairs(
    df: DataFrame | None,
    dim: int | None,
    threshold: float = 0.35,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
    max_cluster_rows: int | None = 4096,
) -> DataFrame:
    """Within-cluster near-duplicate pairs, the SemDeDup shape (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): assign every embedding to its
    argmax-cosine centroid, then compare pairs ONLY inside a cluster.
    Returns (a_id < b_id, cluster, cosine) with cosine ≥ ``threshold``.

    Scale shape: the cluster id buckets the quadratic stage exactly like
    the LSH bucket in :func:`embedding_neardup_pairs` — the join
    shuffles on ``cluster`` and each task compares one cluster's rows,
    so total work is Σ|c|² over clusters, not N². At 100 TB you raise
    ``n_clusters`` so E[|c|] stays ~O(10⁴) (the paper uses 50k clusters
    for 5B embeddings) and pass ``centroids`` from
    :func:`~clinical_vector_search_spark.operators.knn.kmeans_centroids`
    (trained on a hash-sample) so cluster sizes stay balanced.
    ``centroids=None`` uses the deterministic md5 matrix (reproducible,
    the oracle-twin default). ``assigned`` reuses a
    :func:`semantic_clusters` frame (so a caller computing survivors too
    pays the centroid-dot stage once).

    Hot-cluster guard (AUTOMATED — a mega-cluster is the skew risk
    here, and trained centroids only mitigate it): the operator probes
    cluster sizes with one n_clusters-row count (same cheap
    histogram-dispatch pattern as ``choose_sessionize_strategy``) and,
    when any cluster exceeds ``max_cluster_rows``, switches that join to
    the exact block self-join decomposition in
    :func:`_semantic_pairs_salted` — per-task pair count stays ~
    ``max_cluster_rows²`` regardless of cluster size, with NO recall
    change (every pair still compared exactly once). Pass
    ``max_cluster_rows=None`` to skip the probe (e.g. when sizes are
    known-balanced and the extra count job matters).

    Recall contract: a true near-dup pair straddling a cluster boundary
    is missed (same recall<1 contract as LSH near-dup; the paper accepts
    this by design — ε-balls live inside clusters).
    """
    if assigned is None:
        if df is None or dim is None:
            raise ValueError(
                "semantic_dedup_pairs needs either (df, dim) to assign "
                "clusters or a precomputed `assigned` frame"
            )
        assigned = semantic_clusters(
            df, dim, n_clusters, id_col, vec_col, centroids
        )
    if max_cluster_rows is not None:
        # Bounded probe: one aggregate job over the (cached) assignment,
        # result is ≤ n_clusters rows on the driver.
        sizes = {
            r["cluster"]: r["count"]
            for r in assigned.groupBy("cluster").count().collect()
        }
        if any(c > max_cluster_rows for c in sizes.values()):
            n_salts = {
                k: -(-c // max_cluster_rows) for k, c in sizes.items()
            }
            return _semantic_pairs_salted(
                assigned, threshold, n_salts, id_col
            )
    a = assigned.select(
        "cluster", F.col(id_col).alias("a_id"), F.col("_nv").alias("_va")
    )
    b = assigned.select(
        "cluster", F.col(id_col).alias("b_id"), F.col("_nv").alias("_vb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", "cluster", V.dot("_va", "_vb").alias("cosine")
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def _with_salt_counts(
    assigned: DataFrame, n_salts: dict[int, int]
) -> DataFrame:
    """Attach the per-cluster salt count ``_s``: a literal map (zero
    extra operators, stays inside codegen) while the cluster count is
    small; past 1000 clusters a broadcast join on a tiny (cluster, _s)
    frame — a 50k-entry ``create_map`` literal would bloat the codegen
    expression tree far past what a hash join costs."""
    if len(n_salts) <= 1000:
        smap = F.create_map(
            *[F.lit(int(x)) for kv in sorted(n_salts.items()) for x in kv]
        )
        return assigned.withColumn("_s", smap[F.col("cluster")])
    sdf = assigned.sparkSession.createDataFrame(
        sorted((int(k), int(v)) for k, v in n_salts.items()),
        "cluster int, _s int",
    )
    return assigned.join(F.broadcast(sdf), "cluster")


def _semantic_pairs_salted(
    assigned: DataFrame,
    threshold: float,
    n_salts: dict[int, int],
    id_col: str,
) -> DataFrame:
    """Exact block self-join for oversized clusters: split a cluster of
    |c| rows into s = ceil(|c| / max_rows) salt buckets by
    ``pmod(xxhash64(id), s)`` and realize the |c|² comparison as the
    s(s+1)/2 block pairs (i ≤ j). A row in bucket p is replicated to
    the a-side of tasks (i=p, j ∈ [p, s-1]) and the b-side of tasks
    (i ∈ [0, p], j=p), so every unordered pair meets in EXACTLY one
    (cluster, i, j) task — same output as the plain path (no recall
    loss, a property test asserts equality), but per-task pair count is
    bounded by ~max_rows² instead of |c|². The join stays a hash
    equi-join on (cluster, _i, _j); replication factor per row is s —
    linear in the split, the price of bounding the quadratic.

    Orientation: a cross-bucket pair (i < j) meets once in a FIXED a/b
    orientation (bucket membership, not id order, picks the side), so
    the id-order filter applies only to within-bucket (i == j) tasks —
    where both orientations meet — and cross-bucket output is
    normalized with least/greatest instead.

    ``n_salts`` maps cluster → s (from the caller's size probe),
    attached via :func:`_with_salt_counts` — a literal map (pure
    map-side) for small cluster counts, a broadcast join past 1000
    clusters (a 50k-entry literal map would blow up the codegen
    expression tree)."""
    base = _with_salt_counts(assigned, n_salts).withColumn(
        "_p", F.pmod(F.xxhash64(F.col(id_col)), F.col("_s")).cast("int")
    )
    a = base.select(
        "cluster",
        F.col("_p").alias("_i"),
        F.explode(F.sequence(F.col("_p"), F.col("_s") - 1)).alias("_j"),
        F.col(id_col).alias("a_id"),
        F.col("_nv").alias("_va"),
    )
    b = base.select(
        "cluster",
        F.explode(F.sequence(F.lit(0), F.col("_p"))).alias("_i"),
        F.col("_p").alias("_j"),
        F.col(id_col).alias("b_id"),
        F.col("_nv").alias("_vb"),
    )
    return (
        a.join(b, ["cluster", "_i", "_j"])
        .filter(
            (F.col("_i") != F.col("_j")) | (F.col("a_id") < F.col("b_id"))
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "cluster",
            V.dot("_va", "_vb").alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    accel: str = "auto",
) -> DataFrame:
    """Semantic-dedup survivors: drop every row that has a
    smaller-id near-duplicate (cosine ≥ threshold) in its cluster.
    Returns (id, cluster) for the kept rows.

    The keeper rule is greedy-by-id: the paper keeps one exemplar per
    ε-ball (random, or farthest-from-centroid); smallest-id is the
    deterministic analogue, chosen so the result is reproducible and
    SQL-checkable. The prune is one left-anti join of the id set against
    the ``b_id`` side of :func:`semantic_dedup_pairs` — ids only, no
    vectors shuffled in the prune stage. The cluster assignment is
    computed ONCE (shared cached frame feeding the pair join and the
    survivor side).

    ``accel="auto"`` (default) resolves via
    :func:`choose_semantic_encoder` — expression encoder below the
    measured dim×n_clusters boundary, BLAS above (r12 scale probe: the
    interpreted assignment took 160.8 s at 640 clusters/10× where the
    BLAS pipeline took 35.6 s). All three settings produce identical
    rows (parity pytest)."""
    if accel == "auto":
        accel = choose_semantic_encoder(dim, n_clusters)
    cluster_fn = semantic_clusters_pd if accel == "pd" else semantic_clusters
    assigned = cluster_fn(df, dim, n_clusters, id_col, vec_col, centroids)
    if accel == "pd":
        # BLAS end-to-end: mapInPandas argmax assignment (see
        # semantic_clusters_pd — assignment is the measured bottleneck
        # at high cluster counts) + per-cluster matmul pairs
        # (bit-identical via canonical rescore); one shared cached
        # assignment frame, one cache handle.
        pairs = semantic_dedup_pairs_pd(
            df, dim, threshold, n_clusters, id_col, vec_col, centroids,
            assigned=assigned,
        )
    else:
        pairs = semantic_dedup_pairs(
            df, dim, threshold, n_clusters, id_col, vec_col, centroids,
            assigned=assigned,
        )
    pruned = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return assigned.select(id_col, "cluster").join(pruned, id_col, "left_anti")


def soft_dedup_weights(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """SoftDeDup-style sampling reweighting (He et al. 2024, "SoftDedup:
    an Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training"): instead of REMOVING near-duplicates — which throws
    away the unique long tail inside mostly-duplicated documents — keep
    every document and DOWN-WEIGHT duplicated content for the training
    sampler. A document's ``commonness`` is the mean corpus document
    frequency of its distinct n-token shingles (1.0 = every shingle
    unique to this doc; large = boilerplate shared corpus-wide); its
    sampling ``weight`` is ``1/commonness``, rounded for cross-engine
    hash stability. Returns (id, n_shingles, commonness, weight) for
    every doc with at least one shingle (docs shorter than ``n`` tokens
    have no duplication signal and are excluded — feed them weight 1
    downstream).

    Scale shape: one shingle-granularity self-frequency join (exploded
    distinct shingles ⋈ their df — linear in corpus shingles, shuffled
    on the shingle key exactly like the MinHash band joins) and one
    doc-key aggregate; no pairwise stage at all, which is the point —
    the paper's reweighting needs only per-shingle frequencies, never
    candidate pairs, so it scales past where even banded pair
    enumeration hurts. Complements (does not replace) the hard dedup
    family: exact/MinHash dedup drops byte-near-identical copies,
    this reweights the soft middle of the duplication spectrum."""
    sh = docs.select(
        F.col(id_col),
        # TXT.shingles is already distinct-per-doc, so gdf counts DOCS
        F.explode(TXT.shingles(TXT.tokenize(text_col), n)).alias("g"),
    )
    df_g = sh.groupBy("g").agg(F.count(F.lit(1)).alias("gdf"))
    return (
        sh.join(df_g, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(F.avg("gdf"), round_to).alias("commonness"),
            F.round(F.lit(1.0) / F.avg("gdf"), round_to).alias("weight"),
        )
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    m: int = 1 << 16,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the scale path of
    :func:`decontaminate`. Same output shape (id, n_flagged_grams,
    contaminated), but instead of broadcasting the raw benchmark shingle
    SET, the benchmark is compressed into an m-bit / k-hash Bloom bitmap
    and the corpus probes it entirely map-side.

    Why this matters at 100 TB: a full eval-suite shingle set can run
    tens of GB (unbroadcastable); at ~10 bits/key the bitmap is ~1.25 GB
    per 10⁹ shingles — shippable to every executor — and the probe is a
    constant-array bit test inside whole-stage codegen, zero shuffles
    until the per-doc count. The price is false positives
    (≈ (1 - e^(-kn/m))^k, ~2.4% at 8 bits/key k=4): flagged docs are a
    SUPERSET of the exact operator's — conservative in the right
    direction for decontamination. The FP set itself is deterministic
    (md5 positions), so results — including FPs — are reproducible and
    oracle-checkable in any md5-capable engine.

    The bitmap is collected to the driver at plan-build time (bounded:
    m/32 longs — 32-bit words, see bloom_words_array) and inlined as a
    literal array — the same
    build-once-probe-many artifact lifecycle as the BM25/vector indexes;
    persist the (word_idx, word) frame via io.tables for reuse across
    jobs.
    """
    from clinical_vector_search_spark.functions.hashing import (
        bloom_build,
        bloom_probe,
        bloom_words_array,
    )

    bench_grams = benchmark.select(
        F.explode(TXT.shingles(TXT.tokenize(bench_text_col), n)).alias("g")
    ).distinct()
    words = bloom_words_array(bloom_build(bench_grams, "g", m, k), m)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(TXT.shingles(TXT.tokenize(text_col), n)).alias("g"),
    )
    hits = (
        doc_grams.filter(bloom_probe("g", words, m, k))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).alias("n_flagged_grams"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    block_expr: Column,
    max_distance: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Entity-resolution candidate pairs: Levenshtein-close string keys
    compared only WITHIN a blocking key — the classic record-linkage
    blocking pattern (compare "J. Smith" vs "J Smith" without an N²
    scan). Returns (a_id < b_id, a_key, b_key, distance) with
    ``distance ≤ max_distance``.

    ``block_expr`` is any deterministic expression over the row (prefix,
    phonetic code, sorted-token key...); recall is bounded by it — two
    records in different blocks are never compared (the same recall<1
    contract as every bucketed dedup here). Scale shape: one shuffle on
    the block key, per-task work Σ|b|² over blocks — choose a blocking
    key whose hot block stays task-sized, exactly like the LSH/cluster
    buckets. Levenshtein runs JVM-side (built-in), no Python."""
    base = df.select(
        F.col(id_col), F.col(key_col).alias("_k"), block_expr.alias("_b")
    )
    a = base.select(
        F.col("_b"), F.col(id_col).alias("a_id"), F.col("_k").alias("a_key")
    )
    b = base.select(
        F.col("_b"), F.col(id_col).alias("b_id"), F.col("_k").alias("b_key")
    )
    return (
        a.join(b, "_b")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            "a_key",
            "b_key",
            F.levenshtein("a_key", "b_key").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def semantic_dedup_pairs_pd(
    df: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
    max_cluster_rows: int | None = 4096,
) -> DataFrame:
    """NumPy twin of :func:`semantic_dedup_pairs` — the benched scale
    path (SemDeDup at web scale runs per-cluster matmuls, not per-pair
    fold expressions): one ``applyInPandas`` per cluster computes the
    full within-cluster cosine matrix in BLAS, emits candidates at
    ``threshold - 1e-6``, and the surviving (≪ |c|²) pairs are RESCORED
    with the canonical expression dot — so the output is bit-identical
    to the expression path (same trick as kNN partial_topk's rescore;
    parity asserted in tests). Per-task memory is |c|² floats, bounded
    by the same cluster-size contract the operator already carries.

    Crossover note (measured at sf0.1): with ~78-vector clusters the
    extra groupBy shuffle + rescore joins cost MORE than the tiny
    matmuls save — the expression twin wins below roughly 10³ vectors
    per cluster. This path is for the SemDeDup regime proper (clusters
    of 10⁴+, where the fold path would evaluate 10¹⁰ interpreted dots).
    """
    import numpy as np
    import pandas as pd

    if assigned is None:
        assigned = semantic_clusters(
            df, dim, n_clusters, id_col, vec_col, centroids
        )
    eps = 1e-6

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        X = np.array(pdf["_nv"].tolist(), dtype="float64")
        ids = pdf[id_col].to_numpy()
        S = X @ X.T
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= (threshold - eps)
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"a_id": lo, "b_id": hi})

    n_salts = None
    if max_cluster_rows is not None:
        sizes = {
            r["cluster"]: r["count"]
            for r in assigned.groupBy("cluster").count().collect()
        }
        if any(c > max_cluster_rows for c in sizes.values()):
            n_salts = {
                k: -(-c // max_cluster_rows) for k, c in sizes.items()
            }
    if n_salts is not None:
        # Hot-cluster guard, BLAS flavor: the same exact block
        # decomposition as _semantic_pairs_salted, but each
        # (cluster, i, j) task runs ONE matmul — a triangle on the
        # a-side rows when i == j, an A@Bᵀ cross-block otherwise.
        # Per-task memory drops from |c|² to ~max_cluster_rows².
        base = _with_salt_counts(assigned, n_salts).withColumn(
            "_p",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_s")).cast("int"),
        )
        a_side = base.select(
            "cluster",
            F.col("_p").alias("_i"),
            F.explode(
                F.sequence(F.col("_p"), F.col("_s") - 1)
            ).alias("_j"),
            F.lit(0).alias("_side"),
            F.col(id_col),
            "_nv",
        )
        b_side = base.select(
            "cluster",
            F.explode(F.sequence(F.lit(0), F.col("_p"))).alias("_i"),
            F.col("_p").alias("_j"),
            F.lit(1).alias("_side"),
            F.col(id_col),
            "_nv",
        )

        def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
            _, i, j = key
            a_rows = pdf[pdf["_side"] == 0]
            if i == j:
                return cluster_pairs(a_rows)
            b_rows = pdf[pdf["_side"] == 1]
            if len(a_rows) == 0 or len(b_rows) == 0:
                return pd.DataFrame({"a_id": [], "b_id": []}).astype(
                    "int64"
                )
            A = np.array(a_rows["_nv"].tolist(), dtype="float64")
            B = np.array(b_rows["_nv"].tolist(), dtype="float64")
            S = A @ B.T
            ii, jj = np.nonzero(S >= (threshold - eps))
            a = a_rows[id_col].to_numpy()[ii]
            b = b_rows[id_col].to_numpy()[jj]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            return pd.DataFrame({"a_id": lo, "b_id": hi})

        cands = (
            a_side.unionByName(b_side)
            .groupBy("cluster", "_i", "_j")
            .applyInPandas(block_pairs, "a_id long, b_id long")
        )
    else:
        cands = assigned.groupBy("cluster").applyInPandas(
            cluster_pairs, "a_id long, b_id long"
        )
    slim = assigned.select(F.col(id_col), "_nv", "cluster")
    return (
        cands.join(
            slim.select(
                F.col(id_col).alias("a_id"),
                F.col("_nv").alias("_va"),
                "cluster",
            ),
            "a_id",
        )
        .join(
            slim.select(
                F.col(id_col).alias("b_id"), F.col("_nv").alias("_vb")
            ),
            "b_id",
        )
        .select(
            "a_id", "b_id", "cluster", V.dot("_va", "_vb").alias("cosine")
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    shingle_size: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering —
    same output contract as :func:`ngram_jaccard_pairs` (every pair with
    J ≥ ``threshold``, no misses, no extras) but candidate generation
    joins only each doc's PREFIX postings instead of all of them.

    Generalizes the reference's exact text dedup
    (src/pipeline/pipeline.py:67) to similarity-threshold joins that
    stay exact at scale (the MinHash path trades recall for speed; this
    one trades nothing and still avoids the full postings self-join).

    Why this is the 100 TB shape: ``ngram_jaccard_pairs`` self-joins the
    FULL posting list, so a corpus-universal shingle contributes
    df² candidate rows (df_cap drops such shingles — changing the
    semantics). Here every doc keeps only its
    ``|d| - ceil(τ·|d|) + 1`` rarest shingles (global order =
    (document-frequency asc, shingle asc)); the classic prefix-filter
    lemma guarantees any pair with J ≥ τ shares its globally-smallest
    common shingle within BOTH prefixes, so the prefix×prefix equi-join
    loses nothing. At τ=0.8 that is ~20% of postings on each side — a
    25× smaller join — and the rarest-first order means the surviving
    join keys are precisely the low-frequency ones. A length filter
    (min(|a|,|b|) ≥ ceil(τ·max(|a|,|b|)), necessary since
    common ≤ min and common ≥ τ·union ≥ τ·max) prunes candidates
    before verification. Verification is exact: candidates re-join the
    full postings to count the true intersection.

    Plan: tokenize/shingle map-side → one shingle-key shuffle for df →
    one doc-key window for prefix positions → prefix self-join →
    verify joins at candidate granularity. No CartesianProduct
    (plan-audited), no driver collects.

    Measured regimes (local[32]; honest cost note): the prefix path
    carries ~2× the stages of :func:`ngram_jaccard_pairs`, so on
    corpora whose shingles are mostly unique the plain postings join
    wins (sf0.1 documents, τ=0.5: 0.97 s full vs 5.2 s prefix — the
    df² term never materializes). The crossover is where Σ df² blows
    up: 24k docs sharing a 15-token boilerplate (13 corpus-universal
    shingles → ~3.7·10⁹ candidate rows for the full join) run in
    15.8 s here while the full join did not finish in 100 s — and the
    gap is quadratic-vs-linear from there. Rule of thumb: reach for
    this operator when heavy-hitter shingles exist and df_cap's
    drop-the-shingle semantics change is unacceptable; otherwise use
    the plain join.
    """
    from pyspark.sql import Window

    from clinical_vector_search_spark.plan_cache import tracked_cache

    tau = float(threshold)
    # Conservative float guard on every ⌈τ·n⌉: binary τ (0.8 is
    # 0.8000…0444) inflates τ·n past the exact integer (0.8·15 →
    # 12.000000000000002 → ceil 13), which SHORTENS the prefix below
    # the lemma's bound and over-tightens the length filter — both
    # directions MISS valid pairs (regression-tested with an exact
    # J = 12/15 = 0.8 pair). Subtracting an epsilon only ever makes
    # the prefix longer / the filter looser: correctness is one-sided.
    EPS = 1e-9

    def _ceil_tau(n):
        return F.ceil(F.lit(tau) * n - F.lit(EPS))

    sh = tracked_cache(
        TXT.shingle_rows(
            df, shingle_size, text_col, id_col, distinct=True
        ).withColumnRenamed(id_col, "doc")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    w = Window.partitionBy("doc").orderBy(F.asc("sdf"), F.asc("shingle"))
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("_pos", F.row_number().over(w))
        .join(sizes, "doc")
        .filter(
            F.col("_pos") <= F.col("n_sh") - _ceil_tau(F.col("n_sh")) + 1
        )
        .select("doc", "n_sh", "shingle")
    )
    a = pref.select(
        F.col("doc").alias("a_id"), F.col("n_sh").alias("na"), "shingle"
    )
    b = pref.select(
        F.col("doc").alias("b_id"), F.col("n_sh").alias("nb"), "shingle"
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (
                F.least("na", "nb")
                >= _ceil_tau(F.greatest("na", "nb"))
            )
        )
        .select("a_id", "b_id")
        .distinct()
    )
    common = (
        cand.join(sh.select(F.col("doc").alias("a_id"), "shingle"), "a_id")
        .join(
            sh.select(F.col("doc").alias("b_id"), "shingle"),
            ["b_id", "shingle"],
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.select(F.col("doc").alias("a_id"), F.col("n_sh").alias("na")),
            "a_id",
        )
        .join(
            sizes.select(F.col("doc").alias("b_id"), F.col("n_sh").alias("nb")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


def containment_pairs(
    df: DataFrame,
    shingle_size: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric containment C(A,B) = |A∩B| / |A| for every doc pair
    sharing ≥1 shingle — the superset-duplicate detector Jaccard misses:
    an article quoted whole inside a much longer page has tiny Jaccard
    (union is huge) but containment ≈ 1, which is exactly the
    wrapped-boilerplate / quoted-retraction shape in web corpora
    (Broder's "containment", the other half of the resemblance paper
    that gave us shingle Jaccard).

    Same postings-join skeleton as ngram_jaccard_pairs (one shingle
    equi-join, sizes joined back at pair granularity — never all-pairs);
    emits DIRECTED rows (a contained-in b AND b contained-in a are
    separate judgements), keeping only sides that clear ``threshold``.
    The symmetric max-containment dedup rule is a trivial consumer.
    ``df_cap`` is the same stopword-shingle skew guard.

    Output: (small_id, big_id, n_small, n_big, common, containment) with
    containment = common / n_small rounded to 6.
    """
    sh = TXT.shingle_rows(
        df, shingle_size, text_col, id_col, distinct=True
    ).withColumnRenamed(id_col, "doc")
    if df_cap is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
        sh = sh.join(freq.filter(F.col("sdf") <= df_cap), "shingle").select(
            "doc", "shingle"
        )
    sh = sh.cache()
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc").alias("a_id"), "shingle")
    b = sh.select(F.col("doc").alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    sized = common.join(
        sizes.withColumnRenamed("doc", "a_id").withColumnRenamed(
            "n_sh", "na"
        ),
        "a_id",
    ).join(
        sizes.withColumnRenamed("doc", "b_id").withColumnRenamed(
            "n_sh", "nb"
        ),
        "b_id",
    )
    # one undirected pair row -> up to two directed containment rows
    fwd = sized.select(
        F.col("a_id").alias("small_id"),
        F.col("b_id").alias("big_id"),
        F.col("na").alias("n_small"),
        F.col("nb").alias("n_big"),
        "common",
        F.round(F.col("common") / F.col("na"), 6).alias("containment"),
    )
    rev = sized.select(
        F.col("b_id").alias("small_id"),
        F.col("a_id").alias("big_id"),
        F.col("nb").alias("n_small"),
        F.col("na").alias("n_big"),
        "common",
        F.round(F.col("common") / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    partition_expr: Column,
    window_size: int = 3,
    max_distance: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo 1995):
    sort records by the match key and compare each record only with the
    next ``window_size − 1`` records — the OTHER classic blocking
    pattern, catching near-sorted-adjacent dups that a prefix block
    splits (``blocked_fuzzy_pairs``'s complement; production linkage
    runs both passes and unions candidates).

    The sort runs WITHIN ``partition_expr`` groups (e.g. first letter),
    not globally — a global window would serialize on one task (the
    rel_gini discipline). Pairs that straddle a partition boundary are
    missed, the documented multi-pass-SNM recall contract: vary the
    key/partition across passes to recover them.

    Scale shape: ONE shuffle on the partition key, window ``lead``s are
    expression-level (no self-join, no fan-out beyond w−1 rows per
    record), Levenshtein JVM-side. Ordering is total on
    (key, id) so candidate sets are engine-reproducible. Returns
    (a_id, b_id, a_key, b_key, offset, distance ≤ max_distance).
    """
    base = df.select(
        F.col(id_col).alias("a_id"),
        F.col(key_col).alias("a_key"),
        partition_expr.alias("_p"),
    )
    w = Window.partitionBy("_p").orderBy("a_key", "a_id")
    leads = base.select(
        "a_id",
        "a_key",
        *[
            F.lead("a_id", j).over(w).alias(f"_id{j}")
            for j in range(1, window_size)
        ],
        *[
            F.lead("a_key", j).over(w).alias(f"_k{j}")
            for j in range(1, window_size)
        ],
    )
    pairs = leads.select(
        "a_id",
        "a_key",
        F.explode(
            F.arrays_zip(
                F.array(*[F.col(f"_id{j}") for j in range(1, window_size)]),
                F.array(*[F.col(f"_k{j}") for j in range(1, window_size)]),
                F.array(*[F.lit(j) for j in range(1, window_size)]),
            )
        ).alias("p"),
    ).select(
        "a_id",
        "a_key",
        F.col("p.0").alias("b_id"),
        F.col("p.1").alias("b_key"),
        F.col("p.2").alias("offset"),
    )
    return (
        pairs.filter(F.col("b_id").isNotNull())
        .withColumn("distance", F.levenshtein("a_key", "b_key"))
        .filter(F.col("distance") <= max_distance)
        .select("a_id", "b_id", "a_key", "b_key", "offset", "distance")
    )


# --------------------------------------------------------------------------
# Maintained SemDeDup index — the fifth member of the shared
# maintained-index lifecycle protocol (BM25 / TF-IDF / trigram / IVF-PQ
# in operators/bm25.py, operators/sparse.py, operators/pq.py; contract
# suite tests/test_maintained_index.py). Closes the last one-shot dedup
# family: the reference re-embeds and re-clusters its whole corpus every
# run (src/pipeline/pipeline.py:90-136); at 100 TB you cannot re-cluster
# per ingest, so the (id, cluster, _nv) assignments persist as per-batch
# subdirectories, a new batch assigns map-side against the FROZEN
# centroids (the ivfpq_index_add pattern — zero joins, zero shuffle,
# cost ∝ batch), near-dup pairs are probed ONLY in the batch's own
# touched clusters (the minhash_pairs_incremental pattern — no old×old
# rescan), deletes are tombstones, and drift recovery is a leased
# retrain-and-reassign (the reindex_ivfpq pattern) with the centroids
# stamped as the _TRAINED.json sidecar atomic with the assignments.
# Already-emitted pairs stay VALID across a reindex: cosine is exact
# (geometry only gates candidate generation), so retraining improves
# future recall without invalidating history.
# --------------------------------------------------------------------------


def semantic_state_payload(centroids: list, dim: int) -> bytes:
    """JSON sidecar payload for a maintained semantic index: the frozen
    centroids plus the geometry that interprets the (id, cluster, _nv)
    rows. ``kind`` discriminates from the IVF-PQ payload so a reader
    pointed at the wrong index fails loudly instead of mis-serving."""
    import json

    return json.dumps(
        {
            "kind": "semantic",
            "centroids": [[float(x) for x in row] for row in centroids],
            "dim": int(dim),
            "n_clusters": len(centroids),
        }
    ).encode("utf-8")


def write_semantic_state(
    spark, index_path: str, centroids: list, dim: int
) -> None:
    """Stamp a maintained semantic index's frozen centroids as the
    hidden ``_TRAINED.json`` inside the assignments directory — same
    atomic publish + swap-carried placement as the IVF-PQ trained state
    (``io.tables.publish_sidecar``). Call once after choosing/training
    the centroids; :func:`reindex_semantic` re-stamps it atomically with
    the reassigned rows."""
    from clinical_vector_search_spark.io.tables import publish_sidecar

    publish_sidecar(spark, index_path, semantic_state_payload(centroids, dim))


def read_semantic_state(spark, index_path: str) -> dict | None:
    """Read the centroids stamped by :func:`write_semantic_state` /
    :func:`reindex_semantic`; None when the index carries no state file
    (the caller keeps the centroids itself — e.g. the deterministic md5
    matrix default). Raises on an IVF-PQ-kind sidecar: serving semantic
    assignments with PQ geometry would be silent garbage."""
    from clinical_vector_search_spark.operators.pq import read_trained_state

    st = read_trained_state(spark, index_path)
    if st is None:
        return None
    # the IVF-PQ payload predates the ``kind`` key — discriminate by
    # its codebooks when the key is absent
    kind = st.get("kind", "ivfpq" if "books" in st else "semantic")
    if kind != "semantic":
        raise ValueError(
            f"index at {index_path!r} carries a {kind!r} trained "
            "state, not a semantic one — wrong index directory?"
        )
    return st


def semantic_index_add(
    spark,
    new_vecs: DataFrame,
    batch_id: int,
    index_path: str,
    dim: int,
    n_clusters: int = 8,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoder: str | None = None,
    run_id: str | None = None,
) -> None:
    """Incremental semantic-index maintenance: fold a batch of new
    vectors into the persisted assignments table — normalized and
    argmax-assigned against the FROZEN centroids entirely map-side (the
    plan is one Project over the batch scan: zero joins, zero shuffle,
    no corpus rescan — the ``ivfpq_index_add`` shape), then appended as
    an idempotent batch-id-OVERWRITE subdirectory. Assignment is
    deterministic (ASSIGN_SCALE quantized argmax, first-max ties), so
    fold-in equals the one-shot :func:`semantic_clusters` rebuild
    restricted to batch rows — the oracle contract. ``encoder=None``
    dispatches expr/BLAS by cost (:func:`choose_semantic_encoder`);
    both are bit-identical. Read back with :func:`semantic_read_index`;
    storage is the shared sink half (``io.tables.open_batch`` /
    ``write_batch``)."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    bsub = open_batch(spark, "batch", run_id, batch_id, [index_path])
    asg = _assignment_frame(
        new_vecs, dim, n_clusters, id_col, vec_col, centroids, encoder
    )
    write_batch(spark, bsub, {index_path: asg})


def semantic_index_delete(
    spark,
    ids: DataFrame,
    batch_id: int,
    tombstone_path: str,
    id_col: str = "vec_id",
    run_id: str | None = None,
) -> None:
    """Delete half of the semantic-index lifecycle: tombstone the ids
    into their own idempotent batch subdirectory NEXT TO the
    assignments directory; :func:`semantic_read_index` filters them
    with a broadcast anti-join and physical erasure happens at the next
    ``io.tables.compact_tombstoned``. Identical protocol (and shared
    implementation) with ``pq.ivfpq_index_delete`` — tombstones are
    index-agnostic: distinct ids under a path."""
    from clinical_vector_search_spark.operators.pq import ivfpq_index_delete

    ivfpq_index_delete(spark, ids, batch_id, tombstone_path, id_col, run_id)


def semantic_read_index(
    spark, index_path: str, tombstone_path: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Read a maintained semantic index through ``pq.read_ivfpq_index``
    — the shared reader half (assignments and codes tables have
    identical storage shape: per-doc rows keyed by ``id_col``). Returns
    (id, _nv, cluster) rows."""
    from clinical_vector_search_spark.operators.pq import read_ivfpq_index

    return read_ivfpq_index(spark, index_path, tombstone_path, id_col)


def _incremental_pairs_from_assignments(
    new_assigned: DataFrame,
    corpus_assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    materialized: bool = False,
) -> DataFrame:
    """Assignment-level core of the incremental SemDeDup probe, the
    semantic twin of :func:`_incremental_pairs_from_buckets`: emits
    exactly the NEW within-cluster cosine-≥-threshold pairs a full
    :func:`semantic_dedup_pairs` rerun over corpus+batch would add,
    without ever rescanning old×old. new×new comes from the batch's own
    tiny self-join; new×old probes ONLY the batch's touched clusters
    (broadcast semi-join on the ≤n_clusters-row touched set, then the
    batch side broadcast against the surviving corpus rows — the
    corpus shuffles nothing). Sound because the assignment is per-row
    deterministic against frozen centroids (no cross-doc state), and
    every new pair has ≥1 batch member by definition. Returns (a_id <
    b_id, cluster, cosine ≥ threshold), distinct — a retry that
    re-probes an index already holding the batch's own rows rediscovers
    batch-self pairs through the probe with the identical (exact-dot,
    argument-order-symmetric) cosine, and the ``distinct`` collapses
    them into the new×new term."""
    from clinical_vector_search_spark.plan_cache import tracked_cache

    # tracked_cache, not bare .cache(): inside a registered plan build
    # the handle is owned (and evicted) by the build; outside one the
    # caller owns the lifecycle (the persisted ingest path always
    # passes materialized=True — localCheckpoint — so a foreachBatch
    # stream never accumulates cache blocks)
    na = new_assigned if materialized else tracked_cache(new_assigned)

    a = na.select(
        "cluster", F.col(id_col).alias("a_id"), F.col("_nv").alias("_va")
    )
    b = na.select(
        "cluster", F.col(id_col).alias("b_id"), F.col("_nv").alias("_vb")
    )
    new_new = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", "cluster", V.dot("_va", "_vb").alias("cosine")
        )
    )

    touched = na.select("cluster").distinct()
    corpus_hits = corpus_assigned.join(
        F.broadcast(touched), "cluster", "left_semi"
    )
    new_old = (
        corpus_hits.select(
            "cluster", F.col(id_col).alias("_old_id"),
            F.col("_nv").alias("_vo"),
        )
        .join(
            F.broadcast(
                na.select(
                    "cluster", F.col(id_col).alias("_new_id"),
                    F.col("_nv").alias("_vn"),
                )
            ),
            "cluster",
        )
        .filter(F.col("_old_id") != F.col("_new_id"))
        # ids may interleave; canonicalize instead of assuming old < new.
        # cosine BEFORE canonicalization: the elementwise-product fold is
        # exactly symmetric in fp64 (x[i]*y[i] == y[i]*x[i] per term,
        # same i-order), so the value is identical either way and the
        # final distinct can collapse probe-rediscovered batch pairs.
        .select(
            F.least("_old_id", "_new_id").alias("a_id"),
            F.greatest("_old_id", "_new_id").alias("b_id"),
            "cluster",
            V.dot("_vo", "_vn").alias("cosine"),
        )
    )
    return (
        new_new.unionByName(new_old)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .distinct()
    )


def semantic_pairs_incremental(
    new_vecs: DataFrame,
    corpus_assigned: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    encoder: str | None = None,
) -> DataFrame:
    """Incremental SemDeDup pairs against a maintained assignment index
    (``corpus_assigned`` — a :func:`semantic_read_index` frame): the
    batch assigns itself map-side against the frozen centroids, then
    probes only its touched clusters. Pure transform (no sink) —
    :func:`ingest_semantic_batch` is the persisted composition."""
    asg = _assignment_frame(
        new_vecs, dim, n_clusters, id_col, vec_col, centroids, encoder
    )
    return _incremental_pairs_from_assignments(
        asg, corpus_assigned, threshold, id_col
    )


def ingest_semantic_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    dim: int,
    threshold: float = 0.35,
    n_clusters: int = 8,
    centroids: list[list[float]] | None = None,
    tombstone_path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoder: str | None = None,
    run_id: str | None = None,
) -> None:
    """Streaming SemDeDup maintenance, one micro-batch (stream it with
    ``io.tables.streaming_index_ingest``; the contract is
    :func:`ingest_neardup_batch`'s): assign the batch ONCE
    (localCheckpoint — both probed and appended), emit the new
    within-cluster pairs against the surviving corpus assignments
    (tombstoned ids can form no new pairs), then OVERWRITE the batch's
    own subdirectory in both sinks — an at-least-once retry leaves both
    bit-identical. The accumulated pair set is INVARIANT to how the
    corpus is chunked: each pair is emitted exactly once, in the batch
    of whichever member arrives later, so replaying any partitioning
    reproduces the one-shot :func:`semantic_dedup_pairs` output — the
    oracle-checked contract. Storage: the shared protocol halves, as in
    :func:`ingest_neardup_batch`."""
    from clinical_vector_search_spark.io.tables import (
        open_batch,
        read_batches,
        write_batch,
    )

    sub = open_batch(
        spark, "batch", run_id, batch_id, [pairs_path, index_path]
    )
    asg = _assignment_frame(
        batch_df, dim, n_clusters, id_col, vec_col, centroids, encoder
    ).localCheckpoint()
    corpus = read_batches(
        spark, index_path, tombstones=tombstone_path, key=id_col,
        optional=True,
    )
    if corpus is None:
        corpus = spark.createDataFrame([], asg.schema)
    pairs = _incremental_pairs_from_assignments(
        asg, corpus, threshold, id_col, materialized=True
    )
    write_batch(spark, sub, {pairs_path: pairs, index_path: asg}, ordered=True)


def reindex_semantic(
    spark,
    index_path: str,
    vectors: DataFrame,
    dim: int,
    n_clusters: int = 8,
    n_iter: int = 5,
    tombstone_path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: DataFrame | None = None,
    encoder: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    break_stale_lease_after_sec: float | None = None,
) -> dict:
    """Leased retrain-and-reassign compaction — the drift-recovery
    stage of the maintained semantic index (the ``reindex_ivfpq``
    pattern): :func:`semantic_index_add` assigns every batch to the
    FROZEN centroids, so after many ingests of a drifting distribution
    the clustering decays pair recall (true near-dups straddle stale
    cluster boundaries) with no recovery short of a full re-cluster.
    Under the two-lease discipline (assignments then tombstones — the
    delete writers' guards watch the tombstone lease, same clear-LAST
    race argument as ``compact_tombstoned``):

    1. surviving membership comes FROM the index (ids ingested minus
       tombstones) — reindex changes geometry, never membership;
    2. corpus = ``vectors`` semi-joined to survivors, pinned ONCE
       (``localCheckpoint`` — trainer iterations and the reassignment
       would otherwise re-execute the job's one big shuffle);
    3. retrain ``kmeans_centroids`` on the NORMALIZED corpus (or the
       caller's hash-sampled ``train_sample``) — assignment operates on
       ``_nv``, so training must see the same distribution;
    4. reassign everything map-side against the new centroids;
    5. fence the folded batch names (a redelivery assigned under the
       OLD geometry must refuse), rewrite + swap with the centroids
       stamped as ``_TRAINED.json`` INSIDE the new directory — state
       publishes atomically with the rows it interprets;
    6. clear tombstones LAST (their ids are now physically absent).

    Already-emitted pairs need no invalidation: cosine is exact, so
    historical pairs remain true near-dups; the retrain only improves
    which candidates FUTURE ingests can see. Returns the semantic state
    dict (also readable via :func:`read_semantic_state`); pass its
    ``centroids`` to every subsequent add/probe."""
    from clinical_vector_search_spark.io.tables import reindex_under_leases
    from clinical_vector_search_spark.operators.knn import kmeans_centroids

    state: dict = {}

    def build():
        survivors = semantic_read_index(
            spark, index_path, tombstone_path, id_col
        ).select(id_col)
        corpus = (
            vectors.select(id_col, vec_col)
            .join(survivors, id_col, "semi")
            .localCheckpoint()
        )
        sample = train_sample if train_sample is not None else corpus
        cents = kmeans_centroids(
            sample.select(V.l2_normalize(vec_col).alias(vec_col)),
            dim, n_clusters, n_iter, vec_col,
        )
        state["centroids"] = cents
        asg = _assignment_frame(
            corpus, dim, n_clusters, id_col, vec_col, cents, encoder
        )
        return asg, semantic_state_payload(cents, dim)

    # the two-lease exclusion, ingest guards, fence, sidecar-atomic
    # rewrite+swap, and clear-tombstones-LAST ordering are the shared
    # harness — one code path with pq.reindex_ivfpq
    reindex_under_leases(
        spark, index_path, tombstone_path, build,
        target_file_bytes, break_stale_lease_after_sec,
    )
    return {
        "kind": "semantic",
        "centroids": state["centroids"],
        "dim": dim,
        "n_clusters": n_clusters,
    }


def backfill_semantic_pairs(
    spark,
    index_path: str,
    pairs_path: str,
    threshold: float = 0.35,
    batch_id: int = 0,
    tombstone_path: str | None = None,
    id_col: str = "vec_id",
    max_cluster_rows: int | None = 4096,
    run_id: str | None = None,
) -> None:
    """The pair-recall recovery completing :func:`reindex_semantic`:
    a reindex improves candidate generation only for FUTURE ingests —
    pairs the STALE geometry missed for the existing corpus (true
    near-dups that straddled old cluster boundaries) are still absent
    from the accumulated pairs table. This job emits exactly those:
    the within-cluster pairs the CURRENT clustering admits, anti-joined
    on (a_id, b_id) against everything already accumulated, appended as
    an idempotent ``backfill-{id}`` subdirectory (distinct prefix, so
    it can never collide with a streaming ``batch-…`` name).

    Cost: one Σ|c|² within-cluster pass over the reassigned index
    (the hot-cluster salted guard applies, same as the one-shot) plus
    a pairs-table anti-join — paid once per reindex cadence, never per
    ingest. The accumulated table afterwards equals
    ``old pairs ∪ (pairs under the new geometry \\ old pairs)``: every
    row is still a true cosine-≥-threshold pair (cosine is exact,
    unioning across geometries loses nothing), and the corpus-wide
    recall floor becomes the NEW clustering's recall instead of the
    history of whichever geometry each pair happened to ingest under.
    Run it right after :func:`reindex_semantic`, before the next
    ingest batch."""
    from clinical_vector_search_spark.io.tables import (
        open_batch,
        read_batches,
        write_batch,
    )

    sub = open_batch(spark, "backfill", run_id, batch_id, [pairs_path])
    asg = semantic_read_index(spark, index_path, tombstone_path, id_col)
    admitted = semantic_dedup_pairs(
        None, None, threshold, id_col=id_col, assigned=asg,
        max_cluster_rows=max_cluster_rows,
    )
    existing = read_batches(spark, pairs_path, optional=True, skip_batch=sub)
    new = (
        admitted
        if existing is None
        else admitted.join(
            existing.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti"
        )
    )
    write_batch(spark, sub, {pairs_path: new})
