"""Dedup-family behavior tests: exact survivors, MinHash near-dup recall,
SimHash locality, Jaccard exactness, embedding near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import hashing as H
from clinical_vector_search_spark.functions import text as TXT
from clinical_vector_search_spark.operators.dedup import (
    dedup_groups,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("afternoon", "morning")  # 1-word edit → near-dup
FAR = "completely different content about distributed query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_min_survivor(docs):
    out = {r.text_hash: (r.doc_id, r.dup_count) for r in exact_dedup(docs).collect()}
    assert len(out) == 3  # 0/1 merge
    counts = sorted(c for _, c in out.values())
    assert counts == [1, 1, 2]
    # survivor of the duplicate pair is min id = 0
    assert (0, 2) in out.values()


def test_minhash_finds_near_dup(docs):
    pairs = {
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(
            docs, num_hashes=8, rows_per_band=2, shingle_size=3
        ).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides on every band
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup likely caught
    assert not any(3 in p for p in pairs)  # FAR shares no shingles


def test_jaccard_exact_values(docs):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(docs, shingle_size=3, threshold=0.0).collect()
    }
    assert abs(pairs[(0, 1)] - 1.0) < 1e-9  # identical docs
    assert 0.0 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_simhash_locality(docs):
    h = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    assert h[0] == h[1]  # identical text → identical hash

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(h[0], h[2]) < ham(h[0], h[3])  # near-dup closer than far doc


def _simhash_reference(df, bits):
    """Plain-Python SimHash over JVM token hashes: tokens from
    functions.text.tokenize and their md5_long values are evaluated on the
    JVM, so the kernel's Python lowercasing/splitting/hashing is checked
    against Spark's. Bit j = 1 iff Σ_tokens (±1 for hash bit j) > 0;
    token-less docs are absent."""
    rows = df.select(
        "doc_id", F.transform(TXT.tokenize("text"), H.md5_long).alias("hv")
    ).collect()
    out = {}
    for r in rows:
        if not r.hv:
            continue
        sketch = 0
        for j in range(bits):
            if sum(1 if (h >> j) & 1 else -1 for h in r.hv) > 0:
                sketch |= 1 << j
        out[r.doc_id] = sketch
    return out


def test_simhash_pd_parity_small(spark, docs):
    """The mapInPandas kernel == the reference, incl. edge docs (empty
    text / whitespace-only / null drop out) and mixed case."""
    extra = spark.createDataFrame(
        [(10, ""), (11, "   \t\n "), (12, None), (13, "single"),
         (14, "MiXeD   Case\ttokens MIXED case")],
        "doc_id long, text string",
    )
    both = docs.union(extra)
    got = {r.doc_id: r.simhash for r in simhash(both, bits=32).collect()}
    assert got == _simhash_reference(both, 32)
    assert set(got) == {0, 1, 2, 3, 13, 14}  # token-less docs absent


def test_simhash_pd_parity_corpus(spark, sf_dir):
    """Full-corpus parity with the reference at the test scale factor
    (the dedup_simhash entries check the same kernel against DuckDB)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    assert got == _simhash_reference(docs, 16) and got


def test_dedup_groups_topologies(spark):
    """Chain, triangle, singleton — labels converge to component minima."""
    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 0-1-2; triangle 3-4-5 (+redundant edge); 6 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (4, 5), (3, 5)], "a_id long, b_id long"
    )
    got = {r.doc_id: r.group_id for r in dedup_groups(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}


def test_dedup_groups_matches_union_find_on_corpus(spark, sf_dir):
    """Cross-check the distributed label propagation against a driver-side
    union-find over the same real candidate pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, threshold=0.2)
    got = {
        r.doc_id: r.group_id
        for r in dedup_groups(docs.select("doc_id"), pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    edge_rows = pairs.select("a_id", "b_id").collect()
    for r in edge_rows:
        union(r.a_id, r.b_id)
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want = {i: find(i) for i in all_ids}
    assert got == want
    assert len(edge_rows) > 0  # the corpus really has near-dup pairs


def test_embedding_neardup_exact_vs_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(df, threshold=0.9).collect()
    }
    assert exact == {(0, 1)}
    lsh = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            df, threshold=0.9, use_lsh=True, dim=4, n_planes=4
        ).collect()
    }
    assert lsh <= exact  # LSH path returns a subset (recall contract)

def test_dedup_survivors_keep_longest(spark):
    """One survivor per group: longest text wins, ties -> min doc_id;
    singletons always survive."""
    from clinical_vector_search_spark.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(1, "short"), (2, "longest text"), (3, "same"), (4, "samf"),
         (5, "alone")],
        "doc_id long, text string",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)],
        "doc_id long, group_id long",
    )
    got = {r.doc_id: (r.group_id, r.keep)
           for r in dedup_survivors(docs, groups).collect()}
    assert got == {1: (1, False), 2: (1, True),   # longest wins
                   3: (3, True), 4: (3, False),   # tie -> min id
                   5: (5, True)}                   # singleton survives

def test_decontaminate_flags_ngram_overlap(spark):
    """Docs sharing an n-gram with the benchmark are flagged; others are
    clean; short docs (< n tokens) can never be contaminated."""
    from clinical_vector_search_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here nothing shared at all"),
            (3, "tiny doc"),
            (4, "prefix words then the quick brown fox jumps suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps",)], "text string"
    )
    got = {r.doc_id: (r.n_contaminated_grams, r.contaminated)
           for r in decontaminate(docs, bench, n=5).collect()}
    assert got[1] == (1, True)      # contains the exact benchmark 5-gram
    assert got[4] == (1, True)      # same 5-gram mid-document
    assert got[2] == (0, False)
    assert got[3] == (0, False)     # only 2 tokens

def test_simhash_candidate_pairs_pigeonhole_recall(spark):
    """Banding guarantee: EVERY pair within Hamming n_blocks-1 is found
    (verified against a brute-force all-pairs reference on synthetic
    sketches), and no returned pair exceeds the radius."""
    import itertools
    import random

    from clinical_vector_search_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    rng = random.Random(7)
    base = rng.getrandbits(32)
    sketches = [(0, base)]
    # neighbors at controlled Hamming distances + random far sketches
    for i, d in enumerate((1, 2, 3, 5, 9), start=1):
        s = base
        for bit in rng.sample(range(32), d):
            s ^= 1 << bit
        sketches.append((i, s))
    for i in range(6, 20):
        sketches.append((i, rng.getrandbits(32)))
    df = spark.createDataFrame(sketches, "doc_id long, simhash long")

    got = {(r.a_id, r.b_id): r.hamming
           for r in simhash_candidate_pairs(df, bits=32, n_blocks=4).collect()}
    want = {}
    for (i, a), (j, b) in itertools.combinations(sketches, 2):
        h = bin(a ^ b).count("1")
        if h <= 3:
            want[(min(i, j), max(i, j))] = h
    assert got == want and (0, 1) in got and (0, 3) in got



def test_dedup_groups_star_topologies(spark):
    """Chain, triangle, singleton — star rounds land on component minima."""
    from clinical_vector_search_spark.operators.dedup import dedup_groups_star

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (4, 5), (3, 5)], "a_id long, b_id long"
    )
    got = {r.doc_id: r.group_id
           for r in dedup_groups_star(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}


def test_dedup_groups_star_adversarial_chain(spark):
    """A 200-link path is the worst case for min-label propagation
    (diameter rounds — dedup_groups would need 200 joins); the alternating
    star rounds must collapse it to one component in O(log n) rounds."""
    from clinical_vector_search_spark.operators.dedup import dedup_groups_star

    n = 200
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    # max_iter=15 would be far beyond reach for diameter-bound propagation
    got = {r.doc_id: r.group_id
           for r in dedup_groups_star(ids, pairs, max_iter=15).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_groups_star_matches_propagation_on_corpus(spark, sf_dir):
    """Operator equivalence on real candidate pairs: the O(log n) star
    variant and the diameter-round propagation must assign identical
    groups over the sf corpus."""
    from clinical_vector_search_spark.operators.dedup import dedup_groups_star

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, shingle_size=3, threshold=0.2)
    prop = {r.doc_id: r.group_id
            for r in dedup_groups(docs.select("doc_id"), pairs).collect()}
    star = {r.doc_id: r.group_id
            for r in dedup_groups_star(docs.select("doc_id"), pairs).collect()}
    assert star == prop


def test_dedup_incremental_flags_corpus_collisions(spark):
    """Exact dup of a corpus doc and a 1-word-edit near-dup must collide
    with the persisted corpus bucket index; unrelated text must not."""
    from clinical_vector_search_spark.operators.dedup import (
        dedup_incremental,
        minhash_band_buckets,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(0, BASE), (3, FAR)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, BASE), (11, NEAR),
         (12, "totally fresh text about streaming watermark semantics and "
              "stateful aggregation timeouts in structured streaming")],
        "doc_id long, text string",
    )
    idx = minhash_band_buckets(minhash_signatures(corpus, 8, 3), 2)
    got = {r.doc_id: r.corpus_dup
           for r in dedup_incremental(new, idx, 8, 2, 3).collect()}
    assert got == {10: True, 11: True, 12: False}


def test_minhash_pairs_incremental_matches_full_recompute(spark, sf_dir):
    """Incremental banded-MinHash pair maintenance == a full
    minhash_candidate_pairs rerun over corpus+batch restricted to pairs
    touching the batch — on the real documents table, batch interleaved
    by id parity so new×old pair ordering is exercised both ways."""
    from clinical_vector_search_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_pairs_incremental,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx = minhash_band_buckets(minhash_signatures(corpus, 4, 3), 2)

    got = {
        (r.a_id, r.b_id)
        for r in minhash_pairs_incremental(batch, idx, 4, 2, 3).collect()
    }
    full = {
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    }
    want = {
        (a, b) for a, b in full if a % 3 == 0 or b % 3 == 0
    }
    assert got == want
    assert got  # the corpus actually contains near-dups of batch docs
    assert any(a % 3 != 0 or b % 3 != 0 for a, b in got)  # new×old present


def test_dedup_groups_seed_labels_same_fixpoint(spark):
    """r15 seeding: warm-starting the propagation from a previous run's
    min-id labels must land on the exact same fixpoint as the identity
    start — seeds are member ids <= each node's own id, so min-label
    propagation cannot undershoot the component minimum."""
    from clinical_vector_search_spark.operators.dedup import dedup_groups

    ids = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    # two components {0,1,2,5} and {3,4}, singletons elsewhere
    pairs = spark.createDataFrame(
        [(1, 2), (0, 5), (2, 5), (3, 4)], ["a_id", "b_id"]
    )
    plain = {
        (r.doc_id, r.group_id)
        for r in dedup_groups(ids, pairs).collect()
    }
    # a valid initial label table: COMPLETE coverage (the contract),
    # some nodes already at their true component minima, the rest at
    # identity — what members ∪ batch-identity produces
    seeds = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0), (5, 0), (3, 3), (4, 3),
         (6, 6), (7, 7), (8, 8), (9, 9)],
        ["doc_id", "group_id"],
    )
    seeded = {
        (r.doc_id, r.group_id)
        for r in dedup_groups(ids, pairs, seed_labels=seeds).collect()
    }
    assert seeded == plain
    assert (5, 0) in seeded and (4, 3) in seeded


def test_dedup_groups_incremental_matches_full_recompute(spark, sf_dir):
    """Folding a batch's new pairs into persisted labels == a full CC
    rerun over corpus+batch restricted to components containing a batch
    doc — old docs outside those components keep their labels, merges
    through a batch doc relabel to the merged min id, collision-free
    batch docs come back as singletons."""
    from clinical_vector_search_spark.operators.dedup import (
        _incremental_group_subgraph,
        dedup_groups,
        dedup_groups_incremental,
        minhash_band_buckets,
        minhash_pairs_incremental,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    old_labels = dedup_groups(
        corpus.select("doc_id"), minhash_candidate_pairs(corpus, 4, 2, 3)
    )
    idx = minhash_band_buckets(minhash_signatures(corpus, 4, 3), 2)
    new_pairs = minhash_pairs_incremental(batch, idx, 4, 2, 3)

    got = {
        (r.doc_id, r.group_id)
        for r in dedup_groups_incremental(
            old_labels, new_pairs, batch.select("doc_id")
        ).collect()
    }

    full = dedup_groups(
        docs.select("doc_id"), minhash_candidate_pairs(docs, 4, 2, 3)
    ).collect()
    batch_groups = {r.group_id for r in full if r.doc_id % 3 == 0}
    want = {
        (r.doc_id, r.group_id) for r in full if r.group_id in batch_groups
    }
    assert got == want
    # the maintenance actually merged/relabeled something and also kept
    # singleton batch docs
    assert any(d % 3 != 0 for d, _ in got)
    assert any(d == g and d % 3 == 0 for d, g in got)
    # touched-component reduction: the propagation subgraph must be far
    # smaller than corpus+batch (cost ∝ touched components)
    sub_ids, _, _members = _incremental_group_subgraph(
        old_labels, new_pairs, batch.select("doc_id")
    )
    assert sub_ids.count() < docs.count()


def test_dedup_groups_incremental_random_merge_topologies(spark):
    """Operator contract on seeded random graphs, independent of
    MinHash: old pairs -> labels, then a batch whose pairs chain
    multiple old components through single batch docs, plus singletons
    and batch-only chains. Incremental fold-in must equal the full CC
    over old+new pairs restricted to batch-containing components, for
    every seed."""
    import random

    from clinical_vector_search_spark.operators.dedup import (
        dedup_groups,
        dedup_groups_incremental,
    )

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        old_ids = list(range(60))
        old_pairs = [
            tuple(sorted(rng.sample(old_ids, 2))) for _ in range(35)
        ]
        new_ids = list(range(100, 125))
        new_pairs = set()
        for _ in range(20):  # new×old bridges (multi-component merges)
            a, b = rng.choice(new_ids), rng.choice(old_ids)
            new_pairs.add((min(a, b), max(a, b)))
        for _ in range(8):  # new×new chains
            a, b = rng.sample(new_ids, 2)
            new_pairs.add((min(a, b), max(a, b)))

        ids_df = spark.createDataFrame(
            [(i,) for i in old_ids], "doc_id long"
        )
        op_df = spark.createDataFrame(
            list(set(old_pairs)), "a_id long, b_id long"
        )
        np_df = spark.createDataFrame(
            sorted(new_pairs), "a_id long, b_id long"
        )
        nid_df = spark.createDataFrame(
            [(i,) for i in new_ids], "doc_id long"
        )
        old_labels = dedup_groups(ids_df, op_df)
        got = {
            (r.doc_id, r.group_id)
            for r in dedup_groups_incremental(
                old_labels, np_df, nid_df
            ).collect()
        }

        all_ids = spark.createDataFrame(
            [(i,) for i in old_ids + new_ids], "doc_id long"
        )
        all_pairs = spark.createDataFrame(
            sorted(set(old_pairs) | new_pairs), "a_id long, b_id long"
        )
        full = dedup_groups(all_ids, all_pairs).collect()
        batch_groups = {r.group_id for r in full if r.doc_id >= 100}
        want = {
            (r.doc_id, r.group_id)
            for r in full
            if r.group_id in batch_groups
        }
        assert got == want, f"seed {seed}"


def test_streaming_neardup_ingest_matches_one_shot(spark, sf_dir, tmp_path):
    """Replaying the corpus through streaming_index_ingest over
    ingest_neardup_batch in 4 micro-batches (maxFilesPerTrigger=1)
    accumulates exactly the pair set of a one-shot
    minhash_candidate_pairs run — every pair lands once, in the batch
    of whichever doc arrives later."""
    from clinical_vector_search_spark.io.tables import streaming_index_ingest
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    docs_path = str(tmp_path / "docs")
    docs.repartitionByRange(4, "doc_id").write.parquet(docs_path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_path)
    )
    q = streaming_index_ingest(
        stream,
        lambda df, bid, rid: ingest_neardup_batch(
            spark, df, bid, str(tmp_path / "index"), str(tmp_path / "pairs"),
            4, 2, 3, run_id=rid,
        ),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300)
    # >1 micro-batch actually ran (the cross-batch probe path exercised)
    assert len(q.recentProgress) > 1

    got = {
        (r.a_id, r.b_id)
        for r in read_neardup_output(spark, str(tmp_path / "pairs")).collect()
    }
    want = {
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    }
    assert got == want and got
    # no duplicate emissions across batches
    n_rows = read_neardup_output(spark, str(tmp_path / "pairs")).count()
    assert n_rows == len(got)


def test_neardup_ingest_batch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running a batch with the same
    batch_id (including after its index write already landed, the worst
    retry window) must leave both sinks set-identical — each batch
    overwrites its own batch-id subpath, and re-probing an index that
    already holds the batch's own buckets collapses batch-self pairs
    into the new×new term."""
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    b0 = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter(F.col("doc_id") >= 100)
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")

    ingest_neardup_batch(spark, b0, 0, idx, prs, 4, 2, 3)
    ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)

    def snap(path):
        return sorted(
            map(tuple, read_neardup_output(spark, path).collect())
        )

    pairs_before, index_before = snap(prs), snap(idx)
    # retry batch 1 AFTER its index write completed: the probe now sees
    # the batch's own buckets in the corpus
    ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)
    assert snap(prs) == pairs_before
    assert snap(idx) == index_before
    # and the accumulated pair set still matches the one-shot recompute
    want = sorted(
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    )
    got = sorted(
        set(
            (r.a_id, r.b_id)
            for r in read_neardup_output(spark, prs).collect()
        )
    )
    assert got == want


def test_neardup_ingest_after_crashed_swap_keeps_pairs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crashed compaction swap of the band index (live name absent,
    rows at ``index__old_<tag>``) must not read as "first batch" on the
    next ingest: the sink heals the swap before probing, so a later
    duplicate of a batch-0 doc still gets its new×old pair and the
    index keeps batch 0's buckets."""
    from test_swap_recovery import _crash_mid_swap

    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    dup = docs.filter(F.col("doc_id") == 5).withColumn(
        "doc_id", F.lit(1000).cast("long")
    )
    b0 = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter(F.col("doc_id") >= 100).unionByName(dup)
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")

    ingest_neardup_batch(spark, b0, 0, idx, prs, 4, 2, 3)
    _crash_mid_swap(spark, idx, monkeypatch, recursive=True)
    ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)

    got = {
        (r.a_id, r.b_id) for r in read_neardup_output(spark, prs).collect()
    }
    want = {
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(
            docs.unionByName(dup), 4, 2, 3
        ).collect()
    }
    assert (5, 1000) in got
    assert got == want
    assert {r.doc_id for r in read_neardup_output(spark, idx).collect()} == {
        r.doc_id for r in docs.unionByName(dup).collect()
    }


def test_neardup_index_compaction_cadence(spark, sf_dir, tmp_path):
    """The documented maintenance cadence: compact_parquet(recursive=True)
    over the per-batch index subdirectories, then keep ingesting — the
    recursive reader accepts the mixed compacted-flat + new-subdir
    layout and later batches still see the full corpus."""
    from clinical_vector_search_spark.io.tables import compact_parquet
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    b0 = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    b2 = docs.filter(F.col("doc_id") >= 200)
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")

    ingest_neardup_batch(spark, b0, 0, idx, prs, 4, 2, 3)
    ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)
    before = read_neardup_output(spark, idx).count()
    compact_parquet(spark, idx, recursive=True)
    assert read_neardup_output(spark, idx).count() == before
    ingest_neardup_batch(spark, b2, 2, idx, prs, 4, 2, 3)

    want = sorted(
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    )
    got = sorted(
        set(
            (r.a_id, r.b_id)
            for r in read_neardup_output(spark, prs).collect()
        )
    )
    assert got == want


def test_span_dedup_removes_cross_doc_boilerplate(spark):
    """A sentence repeated across docs survives only at its first
    (doc_id, pos) occurrence; unique sentences all survive; a doc made
    entirely of claimed spans comes back empty."""
    from clinical_vector_search_spark.operators.dedup import span_dedup

    boiler = "all rights reserved contact us for details"
    rows = [
        (0, f"alpha unique sentence. {boiler}. omega closing thought"),
        (1, f"{boiler}. beta standalone insight"),
        (2, f"{boiler}"),
        (3, "gamma totally original. delta also original"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_kept, r.text_dedup)
           for r in span_dedup(df).collect()}
    assert got[0] == (3, f"alpha unique sentence. {boiler}. omega closing thought")
    assert got[1] == (1, "beta standalone insight")
    assert got[2] == (0, "")
    assert got[3] == (2, "gamma totally original. delta also original")


def test_repeated_window_fraction_cross_doc_only(spark):
    """Windows shared across docs count; repetition inside one doc does
    not; window math is len - W + 1."""
    from clinical_vector_search_spark.operators.dedup import (
        repeated_window_fraction,
    )

    shared = "one two three four five"          # 5 tokens = 1 window (W=5)
    rows = [
        (0, f"{shared} alpha beta gamma"),      # 8 tokens -> 4 windows
        (1, f"prefix words here {shared}"),     # 8 tokens -> 4 windows
        (2, f"{shared} {shared}"),              # self-repeat + cross-doc hot
        (3, "aa bb cc dd ee ff gg hh"),         # unique, 4 windows
        (4, "too short"),                       # < W tokens -> 0 windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_windows, r.n_repeated)
           for r in repeated_window_fraction(df, 5, 2).collect()}
    # docs 0/1: exactly the one shared window is hot
    assert got[0] == (4, 1) and got[1] == (4, 1)
    # doc 2: 10 tokens -> 6 windows; hot gram appears at positions 0 and 5
    assert got[2] == (6, 2)
    assert got[3] == (4, 0)
    assert got[4] == (0, 0)

    # within-doc-only repetition must NOT flag: same doc 2 text alone
    solo = spark.createDataFrame([(9, f"{shared} {shared}")],
                                 "doc_id long, text string")
    r = repeated_window_fraction(solo, 5, 2).collect()[0]
    assert (r.n_windows, r.n_repeated) == (6, 0)


def test_semantic_dedup_pairs_subset_of_exact(spark, sf_dir):
    """SemDeDup recall contract: within-cluster pairs are a SUBSET of the
    exact O(N²) near-dup pairs at the same threshold (clustering can only
    MISS boundary-straddling pairs, never invent one), every reported pair
    shares a cluster, and its cosine matches the exact path."""
    import warnings

    from clinical_vector_search_spark.operators.dedup import (
        embedding_neardup_pairs,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in semantic_dedup_pairs(emb, dim=64, threshold=0.3,
                                      n_clusters=4).collect()
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exact = {
            (r.a_id, r.b_id): r.cosine
            for r in embedding_neardup_pairs(emb, threshold=0.3).collect()
        }
    assert got, "threshold 0.3 must yield at least one within-cluster pair"
    assert set(got) <= set(exact)
    for k, c in got.items():
        assert abs(c - exact[k]) < 1e-9


def test_semantic_dedup_prunes_larger_id_of_each_pair(spark, sf_dir):
    """Survivors = ids that never appear as the b_id of a qualifying
    pair; every id appears exactly once with its cluster."""
    from clinical_vector_search_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = semantic_dedup_pairs(emb, dim=64, threshold=0.3,
                                 n_clusters=4).collect()
    pruned = {r.b_id for r in pairs}
    surv = semantic_dedup(emb, dim=64, threshold=0.3, n_clusters=4).collect()
    n_total = emb.count()
    assert len(surv) == n_total - len(pruned)
    ids = [r.vec_id for r in surv]
    assert len(ids) == len(set(ids))
    assert pruned.isdisjoint(ids)


def test_bloom_filter_no_false_negatives_and_fp_behavior(spark):
    """Every inserted key must probe true (Bloom guarantee); with a
    deliberately tiny filter, non-members must show SOME false positives
    (the bits saturate) — proving the probe actually reads the bitmap
    rather than degenerating to always-false/always-true."""
    from clinical_vector_search_spark.functions.hashing import (
        bloom_build,
        bloom_probe,
        bloom_words_array,
    )

    keys = spark.range(200).select(
        F.concat(F.lit("key_"), F.col("id")).alias("g")
    )
    m, k = 1 << 12, 4
    words = bloom_words_array(bloom_build(keys, "g", m, k), m)
    probed = keys.select(bloom_probe("g", words, m, k).alias("hit")).collect()
    assert all(r.hit for r in probed)  # zero false negatives, ever

    others = spark.range(200, 1200).select(
        F.concat(F.lit("key_"), F.col("id")).alias("g")
    )
    fp = others.select(
        bloom_probe("g", words, m, k).cast("int").alias("hit")
    ).agg(F.sum("hit")).collect()[0][0]
    # 200 keys * 4 hashes in 4096 bits -> ~18% bits set -> FP ~0.1%:
    # near-zero but never a false negative (asserted above)
    assert fp < 50, fp

    # undersized filter (1024 bits, ~54% set): FP rate ~8% — must see
    # SOME false positives, proving the probe really reads the bitmap
    m2 = 1 << 10
    words2 = bloom_words_array(bloom_build(keys, "g", m2, k), m2)
    fp2 = others.select(
        bloom_probe("g", words2, m2, k).cast("int").alias("hit")
    ).agg(F.sum("hit")).collect()[0][0]
    assert 5 < fp2 < 500, fp2

    tiny_words = bloom_words_array(bloom_build(keys, "g", 64, 2), 64)
    sat = others.select(
        bloom_probe("g", tiny_words, 64, 2).cast("int").alias("hit")
    ).agg(F.sum("hit")).collect()[0][0]
    assert sat > 900  # 64-bit filter with 200 keys is saturated


def test_decontaminate_bloom_superset_of_exact(spark, sf_dir):
    """Bloom flags are a SUPERSET of the exact operator's (conservative
    direction), and every exact hit keeps its exact gram count ≤ the
    bloom count."""
    from clinical_vector_search_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10).select("text")
    exact = {r.doc_id: (r.contaminated, r.n_contaminated_grams)
             for r in decontaminate(docs, bench, n=5).collect()}
    bloom = {r.doc_id: (r.contaminated, r.n_flagged_grams)
             for r in decontaminate_bloom(docs, bench, n=5,
                                          m=1 << 14, k=4).collect()}
    assert set(exact) == set(bloom)
    for d, (c, n) in exact.items():
        bc, bn = bloom[d]
        if c:
            assert bc and bn >= n


def test_blocked_fuzzy_pairs_golden(spark):
    """Pairs only within a block, ordered a<b, distance filtered; cross-
    block near-matches are (by contract) missed."""
    from clinical_vector_search_spark.operators.dedup import (
        blocked_fuzzy_pairs,
    )

    rows = [(1, "smith j"), (2, "smith i"), (3, "smath j"),
            (4, "jones a"), (5, "jones b"), (6, "smith jzzz")]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    got = {(r.a_id, r.b_id): r.distance
           for r in blocked_fuzzy_pairs(
               df, "name", F.substring("name", 1, 2), max_distance=2,
           ).collect()}
    # within 'sm' block: (1,2) d1, (1,3) d1, (2,3) d2, (1,6) d3 dropped
    # within 'jo' block: (4,5) d1; never cross-block
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (4, 5): 1}


def test_semantic_pairs_pd_parity(spark, sf_dir):
    """The BLAS per-cluster twin must be BIT-identical to the expression
    path (candidates found in numpy at threshold-1e-6, rescored with the
    canonical fold dot)."""
    from clinical_vector_search_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_pairs,
        semantic_dedup_pairs_pd,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r.a_id, r.b_id): r.cosine
         for r in semantic_dedup_pairs(emb, 64, 0.3, 4).collect()}
    b = {(r.a_id, r.b_id): r.cosine
         for r in semantic_dedup_pairs_pd(emb, 64, 0.3, 4).collect()}
    assert a == b and len(a) > 0
    sa = {r.vec_id for r in semantic_dedup(emb, 64, 0.3, 4).collect()}
    sb = {r.vec_id
          for r in semantic_dedup(emb, 64, 0.3, 4, accel="pd").collect()}
    assert sa == sb


def test_soft_dedup_weights_hand_check(spark):
    """SoftDeDup-style reweighting on a corpus built for hand
    computation: doc 0 and doc 1 are exact duplicates (every shingle df
    2 → commonness 2, weight 0.5), doc 2 is fully unique (commonness 1,
    weight 1), doc 3 shares nothing but is too short for a shingle
    (excluded), and doc 4 mixes one shared and one unique shingle."""
    from clinical_vector_search_spark.operators.dedup import (
        soft_dedup_weights,
    )

    rows = [
        (0, "alpha bravo charlie delta"),    # shingles: abc, bcd
        (1, "alpha bravo charlie delta"),    # same two shingles
        (2, "echo foxtrot golf hotel"),      # efg, fgh — unique
        (3, "kilo lima"),                    # < 3 tokens → no shingles
        (4, "alpha bravo charlie november"), # abc (df 3), bcn (df 1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.commonness, r.weight)
        for r in soft_dedup_weights(docs).collect()
    }
    assert 3 not in got  # no duplication signal
    # docs 0/1: shingles 'a b c' (df 3: docs 0,1,4) and 'b c d' (df 2)
    assert got[0] == (2, 2.5, 0.4) and got[1] == got[0]
    assert got[2] == (2, 1.0, 1.0)
    assert got[4] == (2, 2.0, 0.5)  # df 3 and df 1 → mean 2


def test_semantic_encoder_auto_dispatch(spark, sf_dir):
    """The encoder auto-dispatch (r12 verdict task 4) must flip from
    the expression fold to the BLAS twin exactly at the calibrated
    dim×n_clusters boundary, and accel='auto' must return the SAME rows
    as both explicit lanes on either side of it — a cost dispatch with
    zero value change, like events.choose_sessionize_strategy."""
    from clinical_vector_search_spark.operators.dedup import (
        SEMANTIC_ENCODER_PD_TERMS,
        choose_semantic_encoder,
        semantic_dedup,
    )

    # flips strictly ABOVE the boundary, in terms = dim × n_clusters
    assert choose_semantic_encoder(64, 8) == "expr"       # 512 terms
    assert choose_semantic_encoder(64, 16) == "expr"      # == boundary
    assert choose_semantic_encoder(64, 17) == "pd"        # just above
    assert choose_semantic_encoder(64, 640) == "pd"       # SemDeDup scale
    assert SEMANTIC_ENCODER_PD_TERMS == 16 * 64

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for nc in (4, 32):  # one side each of the boundary at dim=64
        want = {
            (r.vec_id, r.cluster)
            for r in semantic_dedup(emb, 64, 0.3, nc, accel="expr").collect()
        }
        got_auto = {
            (r.vec_id, r.cluster)
            for r in semantic_dedup(emb, 64, 0.3, nc, accel="auto").collect()
        }
        got_pd = {
            (r.vec_id, r.cluster)
            for r in semantic_dedup(emb, 64, 0.3, nc, accel="pd").collect()
        }
        assert want == got_auto == got_pd and len(want) > 0


def test_semantic_hot_cluster_guard_exact_and_bounded(spark):
    """Property test for the automated hot-cluster guard: 90% of rows in
    ONE cluster, max_cluster_rows small → the salted block self-join
    must (a) return EXACTLY the plain path's pairs (the decomposition
    covers every unordered pair once — no recall change), and (b) bound
    per-task pair work: every (cluster, i, j) block holds at most
    ~2*max_cluster_rows rows, so no task sees the hot cluster whole."""
    import numpy as np
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.operators.dedup import (
        _semantic_pairs_salted,
        semantic_clusters,
        semantic_dedup_pairs,
        semantic_dedup_pairs_pd,
    )

    rng = np.random.RandomState(7)
    n, dim = 200, 8
    # two base directions; 90% of rows jitter around direction 0 so the
    # argmax-cosine assignment piles them into one hot cluster
    base = rng.randn(2, dim)
    rows = []
    for i in range(n):
        c = 0 if i < int(n * 0.9) else 1
        v = base[c] + 0.05 * rng.randn(dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [[float(x) for x in b] for b in base]

    plain = semantic_dedup_pairs(
        df, dim=dim, threshold=0.5, n_clusters=2, centroids=centroids,
        max_cluster_rows=None,
    )
    salted = semantic_dedup_pairs(
        df, dim=dim, threshold=0.5, n_clusters=2, centroids=centroids,
        max_cluster_rows=25,
    )
    p = {(r.a_id, r.b_id, r.cluster, round(r.cosine, 9))
         for r in plain.collect()}
    s = {(r.a_id, r.b_id, r.cluster, round(r.cosine, 9))
         for r in salted.collect()}
    assert p == s and len(p) > 0

    pd_salted = semantic_dedup_pairs_pd(
        df, dim=dim, threshold=0.5, n_clusters=2, centroids=centroids,
        max_cluster_rows=25,
    )
    ps = {(r.a_id, r.b_id, r.cluster, round(r.cosine, 9))
          for r in pd_salted.collect()}
    assert p == ps

    # per-task bound: replicate the salt bookkeeping and check block
    # populations — a-side of block (i,j) is bucket i (≤ ~max_rows via
    # hash balance), b-side is bucket j; no block contains the hot
    # cluster whole
    assigned = semantic_clusters(
        df, dim=dim, n_clusters=2, centroids=centroids
    )
    sizes = {r["cluster"]: r["count"]
             for r in assigned.groupBy("cluster").count().collect()}
    hot = max(sizes.values())
    assert hot >= int(n * 0.9)  # the skew scenario is real
    max_rows = 25
    n_salts = {k: -(-c // max_rows) for k, c in sizes.items()}
    salted_df = _semantic_pairs_salted(assigned, 0.5, n_salts, "vec_id")
    # count rows per (cluster,_i,_j) block on the a-side explode
    smap = F.create_map(
        *[F.lit(int(x)) for kv in sorted(n_salts.items()) for x in kv])
    buckets = (
        assigned.withColumn("_s", smap[F.col("cluster")])
        .withColumn("_p", F.pmod(F.xxhash64("vec_id"), F.col("_s"))
                    .cast("int"))
        .groupBy("cluster", "_p").count().collect()
    )
    biggest_bucket = max(r["count"] for r in buckets)
    # hash-balanced buckets: ~hot/n_salts rows each; assert no bucket
    # (hence no block side) approaches the unsalted hot-cluster size
    assert biggest_bucket <= 3 * max_rows
    assert salted_df.count() == len(p)


def test_semantic_clusters_pd_bit_parity(spark, sf_dir):
    """BLAS argmax assignment must match the expression twin exactly —
    including the passthrough _nv (Arrow fp64 roundtrip is lossless),
    so downstream canonical dots stay bit-identical."""
    from clinical_vector_search_spark.operators.dedup import (
        semantic_clusters,
        semantic_clusters_pd,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r["vec_id"], r["cluster"], tuple(r["_nv"]))
         for r in semantic_clusters(emb, 64, 4).collect()}
    b = {(r["vec_id"], r["cluster"], tuple(r["_nv"]))
         for r in semantic_clusters_pd(emb, 64, 4).collect()}
    assert a == b and len(a) > 0
    sa = {r.vec_id for r in semantic_dedup(emb, 64, 0.3, 4).collect()}
    sb = {r.vec_id
          for r in semantic_dedup(emb, 64, 0.3, 4, accel="pd").collect()}
    assert sa == sb


def test_jaccard_prefix_parity_small(docs):
    """Prefix-filtered exact join == full postings join at every
    threshold (the prefix-filter lemma: no misses, verification kills
    extras)."""
    from clinical_vector_search_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    for tau in (0.2, 0.5, 0.8):
        full = {
            (r.a_id, r.b_id): round(r.jaccard, 9)
            for r in ngram_jaccard_pairs(
                docs, shingle_size=3, threshold=tau
            ).collect()
        }
        pref = {
            (r.a_id, r.b_id): round(r.jaccard, 9)
            for r in jaccard_prefix_pairs(
                docs, shingle_size=3, threshold=tau
            ).collect()
        }
        assert pref == full, f"tau={tau}"


def test_jaccard_prefix_parity_corpus(spark, sf_dir):
    """Full-corpus parity at the test scale factor — the prefix path is
    the same operator, just with a bounded candidate join."""
    from clinical_vector_search_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(
            docs, shingle_size=3, threshold=0.2
        ).collect()
    }
    pref = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in jaccard_prefix_pairs(
            docs, shingle_size=3, threshold=0.2
        ).collect()
    }
    assert pref == full
    assert full  # non-vacuous: the corpus does contain near-dup pairs


def test_pagerank_mass_and_golden(spark):
    """Σrank == 1 (dangling mass redistributed), symmetric pair outranks
    an isolated node, and the 1-iteration value matches the hand
    formula."""
    from clinical_vector_search_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")

    r1 = {r.node: r.rank for r in pagerank(nodes, edges, n_iter=1).collect()}
    # r0 = 1/3 each; dangling = 1/3; r(1) = 0.15/3 + 0.85*(1/3 + 1/9)
    expect_linked = (1 - 0.85) / 3 + 0.85 * (1 / 3 + (1 / 3) / 3)
    expect_isolated = (1 - 0.85) / 3 + 0.85 * ((1 / 3) / 3)
    assert abs(r1[1] - expect_linked) < 1e-12
    assert abs(r1[2] - expect_linked) < 1e-12
    assert abs(r1[3] - expect_isolated) < 1e-12
    assert abs(sum(r1.values()) - 1.0) < 1e-9

    r5 = {r.node: r.rank for r in pagerank(nodes, edges, n_iter=5).collect()}
    assert abs(sum(r5.values()) - 1.0) < 1e-9
    assert r5[1] == r5[2] > r5[3]


def test_jaccard_prefix_exact_boundary_no_float_miss(spark):
    """Adversarial float-boundary case: J = 12/15 = 0.8 exactly at
    τ = 0.8, with the 3 non-shared tokens rarest (df=1) so they fill
    the whole prefix if ⌈τ·n⌉ is inflated by one (0.8·15 floats to
    12.000000000000002). The un-guarded ceil missed this pair BOTH via
    the shortened prefix and the length filter (12 ≥ 13 false)."""
    from clinical_vector_search_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    shared = [f"s{i:02d}" for i in range(12)]
    uniq = ["aa1", "aa2", "aa3"]  # sort before s* on the tie-break too
    rows = [
        (1, " ".join(uniq + shared)),  # |A| = 15 unigram shingles
        (2, " ".join(shared)),         # |B| = 12, all shared
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in jaccard_prefix_pairs(
            docs, shingle_size=1, threshold=0.8
        ).collect()
    }
    full = {
        (r.a_id, r.b_id): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(
            docs, shingle_size=1, threshold=0.8
        ).collect()
    }
    assert full == {(1, 2): 0.8}  # the pair really is exactly at τ
    assert got == full


def test_containment_catches_superset_dup_jaccard_misses(spark):
    """A short doc quoted whole inside a much longer page: containment of
    the short side ~1.0 while Jaccard stays far below any dedup
    threshold — the directed judgement is what finds it."""
    from clinical_vector_search_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i}" for i in range(80))
    rows = [(1, quote), (2, filler + " " + quote + " " + filler[::-1].lower())]
    # make doc2's filler tokens distinct words, not reversed garbage
    rows[1] = (2, filler + " " + quote + " " + " ".join(
        f"tail{i}" for i in range(80)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cp = {
        (r.small_id, r.big_id): r
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in cp
    assert cp[(1, 2)].containment == 1.0  # every shingle of 1 is in 2
    assert (2, 1) not in cp  # the long side is NOT contained in the short
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # jaccard misses the superset dup at any sane cut


def test_kcore_peels_to_dense_core(spark):
    """K5 plus a chain of pendants: the 3-core is exactly the K5 (every
    K5 node has in-core degree 4); pendant/chain nodes peel away even
    though the chain's middle node starts at degree 2 < 3 and the
    tail attaches to the core."""
    from clinical_vector_search_spark.operators.graph import kcore

    k5 = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    # chain 4-10-11-12 hanging off core node 4, plus a triangle pendant
    extra = [(4, 10), (10, 11), (11, 12), (10, 13), (11, 13)]
    df = spark.createDataFrame(k5 + extra, "src long, dst long")
    out = {r.node: r.core_deg for r in kcore(df, k=3, n_iter=4).collect()}
    assert out == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}
    # k=2: the pendant triangle {10,11,13} survives with the chain gone
    out2 = {r.node: r.core_deg for r in kcore(df, k=2, n_iter=4).collect()}
    assert set(out2) == {0, 1, 2, 3, 4, 10, 11, 13}
    assert all(d >= 2 for d in out2.values())


def test_bfs_levels_path_with_branch(spark):
    # path 1-2-3-4-5-6 plus branch 3-7; source {1}, 3 hops:
    # dist: 1->0, 2->1, 3->2, 4->3, 7->3; 5 and 6 unreached
    from clinical_vector_search_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (3, 7)],
        "src int, dst int",
    )
    src = spark.createDataFrame([(1,)], "node int")
    out = {r.node: r.dist for r in bfs_levels(edges, src, 3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 7: 3}
    # settled nodes keep their FIRST distance even when re-reachable
    # via a longer path (cycle 1-2-3-1)
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src int, dst int")
    out2 = {r.node: r.dist for r in bfs_levels(cyc, src, 4).collect()}
    assert out2 == {1: 0, 2: 1, 3: 1}


def test_sorted_neighborhood_window_semantics(spark):
    from clinical_vector_search_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    from pyspark.sql import functions as SF

    rows = [
        (1, "smith"), (2, "smyth"), (3, "smith"), (4, "zzzzz"),
        (5, "bmith"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, name string")
    out = sorted_neighborhood_pairs(
        df, "name", SF.lit("all"), window_size=3, max_distance=1
    ).collect()
    got = {(r.a_id, r.b_id, r.offset, r.distance) for r in out}
    # sort order (name, id): bmith(5), smith(1), smith(3), smyth(2), zzzzz(4)
    # w=3 candidates: (5,1),(5,3),(1,3),(1,2),(3,2),(2,4)
    assert got == {
        (5, 1, 1, 1),   # bmith->smith
        (5, 3, 2, 1),
        (1, 3, 1, 0),   # exact dup adjacent
        (1, 2, 2, 1),
        (3, 2, 1, 1),
        # (2,4) zzzzz distance 5 filtered
    }
    # partition boundary: splitting 'b*' from 's*' drops the cross pairs
    out2 = sorted_neighborhood_pairs(
        df, "name", SF.substring("name", 1, 1), window_size=3, max_distance=1
    ).collect()
    got2 = {(r.a_id, r.b_id) for r in out2}
    assert got2 == {(1, 3), (1, 2), (3, 2)}


def test_label_propagation_two_cliques_with_bridge(spark):
    # two 4-cliques joined by one bridge edge: LPA keeps them as two
    # communities (a connected-components labeler would merge them)
    from clinical_vector_search_spark.operators.graph import (
        label_propagation,
    )

    k1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    edges = spark.createDataFrame(
        k1 + k2 + [(4, 11)], "src int, dst int"
    )
    out = {r.node: r.label for r in label_propagation(edges, 3).collect()}
    assert {out[n] for n in (1, 2, 3)} == {1}
    assert {out[n] for n in (12, 13, 14)} == {11}
    # the bridge endpoints belong to their own clique's community
    assert out[4] == 1 and out[11] == 11


def test_personalized_pagerank_localizes_to_seed(spark):
    # two 3-cliques joined by one bridge; seed in clique A -> every
    # A-node outranks every B-node, and total mass stays 1
    from clinical_vector_search_spark.operators.graph import (
        personalized_pagerank,
    )

    ka = [(1, 2), (1, 3), (2, 3)]
    kb = [(11, 12), (11, 13), (12, 13)]
    und = ka + kb + [(3, 11)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )
    nodes = edges.select("src").distinct().withColumnRenamed("src", "node")
    seeds = spark.createDataFrame([(1, 1.0)], "node int, weight double")
    out = {
        r.node: r.rank
        for r in personalized_pagerank(nodes, edges, seeds, 5).collect()
    }
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert min(out[n] for n in (1, 2, 3)) > max(out[n] for n in (12, 13))
    assert out[1] == max(out.values())


def test_neardup_ingest_run_id_namespaces_batches(spark, sf_dir, tmp_path):
    """A NEW streaming query (fresh checkpoint) restarts foreachBatch ids
    at 0; without a namespace its batch 0 would OVERWRITE a prior run's
    batch-0 subdirectory and silently drop that run's buckets and pairs.
    Distinct run_ids must accumulate — the union equals the one-shot
    recompute — and redelivery within a run stays idempotent."""
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        minhash_candidate_pairs,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    monday = docs.filter(F.col("doc_id") < 100)
    tuesday = docs.filter(F.col("doc_id") >= 100)
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")

    # both logical runs start at batch id 0 — the new-checkpoint reality
    ingest_neardup_batch(spark, monday, 0, idx, prs, 4, 2, 3, run_id="mon")
    ingest_neardup_batch(spark, tuesday, 0, idx, prs, 4, 2, 3, run_id="tue")
    got = sorted(
        set(
            (r.a_id, r.b_id)
            for r in read_neardup_output(spark, prs).collect()
        )
    )
    want = sorted(
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    )
    assert got == want and got
    # redelivery of tuesday's batch 0 under the same run_id: bit-identical
    before = sorted(map(tuple, read_neardup_output(spark, idx).collect()))
    ingest_neardup_batch(spark, tuesday, 0, idx, prs, 4, 2, 3, run_id="tue")
    assert sorted(map(tuple, read_neardup_output(spark, idx).collect())) == before


def test_compact_batched_fences_redelivery(spark, sf_dir, tmp_path):
    """compact_batched records the batch subdirectories it folds; a late
    at-least-once redelivery of a folded batch must be REFUSED (its rows
    live in the compacted files — recreating the subdirectory would
    double-count them in every reader), while fresh batch ids keep
    ingesting and a second compaction carries the fold history forward."""
    import pytest

    from clinical_vector_search_spark.io.tables import compact_batched
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        minhash_candidate_pairs,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 150)
    )
    b0 = docs.filter(F.col("doc_id") < 50)
    b1 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
    b2 = docs.filter(F.col("doc_id") >= 100)
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")

    ingest_neardup_batch(spark, b0, 0, idx, prs, 4, 2, 3)
    ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)
    compact_batched(spark, idx)
    compact_batched(spark, prs)

    # folded batch redelivered → loud refusal, index unchanged
    before = sorted(map(tuple, read_neardup_output(spark, idx).collect()))
    with pytest.raises(ValueError, match="already"):
        ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)
    assert sorted(map(tuple, read_neardup_output(spark, idx).collect())) == before

    # fresh batch id still ingests; accumulated pairs == one-shot
    ingest_neardup_batch(spark, b2, 2, idx, prs, 4, 2, 3)
    got = sorted(
        set(
            (r.a_id, r.b_id)
            for r in read_neardup_output(spark, prs).collect()
        )
    )
    want = sorted(
        (r.a_id, r.b_id)
        for r in minhash_candidate_pairs(docs, 4, 2, 3).collect()
    )
    assert got == want and got

    # second compaction carries forward: batch 1 AND batch 2 both fenced
    compact_batched(spark, idx)
    compact_batched(spark, prs)
    with pytest.raises(ValueError, match="already"):
        ingest_neardup_batch(spark, b1, 1, idx, prs, 4, 2, 3)
    with pytest.raises(ValueError, match="already"):
        ingest_neardup_batch(spark, b2, 2, idx, prs, 4, 2, 3)


def test_fence_manifest_never_touches_local_fs_listing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The redelivery fence (folded-batch discovery + manifest
    read/write) goes through the data's own Hadoop FileSystem, never
    ``os.listdir`` — so it works unchanged when the index lives on
    object storage. Proven by making ``os.listdir`` explode for the
    fence calls themselves."""
    import os

    from clinical_vector_search_spark.io import tables as T
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")
    ingest_neardup_batch(spark, docs, 0, idx, prs, 4, 2, 3)

    def boom(*a, **k):
        raise AssertionError("fence protocol must not use os.listdir")

    monkeypatch.setattr(os, "listdir", boom)
    folded = T._list_batch_subdirs(spark, idx)
    assert folded == ["batch-0"]
    T.record_compacted_batches(spark, idx, folded)
    assert T.compacted_batches(idx) == {"batch-0"}
    with pytest.raises(ValueError, match="already"):
        T.guard_batch_not_compacted(idx, "batch-0")
    T.guard_batch_not_compacted(idx, "batch-1")  # fresh id still legal


def test_fence_reads_legacy_single_file_marker(spark, tmp_path):
    """Indexes fenced by the pre-manifest protocol (one sibling JSON
    file) keep their fence: compacted_batches unions the legacy file
    with any manifest fragments."""
    import json

    from clinical_vector_search_spark.io import tables as T

    idx = tmp_path / "index"
    idx.mkdir()
    (tmp_path / "index__COMPACTED_BATCHES").write_text(
        json.dumps(["batch-7"])
    )
    assert T.compacted_batches(str(idx)) == {"batch-7"}
    T.record_compacted_batches(spark, str(idx), ["batch-9"])
    assert T.compacted_batches(str(idx)) == {"batch-7", "batch-9"}


def test_run_id_must_be_safe_path_segment(spark, sf_dir, tmp_path):
    """A run_id with a path separator (nests directories under the
    fence listing) or a leading underscore/dot (hidden to readers AND
    to the fence) is refused loudly at the top of the ingest, before
    any write."""
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(5)
    )
    idx, prs = str(tmp_path / "i"), str(tmp_path / "p")
    for bad in ("a/b", "_hidden", ".dot", "", "a b", "x\\y"):
        with pytest.raises(ValueError, match="run_id"):
            ingest_neardup_batch(
                spark, docs, 0, idx, prs, 4, 2, 3, run_id=bad
            )
    import os

    assert not os.path.exists(idx) and not os.path.exists(prs)
    ingest_neardup_batch(
        spark, docs, 0, idx, prs, 4, 2, 3, run_id="2026-08-16"
    )
    assert os.path.isdir(f"{idx}/batch-2026-08-16-0")


def test_fence_refusal_message_detects_crashed_compaction(
    spark, sf_dir, tmp_path
):
    """The redelivery refusal must not hand out the re-ingest-under-a-
    fresh-id remedy while the fenced subdirectory still exists (the
    fence fragment is written BEFORE the swap, so a mid-compaction
    crash leaves exactly that state — there, a fresh-id re-ingest would
    double-count next to the surviving rows; the right fix is to re-run
    the compaction)."""
    from clinical_vector_search_spark.io import tables as T
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")
    ingest_neardup_batch(spark, docs, 0, idx, prs, 4, 2, 3)
    # crash state: fence written, swap never happened
    T.record_compacted_batches(spark, idx, ["batch-0"])
    with pytest.raises(ValueError, match="STILL EXISTS"):
        T.guard_batch_not_compacted(idx, "batch-0")
    # completed compaction: the usual fresh-id remedy
    T.compact_batched(spark, idx)
    with pytest.raises(ValueError, match="fresh batch id"):
        T.guard_batch_not_compacted(idx, "batch-0")


def test_compaction_and_swap_never_touch_local_fs_apis(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The whole compaction path — sizing, rewrite, swap, tombstone
    clear, upsert merge — goes through the data's own Hadoop
    FileSystem, never shutil/os sizing calls, so it works unchanged on
    non-local storage. Proven by making the local-FS APIs explode."""
    import os
    import shutil

    from clinical_vector_search_spark.io import tables as T
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    idx, prs = str(tmp_path / "index"), str(tmp_path / "pairs")
    ingest_neardup_batch(spark, docs, 0, idx, prs, 4, 2, 3)
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 50
    ).select(F.col("vec_id").alias("doc_id"), "embedding")
    vidx = str(tmp_path / "vindex")
    T.build_vector_index(vecs, vidx)
    before = read_neardup_output(spark, idx).count()

    def boom(*a, **k):
        raise AssertionError("compaction must not use local-FS APIs")

    for mod, name in (
        (shutil, "move"), (shutil, "rmtree"), (shutil, "copytree"),
        (os, "listdir"), (os.path, "getsize"), (os, "rename"),
        (os, "replace"),
    ):
        monkeypatch.setattr(mod, name, boom)

    assert T.compact_batched(spark, idx) >= 1
    assert read_neardup_output(spark, idx).count() == before
    # upsert swap path
    delta = vecs.filter(F.col("doc_id") < 5)
    T.upsert_vector_index(spark, vidx, delta)
    assert spark.read.parquet(vidx).count() == 50


def test_fence_and_compaction_work_on_scheme_qualified_paths(
    spark, sf_dir, tmp_path
):
    """The fence manifest, guard, compaction and swap must accept a
    scheme-qualified URI (file:///...) exactly as an object-store path
    would arrive — the Hadoop Path/FileSystem resolution, not string
    munging, owns the scheme."""
    from clinical_vector_search_spark.io import tables as T
    from clinical_vector_search_spark.operators.dedup import (
        ingest_neardup_batch,
        read_neardup_output,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    idx = f"file://{tmp_path}/index"
    prs = f"file://{tmp_path}/pairs"
    ingest_neardup_batch(spark, docs, 0, idx, prs, 4, 2, 3)
    before = sorted(map(tuple, read_neardup_output(spark, idx).collect()))
    assert T.compact_batched(spark, idx) >= 1
    assert sorted(
        map(tuple, read_neardup_output(spark, idx).collect())
    ) == before
    assert T.compacted_batches(idx) == {"batch-0"}
    with pytest.raises(ValueError, match="already"):
        T.guard_batch_not_compacted(idx, "batch-0")
