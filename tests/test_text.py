"""Text-function unit tests: clean/snippet/shingle edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import text as TXT
from clinical_vector_search_spark.operators.dedup import simhash


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (0, "  hello \r\n world\t\tfoo  "),
        (1, "one"),
        (2, "two words"),
        (3, "three token doc"),
        (4, "a b c d e"),
        (5, None),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_clean_text(tdf):
    got = {r.id: r.c for r in tdf.select("id", TXT.clean_text("text").alias("c")).collect()}
    assert got[0] == "hello world foo"
    assert got[5] is None  # null passthrough
    assert got[6] == ""


def test_snippet_truncates(spark):
    df = spark.createDataFrame([(0, "x" * 500 + "\nend")], "id long, text string")
    got = df.select(TXT.snippet("text", 200).alias("s")).collect()[0].s
    assert len(got) == 200 and "\n" not in got


def test_specialty_concat_null_safe(spark):
    df = spark.createDataFrame(
        [(0, "Cardiology", "note a"), (1, None, "note b")],
        "id long, spec string, text string",
    )
    got = {r.id: r.t for r in df.select(
        "id", TXT.specialty_concat("spec", "text").alias("t")).collect()}
    assert got[0] == "Cardiology, note a"
    assert got[1] == "note b"


def test_tokenize_empty_and_whitespace(tdf):
    got = {r.id: r.t for r in tdf.select("id", TXT.tokenize("text").alias("t")).collect()}
    assert got[0] == ["hello", "world", "foo"]
    assert got[6] == []


@pytest.mark.parametrize("n", [2, 3])
def test_shingles_short_docs_empty_not_crash(tdf, n):
    """ADVICE high-severity regression: docs with < n tokens must yield an
    empty shingle array, not INVALID_PARAMETER_VALUE.START."""
    got = {
        r.id: r.s
        for r in tdf.na.drop(subset=["text"]).select(
            "id", TXT.shingles(TXT.tokenize("text"), n).alias("s")
        ).collect()
    }
    assert got[1] == []  # 1 token < n
    if n == 3:
        assert got[2] == []
        assert got[3] == ["three token doc"]
    assert got[4] == [" ".join(["a", "b", "c", "d", "e"][i : i + n])
                      for i in range(5 - n + 1)]


def test_shingles_distinct(spark):
    df = spark.createDataFrame([(0, "x y x y x y")], "id long, text string")
    got = df.select(TXT.shingles(TXT.tokenize("text"), 2).alias("s")).collect()[0].s
    assert sorted(got) == ["x y", "y x"]


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(
        F.min(TXT.quality_score("text")).alias("lo"),
        F.max(TXT.quality_score("text")).alias("hi"),
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_ratios_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = docs.select(
        F.max(TXT.punct_ratio("text")).alias("p"),
        F.max(TXT.stopword_ratio(TXT.tokenize("text"))).alias("s"),
    ).collect()[0]
    assert 0.0 <= r.p <= 1.0 and 0.0 <= r.s <= 1.0


def test_redact_pii_patterns(spark):
    from clinical_vector_search_spark.functions.text import redact_pii

    rows = [
        (1, "contact john.doe+x@example.co.uk today"),
        (2, "ssn 123-45-6789 on file"),
        (3, "call 555-123-4567 or 555.987.6543"),
        (4, "no pii here, order 12345 shipped 2024-01-02"),
        (5, "mixed: a@b.io / 987-65-4321 / 111-222-3333"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.red for r in df.select("id", redact_pii("text").alias("red")).collect()}
    assert got[1] == "contact [EMAIL] today"
    assert got[2] == "ssn [SSN] on file"
    assert got[3] == "call [PHONE] or [PHONE]"
    assert got[4] == rows[3][1]  # untouched
    assert got[5] == "mixed: [EMAIL] / [SSN] / [PHONE]"


def test_chunk_rows_semantics(spark):
    from clinical_vector_search_spark.functions.text import chunk_rows

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: chunks at 1, 5
        (2, "a b c"),                               # shorter than size: 1 chunk
        (3, ""),                                    # empty: no chunks
        (4, None),                                  # null: no chunks
        (5, " ".join(f"w{i}" for i in range(8))),   # exactly size: 1 chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = chunk_rows(df, size=8, overlap=4).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 1 and 5 (greatest(10-4,1)=6 -> [1, 5]), overlap of 4
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_seq)
    assert [r.chunk_seq for r in c1] == [0, 1]
    assert c1[0].chunk_text == "t0 t1 t2 t3 t4 t5 t6 t7" and c1[0].n_tokens == 8
    assert c1[1].chunk_text == "t4 t5 t6 t7 t8 t9" and c1[1].n_tokens == 6
    # consecutive chunks share exactly `overlap` tokens
    assert c1[0].chunk_text.split()[-4:] == c1[1].chunk_text.split()[:4]
    assert by_doc[2][0].chunk_text == "a b c" and by_doc[2][0].n_tokens == 3
    assert 3 not in by_doc and 4 not in by_doc
    assert len(by_doc[5]) == 1 and by_doc[5][0].n_tokens == 8


def test_chunk_rows_covers_every_token(spark, sf_dir):
    from clinical_vector_search_spark.functions.text import chunk_rows, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = chunk_rows(docs, size=16, overlap=4)
    # sum of (n_tokens - overlap) + overlap-per-doc == total token count
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("s"), F.count("*").alias("c")
    )
    tot = docs.select(F.col("doc_id"), token_count("text").alias("n")).filter(
        F.col("n") > 0
    )
    joined = per_doc.join(tot, "doc_id").select(
        (F.col("s") - (F.col("c") - 1) * 4 - F.col("n")).alias("delta")
    )
    deltas = [r.delta for r in joined.collect()]
    assert deltas and all(d == 0 for d in deltas)


def test_tfidf_top_terms(spark):
    import math

    from clinical_vector_search_spark.functions.text import tfidf_top_terms

    rows = [
        (1, "apple apple banana shared"),
        (2, "banana cherry shared"),
        (3, "cherry date shared shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tfidf_top_terms(df, topk=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1 top term: apple (tf=2, df=1) -> 2*ln(3)
    top1 = sorted(by_doc[1], key=lambda r: r.term_rank)[0]
    assert top1.term == "apple" and top1.tf == 2 and top1.df == 1
    assert abs(top1.tfidf - round(2 * math.log(3.0), 6)) < 1e-9
    # 'shared' appears in all docs -> idf 0, never outranks a distinctive term
    for docid, lst in by_doc.items():
        for r in lst:
            if r.term == "shared":
                assert r.tfidf == 0.0
    assert all(len(lst) <= 2 for lst in by_doc.values())

def test_repetition_signals_handcrafted(spark):
    """dup/top-ngram fractions on crafted docs incl. degenerate lengths."""
    from clinical_vector_search_spark.functions.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a a a b"),        # dup 2/4; top1 3/4; top2 "a a" 2/3; top3 1/2
            (2, "x"),               # single token: no 2/3-grams
            (3, ""),                # empty text -> zero tokens
            (4, "p q p q p q"),     # top2 "p q" 3/5, "q p" 2/5; top3 2/4
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    r1 = got[1]
    assert (r1.n_tokens, r1.dup_token_frac, r1.top_1gram_frac) == (4, 0.5, 0.75)
    assert r1.top_2gram_frac == round(2 / 3, 6) and r1.top_3gram_frac == 0.5
    r2 = got[2]
    assert (r2.n_tokens, r2.top_2gram_frac, r2.top_3gram_frac) == (1, 0.0, 0.0)
    r3 = got[3]
    assert (r3.n_tokens, r3.dup_token_frac) == (0, 0.0)
    r4 = got[4]
    assert r4.top_2gram_frac == 0.6 and r4.top_3gram_frac == 0.5

def test_cms_overestimates_never_under(spark, sf_dir):
    """CMS bound: est >= true for every term; exact when no row collides."""
    from clinical_vector_search_spark.functions.text import tokenize
    from clinical_vector_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(tokenize("text")).alias("term"))
    true = {r.term: r.c for r in toks.groupBy("term").count()
            .withColumnRenamed("count", "c").collect()}
    sketch = cms_build(docs, width=512, depth=4)
    est = {r.term: r.est_count for r in cms_estimate(
        sketch, toks.select("term").distinct(), width=512, depth=4).collect()}
    assert set(est) == set(true)
    assert all(est[t] >= true[t] for t in true)
    # with a 512-wide sketch and a tiny vocab, most estimates are exact
    exact_frac = sum(est[t] == true[t] for t in true) / len(true)
    assert exact_frac > 0.9, exact_frac

def test_pack_sequences_invariants(spark, sf_dir):
    """Every doc packed exactly once; multi-doc packs never exceed the
    budget; oversized docs get singleton packs; packing is reasonably
    dense (beats one-doc-per-pack by a wide margin)."""
    from clinical_vector_search_spark.functions.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    out = pack_sequences(docs, max_tokens=128).collect()
    assert sorted(r.doc_id for r in out) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    by_pack: dict = {}
    for r in out:
        by_pack.setdefault(r.pack_id, []).append(r.n_tokens)
    for pack, toks in by_pack.items():
        if len(toks) > 1:
            assert sum(toks) <= 128, (pack, toks)
    assert len(by_pack) < n_docs / 1.5, (len(by_pack), n_docs)

def test_normalize_text_pd_goldens(spark):
    """Unicode canonicalization goldens: fullwidth, ligature, combining
    accent, case, null passthrough."""
    from clinical_vector_search_spark.functions.text import normalize_text_pd

    df = spark.createDataFrame(
        [
            (1, "Ｈｅｌｌｏ"),           # fullwidth -> hello
            (2, "ﬁle CAFÉ"),            # ligature + precomposed accent
            (3, "café"),          # combining accent
            (4, "STRASSE"),             # casefold (ß handled on casefold side)
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.norm_text for r in normalize_text_pd(df).collect()}
    assert got == {
        1: "hello",
        2: "file cafe",
        3: "cafe",
        4: "strasse",
        5: None,
    }


def test_dataset_fingerprint_order_invariant_null_distinct(spark):
    """Fingerprint is invariant to row order/partitioning; NULL, 'null'
    and '' render distinctly; any single-value change flips the hash."""
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.functions.hashing import (
        dataset_fingerprint,
    )

    rows = [(1, "a"), (2, None), (3, "null"), (4, "")]
    df = spark.createDataFrame(rows, "id long, v string")
    a = dataset_fingerprint(df, ["id", "v"]).collect()[0]
    b = dataset_fingerprint(
        df.repartition(5).orderBy(F.rand(3)), ["id", "v"]
    ).collect()[0]
    assert (a.n_rows, a.content_hash) == (4, b.content_hash) == (4, a.content_hash)

    # NULL vs the string 'null' vs '' must hash differently
    c = dataset_fingerprint(
        spark.createDataFrame([(2, "null")], "id long, v string"), ["id", "v"]
    ).collect()[0]
    d = dataset_fingerprint(
        spark.createDataFrame([(2, None)], "id long, v string"), ["id", "v"]
    ).collect()[0]
    e = dataset_fingerprint(
        spark.createDataFrame([(2, "")], "id long, v string"), ["id", "v"]
    ).collect()[0]
    assert len({c.content_hash, d.content_hash, e.content_hash}) == 3

    # a one-value edit changes the dataset identity
    f_ = dataset_fingerprint(
        df.withColumn("v", F.when(F.col("id") == 1, "b").otherwise(F.col("v"))),
        ["id", "v"],
    ).collect()[0]
    assert f_.content_hash != a.content_hash

    # separator injection: content shifted across a field boundary must
    # change the fingerprint (injective len:tag framing, not plain '|')
    g1 = dataset_fingerprint(
        spark.createDataFrame([("a|b", "c")], "x string, y string"), ["x", "y"]
    ).collect()[0]
    g2 = dataset_fingerprint(
        spark.createDataFrame([("a", "b|c")], "x string, y string"), ["x", "y"]
    ).collect()[0]
    assert g1.content_hash != g2.content_hash


def test_bigram_lm_score_ranks_fluency(spark):
    """Docs made of corpus-typical transitions outscore word salad;
    repeated fluent text has deterministic exact probabilities."""
    from clinical_vector_search_spark.functions.text import bigram_lm_score

    fluent = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, fluent),
        (1, fluent),                         # same transitions
        (2, "dog the over quick lazy fox"),  # same words, rare transitions
        (3, "single"),                       # < 2 tokens -> NULL score
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logp, r.ppl)
           for r in bigram_lm_score(df).collect()}
    assert got[0] == got[1]
    assert got[0][0] == 8
    assert got[3] == (0, None, None)
    # fluent docs: every transition seen 2x out of 2-3 histories
    assert got[0][1] > got[2][1]
    assert got[0][2] < got[2][2]  # lower perplexity = more fluent


def test_histogram_exact_bins_and_overflow(spark):
    from clinical_vector_search_spark.operators.sketch import histogram

    vals = [-2.0, 0.0, 0.49, 0.5, 0.99, 1.0, 3.5, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.bin: (r.bin_lo, r.bin_hi, r.n)
           for r in histogram(df, "v", 0.0, 1.0, 2).collect()}
    assert got[-1][2] == 1            # below lo
    assert got[0] == (0.0, 0.5, 2)    # [0, 0.5): 0.0, 0.49
    assert got[1] == (0.5, 1.0, 2)    # [0.5, 1): 0.5, 0.99
    assert got[2][2] == 2             # >= hi: 1.0, 3.5; NULL dropped


def test_pmi_cooccurrence_hand_check(spark):
    """4-doc corpus: (a,b) co-occur in 2 docs; a in 3 docs, b in 2 ->
    pmi = ln(2*4/(3*2)) = ln(4/3) > 0; all other pairs fall under the
    min_count support cut (x/y/c/d are singletons)."""
    import math

    from clinical_vector_search_spark.functions.text import (
        pmi_cooccurrence,
    )

    docs = spark.createDataFrame(
        [(1, "a b x"), (2, "a b y"), (3, "a c"), (4, "d")],
        "doc_id long, text string",
    )
    got = {
        (r.term_a, r.term_b): (r.n_ab, r.pmi)
        for r in pmi_cooccurrence(docs, min_count=2).collect()
    }
    assert got == {("a", "b"): (2, round(math.log(4 / 3), 6))}


def test_distinctive_terms_golden(spark):
    """Dunning G² hand-check: the slice-exclusive term tops its slice,
    ubiquitous terms score ~0, signed ranking puts 'distinctively
    absent' terms last."""
    import math

    from clinical_vector_search_spark.functions.text import (
        distinctive_terms,
    )

    rows = []
    for i in range(10):
        # gamma present in 9 of A's docs...
        rows.append((i, "common alpha" + (" gamma" if i < 9 else ""), "A"))
    for i in range(10, 20):
        # ...and 1 of B's: present-but-underrepresented in B
        rows.append((i, "common beta" + (" gamma" if i == 10 else ""), "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = distinctive_terms(df, group_col="source", topk=4, min_df=5)
    got = {(r.source, r.term): r for r in out.collect()}

    # exact G² for alpha-in-A: a=10,b=0,n1=n2=10 -> 2*10*ln(2)
    expect = round(2 * 10 * math.log(2.0), 6)
    assert abs(got[("A", "alpha")].g2 - expect) < 1e-9
    assert got[("A", "alpha")].n_in == 10 and got[("A", "alpha")].n_out == 0
    assert got[("A", "alpha")].term_rank == 1
    assert abs(got[("B", "beta")].g2 - expect) < 1e-9
    # 'common' is everywhere: G² exactly 0 (a/n1 == b/n2, both terms ln(1))
    assert got[("A", "common")].g2 == 0.0
    # gamma: 9-of-10 in A (positive), 1-of-10 in B (signed NEGATIVE:
    # distinctively underrepresented), G² magnitude equal by symmetry
    g_gamma = round(2 * (1 * math.log(1 / 5) + 9 * math.log(9 / 5)), 6)
    assert abs(got[("A", "gamma")].g2 - g_gamma) < 1e-9
    assert abs(got[("B", "gamma")].g2 + g_gamma) < 1e-9
    assert got[("B", "gamma")].term_rank > got[("B", "common")].term_rank
    # slice-ABSENT terms emit no row (a = 0 is unscored, not -inf)
    assert ("B", "alpha") not in got


def test_zipf_fit_matches_numpy_ols(spark):
    """zipf_fit == NumPy least-squares on the same (rank, freq) points."""
    import numpy as np

    from clinical_vector_search_spark.functions.text import zipf_fit

    # freqs 8/4/2/1 by construction: a ×8, b ×4, c ×2, d ×1
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = zipf_fit(df, min_count=1).collect()[0]
    assert row.n_terms == 4

    x = np.log(np.arange(1, 5, dtype=float))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(row.slope - round(slope, 6)) < 1e-6
    assert abs(row.intercept - round(intercept, 6)) < 1e-6
    ss_res = ((y - (slope * x + intercept)) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    assert abs(row.r2 - round(1 - ss_res / ss_tot, 6)) < 1e-6


def _ref_bpe(texts, n_merges, min_count=2):
    """Independent single-node BPE (dict/Counter) with the same
    tie-break and leftmost-first merge semantics."""
    from collections import Counter

    words = Counter()
    for t in texts:
        words.update(t.lower().split())
    vocab = {}
    for w, c in words.items():
        vocab[tuple(list(w) + ["▁"])] = vocab.get(tuple(list(w) + ["▁"]), 0) + c
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merges.append((rank, a, b, cnt))
        nv = {}
        for sym, c in vocab.items():
            out = []
            for s in sym:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def test_bpe_train_matches_reference(spark, sf_dir):
    """Distributed BPE == independent single-node BPE on the real
    corpus slice: same merges, same order, same counts (ties included)."""
    from clinical_vector_search_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 60"
    )
    texts = [r.text for r in docs.select("text").collect() if r.text]
    want = _ref_bpe(texts, 12)
    got = bpe_train(docs, n_merges=12)
    assert got == want and len(got) == 12


def test_bpe_merge_fold_overlap_semantics(spark):
    """Leftmost-first non-overlap: 'aaa' under (a,a) -> [aa, a, EOW]."""
    from clinical_vector_search_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(1, "aaa aaa"), (2, "aaa")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=2, min_pair_count=1)
    # iteration 1: pairs (a,a)x2-per-word... the top merge must be (a,a)
    assert (merges[0][1], merges[0][2]) == ("a", "a")
    ref = _ref_bpe(["aaa aaa", "aaa"], 2, min_count=1)
    assert merges == ref


def test_bpe_encode_matches_reference(spark, sf_dir):
    """Distributed encode with a learned merge table == single-node
    greedy application, word by word."""
    from clinical_vector_search_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 40"
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    merges = bpe_train(docs, n_merges=8)
    assert merges == _ref_bpe(list(texts.values()), 8)

    def ref_len(word):
        sym = list(word) + ["▁"]
        for _, a, b, _c in merges:
            out = []
            for s in sym:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            sym = out
        return len(sym)

    got = {r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe)
           for r in bpe_encode(docs, merges).collect()}
    for did, text in texts.items():
        toks = (text or "").lower().split()
        assert got[did] == (len(toks), sum(ref_len(w) for w in toks))


def test_token_dropout_deterministic_and_bounded(spark):
    """Same corruption every run/partitioning; drop rate near 1/drop_mod;
    kept tokens are an ordered subsequence (digest of doc 0 recomputable
    from the same hash rule)."""
    import hashlib

    from clinical_vector_search_spark.functions.text import token_dropout

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(50))) for i in range(40)],
        "doc_id long, text string",
    )
    a = {r.doc_id: (r.n_tokens, r.n_kept, r.kept_md5)
         for r in token_dropout(docs, 10).collect()}
    b = {r.doc_id: (r.n_tokens, r.n_kept, r.kept_md5)
         for r in token_dropout(docs.repartition(7), 10).collect()}
    assert a == b
    total = sum(v[0] for v in a.values())
    kept = sum(v[1] for v in a.values())
    assert 0.8 < kept / total < 0.98  # ~10% dropout

    # independent recomputation of doc 0's kept set
    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    kept0 = [f"w{j}" for j in range(50) if md5_60(f"0:{j + 1}") % 10 != 0]
    assert a[0][2] == hashlib.md5(" ".join(kept0).encode()).hexdigest()


def test_canonicalize_url_goldens(spark):
    """Every normalization rule load-bearing: scheme, host case, www,
    default ports, trailing slash, fragment, tracking params, param
    order — all eight spellings of the same two resources collapse."""
    cases = [
        # resource A in six disguises
        "HTTPS://WWW.Example.COM:443/Docs/12/?utm_source=feed&ref=9&q=3#s",
        "http://example.com/Docs/12?q=3",
        "https://example.com:80/Docs/12?q=3&utm_medium=x",
        "example.com/Docs/12/?q=3",
        # resource B in two param orders (+ a tracking param)
        "https://example.com/a/b?z=1&a=2&fbclid=xyz",
        "https://example.com/a/b?a=2&z=1",
        # bare hosts
        "https://www.example.com",
        "https://example.com/?utm_source=a",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "id long, url string"
    )
    got = {
        r.id: r.c
        for r in df.select(
            "id", TXT.canonicalize_url("url").alias("c")
        ).collect()
    }
    assert got[0] == got[1] == got[2] == got[3] == "example.com/Docs/12?q=3"
    assert got[4] == got[5] == "example.com/a/b?a=2&z=1"
    assert got[6] == got[7] == "example.com"
    # path case is KEPT (paths are case-sensitive, hosts are not)
    assert "Docs" in got[0]


def test_winnowing_matches_sequential_reference(spark):
    """The packed-key window-min selection must equal the sequential
    'min per window, ties rightmost' rule of Schleimer et al. 2003."""
    import hashlib

    from clinical_vector_search_spark.functions.text import (
        winnowing_fingerprints,
    )

    text = "the quick brown fox jumps over the lazy dog the quick brown cat"
    k, w = 3, 4
    toks = text.lower().split()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (1 << 31)

    hs = [h(g) for g in grams]
    expected = set()
    for i in range(len(hs) - w + 1):
        window = hs[i : i + w]
        m = min(window)
        # rightmost occurrence of the min
        j = max(idx for idx, v in enumerate(window) if v == m)
        expected.add((i + j, m))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r.fp_pos, r.fp_hash)
        for r in winnowing_fingerprints(df, k=k, w=w).collect()
    }
    assert got == expected
    # short doc (< w k-grams): exactly its global min survives
    short = "alpha beta gamma delta"  # 2 k-grams < w
    df2 = spark.createDataFrame([(2, short)], "doc_id long, text string")
    out2 = winnowing_fingerprints(df2, k=k, w=w).collect()
    g2 = [" ".join(short.split()[i : i + k]) for i in range(2)]
    h2 = [h(x) for x in g2]
    m = min(h2)
    j = max(i for i, v in enumerate(h2) if v == m)
    assert {(r.fp_pos, r.fp_hash) for r in out2} == {(j, m)}


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a run of >= w+k-1 words must share >= 1
    fingerprint hash (the paper's no-false-negative threshold)."""
    from clinical_vector_search_spark.functions.text import (
        winnowing_fingerprints,
    )

    k, w = 3, 4
    shared = "one two three four five six"  # 6 = w+k-1 words
    d1 = "aaa bbb ccc " + shared + " ddd eee"
    d2 = "zzz yyy " + shared + " xxx www vvv"
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    fp = winnowing_fingerprints(df, k=k, w=w).collect()
    h1 = {r.fp_hash for r in fp if r.doc_id == 1}
    h2 = {r.fp_hash for r in fp if r.doc_id == 2}
    assert h1 & h2, "shared run produced no shared fingerprint"


def test_heaps_fit_numpy_parity_and_beta_range(spark):
    """OLS parity with NumPy on synthetic slices obeying V = 3*N^0.5."""
    import numpy as np

    from clinical_vector_search_spark.functions.text import heaps_fit

    # build slices whose (n_tokens, n_vocab) hit exact Heaps points:
    # slice i has n distinct words repeated to n_tokens total
    rows = []
    pts = []
    for i, n_tokens in enumerate([100, 400, 1600, 6400]):
        n_vocab = int(3 * n_tokens**0.5)
        words = [f"s{i}w{j}" for j in range(n_vocab)]
        text = " ".join(words[j % n_vocab] for j in range(n_tokens))
        rows.append((i, f"src{i}", text))
        pts.append((n_tokens, n_vocab))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = heaps_fit(df, group_col="source").collect()
    assert len(out) == 1
    r = out[0]
    x = np.log([p[0] for p in pts])
    y = np.log([p[1] for p in pts])
    beta, icpt = np.polyfit(x, y, 1)
    assert abs(r.beta - round(beta, 6)) < 1e-6
    assert abs(r.k - round(float(np.exp(icpt)), 6)) < 1e-4
    assert 0.45 < r.beta < 0.55  # int() floors keep it near 0.5
    assert r.r2 > 0.999


def test_readability_hand_counts(spark):
    from clinical_vector_search_spark.functions.text import readability

    txt = "The cat sat. The dog ran! Was it fun?"
    # words=9, sentence runs=3, vowel groups: e,a,a,e,o,a,a,i,u -> 9
    df = spark.createDataFrame([(1, txt)], "doc_id int, text string")
    r = readability(F.col("text"))
    out = df.select(
        r["n_words"].alias("w"),
        r["n_sents"].alias("s"),
        r["n_syll"].alias("y"),
        F.round(r["flesch_ease"], 4).alias("ease"),
        F.round(r["fk_grade"], 4).alias("grade"),
    ).collect()[0]
    assert out["w"] == 9 and out["s"] == 3 and out["y"] == 9
    ease = 206.835 - 1.015 * (9 / 3) - 84.6 * (9 / 9)
    grade = 0.39 * (9 / 3) + 11.8 * (9 / 9) - 15.59
    assert out["ease"] == pytest.approx(ease, abs=1e-3)
    assert out["grade"] == pytest.approx(grade, abs=1e-3)
    # no terminal punctuation -> one sentence, not div-by-zero
    df2 = spark.createDataFrame([(2, "just words here")], "doc_id int, text string")
    assert df2.select(r["n_sents"].alias("s")).collect()[0]["s"] == 1


def test_trigram_search_lossless_pruning(spark):
    from clinical_vector_search_spark.operators.sparse import (
        trigram_postings,
        trigram_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha merge batch gamma"),
            (2, "merge then batch"),          # has all trigrams? no 'e b'
            (3, "MERGE BATCH upper case"),    # case-folded hit
            (4, "no match at all"),
            (5, "xx"),                        # shorter than a trigram
        ],
        "doc_id int, text string",
    )
    postings = trigram_postings(docs)
    hits = sorted(
        r.doc_id
        for r in trigram_search(postings, docs, "merge batch").collect()
    )
    assert hits == [1, 3]
    # ground truth: exact scan agrees (pruning is lossless)
    truth = sorted(
        r.doc_id
        for r in docs.filter(
            F.contains(F.lower("text"), F.lit("merge batch"))
        ).collect()
    )
    assert hits == truth
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trigram_search(postings, docs, "ab")


def _h60(s):
    """functions.hashing.md5_long in Python: first 15 hex digits of md5."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _jvm_tokens(df):
    """doc_id -> functions.text.tokenize's tokens, evaluated on the JVM,
    so a reference built on them pins the kernels' Python str.lower() /
    whitespace split to Spark's lower() / split."""
    return {
        r.doc_id: r.toks
        for r in df.select("doc_id", TXT.tokenize("text").alias("toks")).collect()
        if r.toks
    }


def _cdc_reference(toks, w, divisor):
    """Cut AFTER i + w for every window start i whose w-token hash is
    ≡ 0 (mod divisor); chunks are the spans between 0, the cuts and n."""
    n = len(toks)
    cuts = [
        i + w
        for i in range(n - w + 1)
        if _h60(" ".join(toks[i : i + w])) % divisor == 0
    ]
    bounds = sorted({0, n, *cuts})
    out = []
    for seq, (a, b) in enumerate(zip(bounds, bounds[1:])):
        piece = " ".join(toks[a:b])
        out.append((seq, piece, _h60(piece), b - a))
    return out


def test_cdc_chunk_rows_pd_parity(spark):
    """cdc_chunk_rows equals a plain-Python chunker over JVM tokens on
    every test sf (hashes, seqs, texts, token counts), including
    short-doc (< w tokens) and multi-cut docs, plus non-ASCII text."""
    from clinical_vector_search_spark.functions.text import cdc_chunk_rows

    def check(docs, w, divisor):
        got = sorted(
            map(tuple, cdc_chunk_rows(docs, w=w, divisor=divisor).collect())
        )
        want = sorted(
            (d, *c)
            for d, toks in _jvm_tokens(docs).items()
            for c in _cdc_reference(toks, w, divisor)
        )
        assert got == want, (w, divisor)
        assert got  # non-degenerate

    for sf in ("sf0.001", "sf0.01"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        for w, divisor in ((4, 8), (3, 4)):
            check(docs, w, divisor)

    # non-ASCII lowercasing (ADVICE r15): Python str.lower() and JVM
    # lower() agree on these full-case mappings (U+0130 → i+U+0307,
    # final sigma, ß) — pinned against the JVM tokens so a runtime
    # divergence surfaces here instead of silently changing chunk hashes
    uni = spark.createDataFrame(
        [
            (1, "İstanbul ß ΣΊΣΥΦΟΣ κόσμε word İstanbul ß ΣΊΣΥΦΟΣ tail"),
            (2, "STRASSE grüße ΕΛΛΑΣ Ёлка ЁЛКА mixed ascii words here"),
        ],
        "doc_id long, text string",
    )
    check(uni, 3, 2)


def _winnow_reference(toks, k, w):
    """{(fp_pos, fp_hash)}: per window of w consecutive k-gram hashes
    (md5_long % 2^31) the minimum, ties to the RIGHTMOST position; a doc
    with fewer than w grams keeps its global minimum. Grams at position
    ≥ 2^21 are dropped (the packed-key position cap)."""
    hs = [
        _h60(" ".join(toks[i : i + k])) % (1 << 31)
        for i in range(min(len(toks) - k + 1, 1 << 21))
    ]
    if not hs:
        return set()
    if len(hs) < w:
        wins = [range(len(hs))]
    else:
        wins = [range(i, i + w) for i in range(len(hs) - w + 1)]
    out = set()
    for win in wins:
        m = min(hs[j] for j in win)
        out.add((max(j for j in win if hs[j] == m), m))
    return out


def test_winnowing_pd_parity(spark):
    """winnowing_fingerprints equals the sequential rule over JVM tokens
    on every test sf (values AND bigint dtypes), plus constructed edge
    docs: empty, < k tokens, exactly k tokens, m < w grams, m == w, hash
    ties, and non-ASCII text (the Python str.lower() ↔ JVM lower()
    assumption the kernel documents)."""
    from clinical_vector_search_spark.functions.text import (
        winnowing_fingerprints,
    )

    def check(df, k, w):
        fp = winnowing_fingerprints(df, k=k, w=w)
        assert fp.dtypes == [
            ("doc_id", "bigint"), ("fp_pos", "bigint"), ("fp_hash", "bigint")
        ]
        got = sorted(map(tuple, fp.collect()))
        want = sorted(
            (d, *f)
            for d, toks in _jvm_tokens(df).items()
            for f in _winnow_reference(toks, k, w)
        )
        assert got == want, (k, w)
        assert got  # non-degenerate

    for sf in ("sf0.001", "sf0.01"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        for k, w in ((3, 4), (2, 5)):
            check(docs, k, w)

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, "one two"),            # < k tokens for k=3
            (3, "one two three"),      # exactly k → 1 gram (m < w)
            (4, "a b c d e"),          # m = 3 < w
            (5, "a b c d e f g h i"),  # m > w
            (6, "x x x x x x x x"),    # identical grams → hash ties
            (7, None),
            (8, "İstanbul ß ΣΊΣΥΦΟΣ κόσμε İstanbul ß ΣΊΣΥΦΟΣ word"),
            (9, "  padded \t tokens \n with   runs  "),
        ],
        "doc_id long, text string",
    )
    check(edge, 3, 4)


@pytest.mark.parametrize(
    "kernel",
    [TXT.cdc_chunk_rows, TXT.winnowing_fingerprints, simhash],
    ids=lambda f: f.__name__,
)
def test_arrow_text_kernels_reject_non_integral_id(spark, kernel):
    """The kernels' output schema declares ``{id_col} long``: a string id
    is refused at plan build with the column and its type named."""
    df = spark.createDataFrame([("a", "some text here")], "doc_id string, text string")
    with pytest.raises(ValueError, match="'doc_id'.*string"):
        kernel(df)
