"""Text-column function library (SURVEY.md §2.2, §2.10 + pipeline extensions).

Column functions are built-in Spark SQL expressions (JVM codegen,
pushdown-friendly) — no Python UDFs; the per-doc chunking/fingerprinting
operators (cdc_chunk_rows, winnowing_fingerprints) are Arrow map-only
kernels. The reference implements clean_text as a row-at-a-time
Python UDF (src/pipeline/pipeline.py:50, utils.py:43-48), which is an
optimization barrier; the built-in regexp pipeline below is semantically
identical (strip \\r \\n, collapse whitespace runs, trim, null passthrough).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_text(c: Column | str) -> Column:
    """P3: collapse all whitespace (incl. \\r\\n) to single spaces and trim.
    Matches reference utils.py:43-48 (null passes through)."""
    return F.trim(F.regexp_replace(_col(c), r"\s+", " "))


def snippet(c: Column | str, length: int = 200) -> Column:
    """P9: first N chars for display, newlines → spaces
    (pipeline_mode.py:48, compare_base_vs_dp.py:19)."""
    return F.substring(F.regexp_replace(_col(c), r"\n", " "), 1, length)


def specialty_concat(specialty: Column | str, text: Column | str) -> Column:
    """P5: ``specialty + ", " + text`` when specialty is non-null, else text
    (pipeline.py:59-64)."""
    specialty, text = _col(specialty), _col(text)
    return F.when(
        specialty.isNotNull(), F.concat_ws(", ", specialty, text)
    ).otherwise(text)


def attr_sentence(*cols: Column | str) -> Column:
    """P10: "{name} {gender} {age} {city}" attribute sentence
    (pipeline_mode.py:69-72)."""
    return F.concat_ws(" ", *[_col(c) for c in cols])


def tokenize(c: Column | str) -> Column:
    """lower().split() — the reference's BM25 tokenizer (pipeline.py:171).
    Splits on whitespace runs; empty tokens filtered."""
    return F.filter(
        F.split(F.lower(F.trim(_col(c))), r"\s+"), lambda t: t != F.lit("")
    )


def require_integral_id(df: DataFrame, id_col: str) -> None:
    """Reject a non-integral ``id_col`` at plan build: the Arrow text
    kernels (:func:`cdc_chunk_rows`, :func:`winnowing_fingerprints`,
    ``dedup.simhash``) declare ``{id_col} long`` in their output schema,
    so any other id type would fail only at execution, inside a task."""
    from pyspark.sql.types import IntegralType

    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, IntegralType):
        raise ValueError(
            f"id column {id_col!r} must be integral (output schema is "
            f"'{id_col} long'), got {dtype.simpleString()}"
        )


def shingles(tokens: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), distinct. Input: token array.

    expr: for i in 1..len-n+1 -> concat_ws(' ', slice(tokens, i, n)).

    Docs with fewer than ``n`` tokens yield an EMPTY array (they drop out of
    explode-based consumers) — guarded with ``when``, because
    ``sequence(1, 0)`` would otherwise produce the descending list [1, 0]
    and ``slice(tokens, 0, n)`` throws INVALID_PARAMETER_VALUE.START.
    """
    tokens = _col(tokens)
    count = F.size(tokens) - F.lit(n - 1)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        )
    )
    return F.when(count >= 1, grams).otherwise(
        F.expr("cast(array() as array<string>)")
    )


def shingle_rows(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Exploded word n-gram rows (id_col, shingle) — the fast path for
    operators that consume shingles row-wise (MinHash, n-gram Jaccard).

    ~6× faster than ``explode(shingles(tokenize(text)))`` measured at
    sf0.1: ``transform``/``slice`` higher-order functions are
    CodegenFallback (interpreted per element), while ``posexplode`` +
    ``lead()`` runs inside whole-stage codegen. Costs one hash-shuffle on
    ``id_col`` (high-cardinality, uniform — partitions well at 100 TB; the
    downstream groupBy on the same key reuses the partitioning).

    Same contract as ``shingles()``: docs with fewer than ``n`` tokens
    emit nothing (the trailing ``lead`` is null), and ``distinct=True``
    dedups per-doc shingles. Pass ``distinct=False`` when the consumer is
    duplicate-invariant (e.g. min-hash minima) to skip that shuffle.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    rows = (
        toks.select(
            F.col(id_col),
            F.concat_ws(" ", *parts).alias("shingle"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select(id_col, "shingle")
    )
    return rows.distinct() if distinct else rows


def chunk_rows(
    df: DataFrame,
    size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the standard pre-embedding stage
    of an LLM training/RAG pipeline (split long docs into model-window-sized
    pieces, keep ``overlap`` tokens of context between neighbors).

    Returns (id_col, chunk_seq, chunk_text, n_tokens): chunk ``i`` covers
    tokens [1 + i*(size-overlap), … + size); the final chunk may be shorter;
    docs with no tokens emit nothing. Pure JVM expressions (sequence +
    slice inside one ``posexplode`` fan-out) — no shuffle at all until a
    downstream consumer aggregates, so at 100 TB this is a map-only stage
    that pipelines into the embedder.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {size=} {overlap=}")
    step = size - overlap
    # null text tokenizes to null; size(null)=null would otherwise slip a
    # phantom chunk through greatest/least (which skip nulls in Spark)
    toks = df.select(F.col(id_col), tokenize(text_col).alias("_toks")).filter(
        F.size("_toks") >= 1
    )
    n = F.size("_toks")
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(step)
    )
    out = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.struct(
                    F.array_join(F.slice("_toks", s, size), " ").alias("chunk_text"),
                    F.least(F.lit(size), n - s + 1).alias("n_tokens"),
                ),
            )
        ).alias("chunk_seq", "_c"),
    )
    return out.filter(F.col("_c.n_tokens") > 0).select(
        F.col(id_col),
        F.col("chunk_seq").cast("long").alias("chunk_seq"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_tokens").cast("long").alias("n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    topk: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TF-IDF top-``topk`` terms per document: tf = term count in doc,
    idf = ln(N / df), score rounded to 6 decimals (rank ties break by the
    rounded score then term ascending — deterministic cross-engine).

    Plan shape at scale: one (doc, term) shuffle for tf, a map-side-combined
    term-keyed agg for df (skewed common terms are fine — partial aggregation
    absorbs them before the exchange), the corpus size joined in as a
    broadcast scalar (no driver ``count()`` action in the plan), and a
    per-doc window for the top-k. Returns
    (id_col, term_rank, term, tf, df, tfidf)."""
    toks = df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.select(F.count("*").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= topk)
        .select(id_col, "term_rank", "term", "tf", "df", "tfidf")
    )


# PII patterns for corpus scrubbing. Deliberately restricted to the
# Java-regex ∩ RE2 common subset (no lookaround/backrefs) so the same
# pattern runs identically in Spark and SQL oracles — and compiles on
# RE2-based engines at scale. Conservative by design: high-precision
# shapes only; a production scrubber would add locale-specific recall.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),  # before phone: both are dashed digits
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
)


def redact_pii(c: Column | str) -> Column:
    """Scrub emails / SSNs / US phone numbers to typed placeholders — the
    standard pre-training corpus-cleaning stage. Pure JVM regexp_replace
    chain: codegen-friendly, pushes through the scan, no UDF."""
    out = _col(c)
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def token_count(c: Column | str) -> Column:
    return F.size(tokenize(c))


# query params that identify a click, not a resource — dropped by
# canonicalize_url (utm_* handled as a prefix class)
TRACKING_PARAM_RE = "^(ref|fbclid|gclid|mc_cid|mc_eid)="


def canonicalize_url(c: Column | str) -> Column:
    """Canonical form of a URL for web-corpus dedup — the normalize step
    every crawl pipeline runs before grouping (the same resource is
    crawled as http/https, with/without www, with per-click tracking
    params, in any param order, with fragments):

      1. drop the ``#fragment`` (client-side only),
      2. drop the scheme, lowercase the host, strip leading ``www.``
         and the default ports ``:80``/``:443`` (path case is KEPT —
         paths are case-sensitive, hosts are not),
      3. strip one trailing ``/`` from the path,
      4. drop tracking params (``utm_*`` prefix class +
         :data:`TRACKING_PARAM_RE`), sort the survivors so param order
         cannot split a group, and re-join.

    Pure expression chain (regexp_replace / substring_index / filter /
    array_sort) — codegen-friendly, no UDF, and exactly mirrorable in
    ANSI SQL so the dedup groups are value-hash checkable. Returns
    ``host + path [+ '?' + query]``."""
    u = F.substring_index(_col(c), "#", 1)
    u = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.substring_index(u, "/", 1))
    host = F.regexp_replace(host, "^www\\.", "")
    host = F.regexp_replace(host, ":(80|443)$", "")
    # rest of the URL from the first '/' (empty when there is no path)
    rest = F.when(
        F.instr(u, "/") > 0,
        F.substring(u, F.instr(u, "/").cast("int"), F.lit(1 << 30)),
    ).otherwise(F.lit(""))
    path = F.regexp_replace(F.substring_index(rest, "?", 1), "/$", "")
    query = F.when(
        F.instr(rest, "?") > 0,
        F.substring(
            rest, (F.instr(rest, "?") + 1).cast("int"), F.lit(1 << 30)
        ),
    ).otherwise(F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: ~(
                    p.startswith("utm_") | p.rlike(TRACKING_PARAM_RE)
                ),
            )
        ),
        "&",
    )
    return F.concat(
        host,
        path,
        F.when(F.length(kept) > 0, F.concat(F.lit("?"), kept)).otherwise(
            F.lit("")
        ),
    )


# BPE-style pre-tokenizer classes (GPT-2-ish, ASCII subset so Spark's Java
# regex and RE2-based SQL engines agree): word runs, digit runs, or a
# single non-space-non-alnum symbol.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_token_count(c: Column | str) -> Column:
    """Approximate subword-budget token count: number of BPE-pre-tokenizer
    matches (letter runs / digit runs / single symbols). A cheap,
    deterministic proxy for LLM token budgeting over a 100 TB corpus —
    pure JVM regex, no vocab lookup."""
    return F.size(F.regexp_extract_all(_col(c), F.lit(BPE_PATTERN), F.lit(0)))


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after lowering."""
    c = _col(c)
    stripped = F.regexp_replace(F.lower(c), r"[a-z0-9 ]", "")
    return F.length(stripped).cast("double") / F.greatest(
        F.length(c), F.lit(1)
    ).cast("double")


STOPWORDS = (
    "the a an and or of to in is it for on with as at by from that this".split()
)


def stopword_ratio(tokens: Column | str) -> Column:
    """Fraction of tokens in a small fixed English stopword list."""
    tokens = _col(tokens)
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop, t)))
    return n_stop.cast("double") / F.greatest(F.size(tokens), F.lit(1)).cast(
        "double"
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic doc-quality score in [0,1]: rewards mid-length docs, low
    punctuation noise, sane stopword density. Deterministic, SQL-expressible;
    the exact weights are this engine's own contract (no reference analog —
    training-data-pipeline extension)."""
    text = _col(text)
    toks = tokenize(text)
    n = F.size(toks).cast("double")
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    punct = punct_ratio(text)
    stop = stopword_ratio(toks)
    # ideal stopword band ~[0.1, 0.5]
    stop_score = F.when((stop >= 0.1) & (stop <= 0.5), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return (
        F.lit(0.4) * len_score + F.lit(0.3) * (F.lit(1.0) - punct) + F.lit(0.3) * stop_score
    )


# tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic (extension operator; deterministic and SQL-expressible).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def lang_score(tokens: Column | str, lang: str) -> Column:
    """Count of tokens matching ``lang``'s marker lexicon."""
    tokens = _col(tokens)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(markers, t)))


def lang_id(tokens: Column | str) -> Column:
    """Language-ID heuristic: the language whose marker lexicon matches the
    most tokens; 'und' (undetermined) when nothing matches. Ties break by
    language code ascending (deterministic, SQL-expressible)."""
    tokens = _col(tokens)
    langs = sorted(LANG_MARKERS)
    best_lang = F.lit("und")
    best_n = F.lit(0)
    # fold in reverse-sorted order so earlier (ascending) languages win ties
    for lang in reversed(langs):
        n = lang_score(tokens, lang)
        best_lang = F.when(n >= F.greatest(best_n, F.lit(1)), F.lit(lang)).otherwise(
            best_lang
        )
        best_n = F.greatest(best_n, n)
    return best_lang


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 repetition filters, re-expressed over tokens since this
    corpus has no line structure): duplicate-token fraction (1 - type/token
    ratio) and the occurrence fraction of the most frequent 1/2/3-gram.
    High values flag boilerplate/degenerate docs for pre-training filters.

    Plan shape: per-row HOF expressions for the token stats, then one
    explode -> groupBy(doc, gram) -> groupBy(doc) max per n-gram level —
    the same postings shape as TF-IDF, linear in corpus size (never
    quadratic in doc length, unlike a per-row mode-by-filter HOF).
    Returns (id, n_tokens, dup_token_frac, top_1gram_frac, top_2gram_frac,
    top_3gram_frac), fractions rounded to 6.
    """
    toks = df.select(F.col(id_col), tokenize(text_col).alias("toks"))
    base = toks.select(
        id_col,
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        "toks",
    )

    def gram_expr(n: int) -> str:
        # slice(toks, 1, 0) = typed empty array (sequence(0, -1) would
        # produce a DESCENDING [0,-1] and index out of range)
        if n == 1:
            return "toks"
        cat = ", ".join(f"toks[i + {j}]" for j in range(n))
        return (
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(0, size(toks) - {n}), i -> concat_ws(' ', {cat})) "
            f"ELSE slice(toks, 1, 0) END"
        )

    out = base.select(id_col, "n_tokens", "n_distinct")
    for n in (1, 2, 3):
        mx = (
            base.select(id_col, F.explode(F.expr(gram_expr(n))).alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count("*").alias("c"))
            .groupBy(id_col)
            .agg(F.max("c").alias(f"_mx{n}"))
        )
        out = out.join(mx, id_col, "left")
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, F.coalesce(num, F.lit(0)).cast("double") / den)
        .otherwise(F.lit(0.0)),
        6,
    )
    return out.select(
        id_col,
        "n_tokens",
        frac(F.col("n_tokens") - F.col("n_distinct"), F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        frac(F.col("_mx1"), F.col("n_tokens")).alias("top_1gram_frac"),
        frac(F.col("_mx2"), F.col("n_tokens") - 1).alias("top_2gram_frac"),
        frac(F.col("_mx3"), F.col("n_tokens") - 2).alias("top_3gram_frac"),
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing — fill fixed-size training windows with whole
    documents (greedy first-fit by token count) so short docs don't waste
    padding. The canonical pre-training batching step.

    Globally optimal bin packing is inherently sequential; the scalable
    contract (what every production packer does) is greedy packing WITHIN
    each partition via ``mapInPandas`` — map-only, no shuffle — with pack
    ids made globally unique by offsetting with the partition id. Docs
    longer than ``max_tokens`` get a pack of their own (truncation is the
    chunker's job, not the packer's).

    Returns (pack_id, id, n_tokens): one row per packed doc; aggregate by
    pack_id for the sequences. Invariants (tested): every doc appears
    exactly once; no multi-doc pack exceeds max_tokens.

    The open-pack set is BOUNDED (first-fit over the ``max_open`` most
    recently opened packs; the oldest retires when the set is full) —
    unbounded first-fit degrades to O(n²) scans per partition once packs
    fill up. Output streams per Arrow batch (packer state persists across
    batches), so worker memory is O(batch + max_open), not O(partition).
    """
    from typing import Iterator as _Iterator

    import pandas as _pd
    from pyspark.sql.functions import spark_partition_id

    max_open = 64
    toks = df.select(
        F.col(id_col),
        # null text tokenizes to null -> NaN in Arrow -> int() crash; a
        # null doc packs as zero tokens (kept: exactly-once contract)
        F.coalesce(token_count(text_col), F.lit(0)).alias("_nt"),
        spark_partition_id().alias("_pid"),
    )

    def pack(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        # one packer state per PARTITION (mapInPandas calls this once per
        # partition; batches iterate within it)
        open_packs: list[tuple[int, int]] = []  # (local pack id, used)
        next_id = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            out_ids, out_packs, out_nt = [], [], []
            for did, nt in zip(pdf[id_col], pdf["_nt"]):
                nt = int(nt)
                placed = None
                for j, (pk, used) in enumerate(open_packs):
                    if used + nt <= max_tokens:
                        placed = j
                        break
                if placed is None:
                    if len(open_packs) >= max_open:
                        open_packs.pop(0)  # retire the oldest
                    open_packs.append((next_id, nt))
                    pk = next_id
                    next_id += 1
                else:
                    pk, used = open_packs[placed]
                    open_packs[placed] = (pk, used + nt)
                out_ids.append(int(did))
                out_packs.append(pk)
                out_nt.append(nt)
            # globally unique pack ids: partition id in the high bits
            yield _pd.DataFrame(
                {
                    "pack_id": [pid * 1_000_000_000 + p for p in out_packs],
                    id_col: out_ids,
                    "n_tokens": out_nt,
                }
            )

    return toks.mapInPandas(pack, f"pack_id long, {id_col} long, n_tokens long")


def normalize_text_pd(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "norm_text",
    form: str = "NFKC",
    strip_accents: bool = True,
    casefold: bool = True,
) -> DataFrame:
    """Unicode normalization — the canonicalization pass web-scale text
    needs before tokenization/dedup (fullwidth forms, ligatures, combining
    accents and case all fragment token statistics). Spark has no built-in
    Unicode normalizer, so this is an Arrow-batched mapInPandas kernel
    (unicodedata is pure stdlib): ``form`` normalization → optional
    casefold → optional combining-mark strip (NFD decompose, drop Mn).
    The strip runs AFTER casefold because casefold can introduce combining
    marks (e.g. Turkish İ → 'i' + U+0307). Null text passes through."""
    import unicodedata
    from typing import Iterator as _Iterator

    import pandas as _pd

    def norm_one(t):
        if t is None:
            return None
        s = unicodedata.normalize(form, str(t))
        if casefold:
            s = s.casefold()
        if strip_accents:
            s = "".join(
                c
                for c in unicodedata.normalize("NFD", s)
                if unicodedata.category(c) != "Mn"
            )
            s = unicodedata.normalize("NFC", s)
        return s

    def fn(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: [norm_one(t) for t in pdf[text_col]],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        fn, f"{id_col} long, {out_col} string"
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-self-trained bigram language-model scoring — the
    count-based version of the CCNet/Wikipedia-LM perplexity filter used
    to rank documents by fluency, with no external model: train bigram
    statistics ON the corpus in the same plan, then score each document
    by its mean bigram log-probability.

    P(w2|w1) = c(w1 w2) / c(w1·), both counts over the whole corpus
    (c(w1·) = occurrences of w1 as a bigram history, the standard
    conditional denominator). Per doc: (n_bigrams, avg_logp, ppl) with
    ppl = exp(-avg_logp); docs with < 2 tokens score NULL. A document of
    corpus-typical word transitions scores near the corpus average; word
    salad (or another language) scores far below — cut on ppl.

    Scale shape: bigram rows via the codegen lead-window (one shuffle on
    id), count tables via map-side-combined groupBys on md5-hashed
    8-byte keys, two slim equi-joins back (count tables are
    vocabulary-sized, broadcastable at most corpus sizes), one per-doc
    aggregation. Everything bigram- or vocab-sized; no driver state.
    """
    from clinical_vector_search_spark.functions import hashing as H

    big = shingle_rows(df, 2, text_col, id_col, distinct=False).select(
        F.col(id_col),
        H.md5_long(F.col("shingle")).alias("g2"),
        H.md5_long(F.split(F.col("shingle"), " ").getItem(0)).alias("g1"),
    )
    c2 = big.groupBy("g2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("g1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        big.join(c2, "g2")
        .join(c1, "g1")
        .withColumn("logp", F.log(F.col("c2") / F.col("c1")))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.col("avg_logp"),
            F.round(F.exp(-F.col("avg_logp")), 6).alias("ppl"),
        )
    )


def cdc_chunk_rows(
    df: DataFrame,
    w: int = 4,
    divisor: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (rolling-hash cut points, the CDC family
    behind shift-robust dedup): cut the token stream AFTER position
    i + w whenever the hash of the w-token window starting at i is
    ≡ 0 (mod ``divisor``). Returns (id, chunk_seq, chunk_text,
    chunk_hash, n_tokens); ``id_col`` must be integral.

    Why not fixed windows: inserting one token at the front of a doc
    shifts EVERY fixed-window chunk, so chunk-level dedup/caching misses
    the other 99% unchanged content. CDC boundaries depend only on local
    content — interior chunks keep their identity under shifts (tested),
    which is what makes chunk-hash dedup across near-identical docs
    work. Expected chunk length ≈ ``divisor`` tokens (+ w tail). Docs
    shorter than ``w + 1`` tokens become one chunk; FastCDC-style
    min/max chunk clamps are a caller-side post-step if needed.

    Map-only Arrow kernel: each task tokenizes (:func:`tokenize`'s
    rule) and md5-hashes its batch in plain Python/hashlib (~1 µs per
    window — the interpreted-HOF expression form paid ~15 µs), so the
    chunker is COMPUTE-bound with parallelism equal to input splits:
    fan a few-split source across cores first (guide §4.2). Python
    ``str.lower()`` stands in for the JVM ``lower()``; they agree on
    ASCII and the common full-case mappings (U+0130, final sigma, ß —
    pinned against :func:`tokenize` in tests/test_text.py), but
    locale-independent case mappings have differed across runtime
    versions, so non-ASCII corpora should pin that on their own data."""
    import hashlib
    import re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    require_integral_id(df, id_col)
    # JVM \\s is ASCII-only; mirror it exactly (re.ASCII)
    ws = re.compile(r"\s+", re.ASCII)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("chunk_seq", T.IntegerType(), False),
            T.StructField("chunk_text", T.StringType()),
            T.StructField("chunk_hash", T.LongType()),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    )

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, seqs, texts, hashes, ntoks = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(str(text).lower()) if t]
                n = len(toks)
                if n == 0:
                    continue
                cuts = []
                if n >= w:
                    cuts = [
                        i + w
                        for i in range(n - w + 1)
                        if h60(" ".join(toks[i : i + w])) % divisor == 0
                    ]
                # mirrors array_distinct(concat([0], cuts, [n])): cuts
                # are strictly increasing and never 0, so only a
                # trailing cut == n can duplicate
                bounds = [0] + [c for c in cuts if c != n] + [n]
                for seq, (a, b) in enumerate(zip(bounds, bounds[1:])):
                    piece = " ".join(toks[a:b])
                    ids.append(did)
                    seqs.append(seq)
                    texts.append(piece)
                    hashes.append(h60(piece))
                    ntoks.append(b - a)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "chunk_seq": pd.Series(seqs, dtype="int32"),
                    "chunk_text": pd.Series(texts, dtype="object"),
                    "chunk_hash": pd.Series(hashes, dtype="int64"),
                    "n_tokens": pd.Series(ntoks, dtype="int32"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(chunk, schema)


def pmi_cooccurrence(
    docs: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level PMI co-occurrence: for every pair of frequent
    terms (each appearing in ≥ ``min_count`` docs), pointwise mutual
    information of their co-occurrence —
    pmi = ln(n_ab · N / (n_a · n_b)) over document frequencies. The
    collocation/phrase-mining primitive (word2vec-era SGNS is implicit
    PMI factorization): positive pmi = terms appear together more than
    chance.

    Output: (term_a < term_b, n_ab, pmi rounded 6dp), only pairs
    actually co-occurring in ≥ ``min_count`` docs (keeps the output —
    and the cross-engine hash — stable; singleton pairs are noise at
    any scale).

    Scale shape: the vocabulary filter is the explosion bound — pairs
    are generated by a doc_id-key self-join over per-doc DISTINCT
    frequent terms, so per-task work is Σ m_d² with m_d = frequent
    terms in doc d (bounded by doc length and the min_count cut; raise
    min_count at larger corpora exactly like SemDeDup raises
    n_clusters). Joins: one broadcast of the filtered vocabulary, one
    doc_id-key shuffle, one (a,b)-key count — no cartesian."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("term"),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term"))
        .filter(F.col("n_term") >= min_count)
    )
    dt = toks.join(F.broadcast(vocab), "term")
    # lazy 1-row N (broadcast crossJoin — same shape as bm25/tfidf
    # stats; no plan-build action)
    n_docs = docs.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("n_docs")
    )
    a = dt.select(
        "doc", F.col("term").alias("term_a"), F.col("n_term").alias("n_a")
    )
    b = dt.select(
        "doc", F.col("term").alias("term_b"), F.col("n_term").alias("n_b")
    )
    pairs = (
        a.join(b, "doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
        .crossJoin(F.broadcast(n_docs))
    )
    pmi = F.log(
        (F.col("n_ab") * F.col("n_docs"))
        / (F.col("n_a") * F.col("n_b"))
    )
    return pairs.select(
        "term_a", "term_b", "n_ab", F.round(pmi, 6).alias("pmi")
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str = "source",
    topk: int = 5,
    min_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``topk`` distinctive terms per ``group_col`` slice by Dunning's
    log-likelihood ratio (G²) — the corpus-comparison statistic keyword
    extractors use where raw tf-idf over-rewards rare typos: G² compares a
    term's document frequency INSIDE a slice against the REST of the
    corpus under a shared-rate null.

    For term t and slice s with a = df(t, in s), b = df(t, elsewhere),
    n1 = docs in s, n2 = docs elsewhere:
        e1 = n1·(a+b)/(n1+n2),  e2 = n2·(a+b)/(n1+n2)
        G² = 2·(a·ln(a/e1) + b·ln(b/e2))   (x·ln(x/e) ≡ 0 at x = 0)
    Document-level presence counts (distinct doc-term), mirroring the PMI
    operator; terms below ``min_df`` corpus-wide are cut first — the same
    support cut that bounds every sketch here. Signed: G² is negated when
    a/n1 < b/n2 so present-but-UNDERREPRESENTED terms rank below the
    positives, not among them. Terms wholly absent from a slice (a = 0)
    emit no row at all — the slice's (grp, term) pair never exists in the
    posting join, and materializing the vocab×slices complement is
    exactly the dense cross join this plan avoids.

    Scale shape: one (doc, term)-distinct shuffle, a term-keyed agg (map-
    side combined), the per-slice doc counts broadcast (|slices| rows),
    and one per-slice window for the top-k. Rounded-before-rank (G² to 6)
    so a last-ulp ln() difference cannot flip the cut.

    Returns (group_col, term_rank, term, n_in, n_out, g2)."""
    docs = df.select(
        F.col(id_col).alias("_doc"),
        F.col(group_col).alias("grp"),
        tokenize(text_col).alias("_toks"),
    )
    dt = docs.select("_doc", "grp", F.explode("_toks").alias("term")).dropDuplicates(
        ["_doc", "term"]
    )
    vocab = dt.groupBy("term").agg(F.count(F.lit(1)).alias("n_t")).filter(
        F.col("n_t") >= min_df
    )
    in_slice = dt.join(vocab, "term").groupBy("grp", "term").agg(
        F.count(F.lit(1)).alias("a"), F.first("n_t").alias("n_t")
    )
    slice_sizes = docs.groupBy("grp").agg(
        F.countDistinct("_doc").alias("n1")
    )
    n_total = docs.agg(F.countDistinct("_doc").alias("n")).select("n")
    counts = (
        in_slice.join(F.broadcast(slice_sizes), "grp")
        .crossJoin(F.broadcast(n_total))
        .select(
            "grp",
            "term",
            F.col("a").cast("double").alias("a"),
            (F.col("n_t") - F.col("a")).cast("double").alias("b"),
            F.col("n1").cast("double").alias("n1"),
            (F.col("n") - F.col("n1")).cast("double").alias("n2"),
        )
    )

    def _xlx(x, e):  # x·ln(x/e), continuous 0 at x = 0
        return F.when(x > 0, x * F.log(x / e)).otherwise(F.lit(0.0))

    e1 = F.col("n1") * (F.col("a") + F.col("b")) / (F.col("n1") + F.col("n2"))
    e2 = F.col("n2") * (F.col("a") + F.col("b")) / (F.col("n1") + F.col("n2"))
    g2 = F.lit(2.0) * (_xlx(F.col("a"), e1) + _xlx(F.col("b"), e2))
    signed = F.when(
        F.col("a") / F.col("n1") >= F.col("b") / F.col("n2"), g2
    ).otherwise(-g2)
    scored = counts.select(
        "grp",
        "term",
        F.col("a").cast("long").alias("n_in"),
        F.col("b").cast("long").alias("n_out"),
        F.round(signed, 6).alias("g2"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("g2"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= topk)
        .select(
            F.col("grp").alias(group_col),
            F.col("term_rank").cast("long").alias("term_rank"),
            "term",
            "n_in",
            "n_out",
            "g2",
        )
    )


def zipf_fit(
    df: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution: OLS of
    ln(freq) on ln(rank) over terms with ≥ ``min_count`` occurrences.
    Natural corpora run slope ≈ −1; a corpus whose slope drifts far from
    its baseline (template spam flattens it, boilerplate floods steepen
    the head) is the cheapest whole-corpus quality smell the pipeline
    can track per snapshot (the vocabulary-level companion of psi_drift).

    Ranking |V| terms globally by frequency is the scale trap here —
    a row_number over one partition funnels the vocabulary through one
    task. Ranks come from ``functions.ids.dense_row_ids`` instead
    (range-exchange + per-partition windows + broadcast offsets), the
    same primitive text_ppl_buckets uses; ties broken by term so the
    rank — and therefore the fit — is deterministic cross-engine.

    Returns ONE row: (n_terms, slope, intercept, r2), rounded to 6.
    """
    from clinical_vector_search_spark.functions.ids import dense_row_ids

    toks = df.select(F.explode(tokenize(text_col)).alias("term"))
    freq = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    ranked = dense_row_ids(
        freq.withColumn("_negf", -F.col("cnt")),
        ["_negf", "term"],
        id_col="rank",
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def token_dropout(
    df: DataFrame,
    drop_mod: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic word-dropout augmentation: the token at 1-based
    position p of doc d is DROPPED iff md5(d:p) % drop_mod == 0 (≈1/drop_mod
    of tokens) — the text-augmentation primitive contrastive/denoising
    training uses, made reproducible by hashing (doc, position) instead of
    RNG state, so every epoch, engine, and retry sees the same corruption.

    Pure map-side higher-order expressions — an indexed lambda filter, no
    shuffle, no UDF. Cross-engine index caveat (pinned by the oracle):
    Spark's filter lambda index is 0-based, SQL engines' is 1-based — the
    hash input uses the 1-based position on both sides.

    Returns (id_col, n_tokens, n_kept, kept_md5) — the digest stands in
    for the corrupted text so the contract is hash-checkable without
    hauling full strings."""
    from clinical_vector_search_spark.functions import hashing as H

    toks = tokenize(text_col)
    kept = F.filter(
        toks,
        lambda t, i: F.pmod(
            H.md5_long(
                F.concat_ws(
                    ":",
                    F.col(id_col).cast("string"),
                    (i + F.lit(1)).cast("string"),
                )
            ),
            F.lit(drop_mod),
        )
        != 0,
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive hashes, and in each window select the
    minimum hash, ties to the RIGHTMOST occurrence. Guarantees: any
    shared substring of ≥ w+k-1 words yields at least one shared
    fingerprint (no false negatives above the noise threshold), at an
    expected density of 2/(w+1) — position-robust local sampling, unlike
    a fixed stride.

    Each (hash, position) packs into one key
        key = hash·2^21 + (2^21 − 1 − pos)
    so the numeric minimum is exactly (min hash, max pos). hash < 2^31
    (md5-derived), pos < 2^21 → key < 2^52, exact in int64 on any
    engine. Docs with fewer than w k-grams contribute their global
    minimum (one fingerprint) instead of vanishing.

    Map-only Arrow kernel with ZERO shuffles: each task tokenizes
    (:func:`tokenize`'s rule), hashes (hashlib, ~1 µs/gram) and selects
    fingerprints with a monotonic-deque sliding minimum in O(n) per
    doc; parallelism = input splits, so fan a few-split source across
    cores first, exactly like :func:`cdc_chunk_rows` (same Python
    ``str.lower()`` ↔ JVM ``lower()`` caveat as there).

    Output: (id_col, fp_pos, fp_hash) — distinct selected fingerprints;
    fp_pos is the 0-based k-gram index. ``id_col`` must be integral."""
    import hashlib
    import re
    from collections import deque
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    POSCAP = 1 << 21
    MASK31 = (1 << 31) - 1  # % 2^31 == & (2^31 - 1) on non-negatives
    require_integral_id(df, id_col)
    # JVM \\s is ASCII-only; mirror it exactly (re.ASCII)
    ws = re.compile(r"\s+", re.ASCII)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("fp_pos", T.LongType()),
            T.StructField("fp_hash", T.LongType()),
        ]
    )

    def fingerprint(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, poss, hashes = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(str(text).lower()) if t]
                n = len(toks)
                m = min(n - k + 1, POSCAP)  # grams, pos < POSCAP
                if m <= 0:
                    continue
                keys = [
                    (
                        (
                            int(
                                md5(
                                    " ".join(toks[i : i + k]).encode("utf-8")
                                ).hexdigest()[:15],
                                16,
                            )
                            & MASK31
                        )
                        << 21
                    )
                    + (POSCAP - 1 - i)
                    for i in range(m)
                ]
                if m < w:
                    sel = {min(keys)}
                else:
                    # monotonic deque sliding min; keys are distinct
                    # (pos component unique), min key = (min hash,
                    # rightmost pos) by construction of the packed key
                    sel = set()
                    dq: deque = deque()
                    for j, kv in enumerate(keys):
                        while dq and keys[dq[-1]] > kv:
                            dq.pop()
                        dq.append(j)
                        if dq[0] <= j - w:
                            dq.popleft()
                        if j >= w - 1:
                            sel.add(keys[dq[0]])
                for v in sel:
                    ids.append(did)
                    poss.append(POSCAP - 1 - (v & (POSCAP - 1)))
                    hashes.append(v >> 21)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "fp_pos": pd.Series(poss, dtype="int64"),
                    "fp_hash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(fingerprint, schema)


def heaps_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V ≈ K·N^β, estimated by OLS
    of ln(V) on ln(N) across corpus slices (one (N tokens, V distinct
    terms) point per ``group_col`` value) — the companion of
    ``zipf_fit``: Zipf reads the frequency DISTRIBUTION, Heaps reads how
    vocabulary SCALES with corpus size (natural text: β ≈ 0.4–0.6;
    β drifting toward 1 means near-disjoint vocabularies — OCR noise or
    unmerged languages; toward 0, template/boilerplate floods).

    A cumulative-growth curve would need an ordered sequential scan over
    the corpus; the per-slice formulation is the distributed-safe
    spelling (each point is one agg) and is how the law is used for
    QUALITY drift — comparing slices, not tracing one curve.

    Returns ONE row: (n_slices, beta, k, r2), rounded to 6; K is
    exp(intercept). Slices need N ≥ 1 and the fit ≥ 3 points.
    """
    per = (
        df.select(
            F.col(group_col).alias("slice"),
            F.explode(tokenize(text_col)).alias("term"),
        )
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").alias("n_vocab"),
        )
        .filter(F.col("n_tokens") >= 1)
    )
    x = F.log(F.col("n_tokens").cast("double"))
    y = F.log(F.col("n_vocab").cast("double"))
    fit = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_slices"),
        F.regr_slope(y, x).alias("_beta"),
        F.regr_intercept(y, x).alias("_icpt"),
        F.regr_r2(y, x).alias("_r2"),
    )
    return fit.filter(F.col("n_slices") >= 3).select(
        "n_slices",
        F.round("_beta", 6).alias("beta"),
        F.round(F.exp("_icpt"), 6).alias("k"),
        F.round("_r2", 6).alias("r2"),
    )


def sentence_count(c: Column | str) -> Column:
    """Sentence count as terminal-punctuation runs ([.!?]+), floored at
    1 — the denominator convention readability formulas need (a doc with
    no terminal punctuation is one long sentence, not zero)."""
    return F.greatest(
        F.regexp_count(_col(c), F.lit(r"[.!?]+")), F.lit(1)
    )


def syllable_count(c: Column | str) -> Column:
    """Syllable estimate: vowel-group runs ([aeiouy]+) over the
    lowercased text — the classic cheap estimator (whole-text count
    equals the per-word sum because tokens are separated by
    non-letters). Exact integer, engine-portable regex."""
    return F.regexp_count(F.lower(_col(c)), F.lit(r"[aeiouy]+"))


def readability(text: Column | str) -> dict:
    """Flesch reading-ease and Flesch-Kincaid grade from the three
    exact integer counts (words, sentences, syllable runs):

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
        grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59

    Returns named Columns (counts exact; scores are two divisions +
    literals, rounded by the caller). The quality-scoring companion of
    ``quality_score`` with a published, cross-engine-checkable formula
    (Kincaid et al. 1975). Division guards: W floored at 1."""
    text = _col(text)
    w = token_count(text).cast("double")
    s = sentence_count(text).cast("double")
    y = syllable_count(text).cast("double")
    w1 = F.greatest(w, F.lit(1.0))
    wps = w1 / s
    ypw = y / w1
    return {
        "n_words": w.cast("long"),
        "n_sents": s.cast("long"),
        "n_syll": y.cast("long"),
        "flesch_ease": F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw,
        "fk_grade": F.lit(0.39) * wps + F.lit(11.8) * ypw - F.lit(15.59),
    }
