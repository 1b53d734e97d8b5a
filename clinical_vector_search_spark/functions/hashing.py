"""Deterministic cross-engine hashing primitives.

Built exclusively on MD5 (available identically in Spark and every SQL
engine) so that hash-dependent operators — MinHash signatures, SimHash,
fingerprints, LSH buckets — are reproducible AND expressible as ANSI SQL
for the DuckDB correctness oracle. Spark's native ``hash()``/``xxhash64``
would be faster but engine-specific; these operators are not in the hot
path at scale (the hash is computed once per token/shingle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(c: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT.

    15 hex chars < 2^60 so the value is exact in int64 (and in SQL engines
    that parse via double, though none we target do).
    DuckDB oracle equivalent: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def salted_md5_long(c: Column | str, salt: int | Column) -> Column:
    """Independent hash family member: md5(salt || ':' || x)."""
    c = F.col(c) if isinstance(c, str) else c
    salt = F.lit(salt) if not isinstance(salt, Column) else salt
    return md5_long(F.concat_ws(":", salt.cast("string"), c))


def dataset_fingerprint(df, cols: list[str]):
    """Order-invariant content fingerprint of a DataFrame — the dataset
    identity primitive for lineage / reproducibility checks ("is the
    corpus we trained on byte-identical to the one we audited?"): one row
    (n_rows, content_hash) where content_hash is the XOR of each row's
    md5-long over ``cols`` rendered with an explicit NULL sentinel.

    Properties that matter at 100 TB: entirely map-side until a single
    scalar combine (XOR and count are commutative + associative, so
    partial aggregation does all the work), invariant to row order and
    partitioning, and exactly reproducible in any engine with md5 —
    including the SQL oracle. XOR (not sum) keeps the accumulator in
    int64 without overflow semantics entering the contract.

    Row rendering is INJECTIVE (netstring-style): each column becomes
    ``len:tag+value`` where tag is 'N' for NULL or 'V' + the value —
    a '|' (or any delimiter) inside a value cannot shift content across
    field boundaries, and NULL ≠ 'null' ≠ '' by the tag. Multiset
    caveat: XOR cancels PAIRS of identical rows; datasets that may
    contain exact duplicate rows should fingerprint after adding a
    disambiguating id column (e.g. a doc id, which every table here has).
    """
    from pyspark.sql import DataFrame  # noqa: F401  (doc typing only)

    def frame(c: str) -> Column:
        tagged = F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(c).cast("string"))
        )
        return F.concat(F.length(tagged).cast("string"), F.lit(":"), tagged)

    rendered = F.concat_ws("|", *[frame(c) for c in cols])
    return df.select(md5_long(rendered).alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(h)").alias("content_hash"),
    )


# ---------------------------------------------------------------------------
# Bloom filter (cross-engine deterministic)
# ---------------------------------------------------------------------------


def bloom_positions(c: Column | str, m: int, k: int) -> Column:
    """The ``k`` bit positions of key ``c`` in an ``m``-bit Bloom filter:
    position_j = salted_md5_long(j, c) % m. Returns array<long> of length
    k. Same math is one line of SQL per hash, so build and probe are
    exactly reproducible in any md5-capable engine — false positives
    included (a Bloom probe is deterministic given (m, k), so even the
    FP set hash-matches the oracle)."""
    return F.array(*[salted_md5_long(c, j) % F.lit(m) for j in range(k)])


def bloom_build(
    keys: "DataFrame", key_col: str, m: int, k: int
) -> "DataFrame":
    """Build an ``m``-bit / ``k``-hash Bloom filter over a key column as a
    (word_idx long, word long) DataFrame — bit i lives in word i//32 at
    bit i%32. Words are 32-BIT (stored in longs): every mask is then a
    positive value ≤ 2³¹, which SQL engines with overflow-checked shifts
    (DuckDB raises on 1::BIGINT << 63) reproduce exactly — the point of
    this filter is cross-engine determinism, not packing density.

    Plan: explode the k positions per key (map-side), distinct them (the
    only shuffle, at set-bit granularity ≤ m), then a ≤ m/32-key groupBy
    whose partials combine map-side (bit_or is commutative/associative).
    The result is the broadcastable index artifact: 10⁹ eval-set shingles
    at ~10 bits/key is a ~1.25 GB bitmap — shippable to every executor,
    where the raw shingle set would be tens of GB. Absent word_idx rows
    mean an all-zero word."""
    pos = keys.select(
        F.explode(bloom_positions(key_col, m, k)).alias("pos")
    ).distinct()
    return (
        pos.groupBy(F.expr("pos div 32").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(pos % 32 as int))")
            ).alias("word")
        )
    )


def bloom_words_array(bloom: "DataFrame", m: int) -> list[int]:
    """Collect a :func:`bloom_build` result into the dense ``m/32``-long
    Python word list used to make a literal probe expression. Bounded:
    m/32 longs (2 MiB of longs per 2²³ filter bits)."""
    n_words = (m + 31) // 32
    words = [0] * n_words
    for r in bloom.collect():
        words[int(r["word_idx"])] = int(r["word"])
    return words


def bloom_probe(c: Column | str, words: list[int], m: int, k: int) -> Column:
    """Boolean membership probe of key ``c`` against a literal bitmap
    (from :func:`bloom_words_array`): true iff ALL k bits are set.
    Entirely map-side — the bitmap rides the plan as a constant array
    (whole-stage-codegen'd), so probing a corpus costs zero shuffles
    until whatever aggregation consumes the flag."""
    # ONE array Literal (not CreateArray of m/32 literal nodes): the
    # bitmap appears in k element_at contexts, and a CreateArray copy in
    # each made the expression tree O(k·m/32) nodes — measured ~2x on
    # the probe-heavy entries. A Literal is a single node holding the
    # ArrayData by reference however often it is referenced.
    arr = F.lit([int(w) for w in words]).cast("array<long>")
    checks = []
    for j in range(k):
        pos = salted_md5_long(c, j) % F.lit(m)
        # word index = pos >> 5, bit = pos & 31 (pos is non-negative)
        word = F.element_at(arr, F.shiftright(pos, 5).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), pos.bitwiseAND(F.lit(31)).cast("int")
        )
        checks.append(word.bitwiseAND(mask) != F.lit(0))
    out = checks[0]
    for ch in checks[1:]:
        out = out & ch
    return out
