"""Shared column-expression builders.

Everything here is a composition of built-in ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen friendly, no Python UDFs. Hashing uses md5
(hex string) because it is bit-identical across engines, which lets every
operator built on it have an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (documents use single-space separators)."""
    return F.split(text, " ")


def explode_tokens(df: DataFrame) -> DataFrame:
    """One row per (doc, position, token)."""
    return df.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )


def word_shingles(
    df: DataFrame,
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """k-word shingles per document (distinct by default).

    ``distinct=False`` skips the dedup shuffle — correct for any consumer
    that is duplicate-invariant (a min-wise hash: min over a multiset ==
    min over its set), measured ~10% faster end-to-end for MinHash-LSH.

    Built entirely with array expressions (split -> transform/slice ->
    explode) — shingling happens inside the row, so there is NO shuffle
    before the final distinct. The word array is materialized into its own
    projection first: referencing ``split(text)`` inside the transform
    lambda would re-split the text once per shingle position (O(words²)
    per doc — measured 2.4x slower). Output: (id, shingle) distinct.

    Docs with fewer than k words produce ZERO shingles: the range is
    guarded with a CASE, because Spark's ``sequence(1, 0)`` is the
    DESCENDING array [1, 0] (not empty) and ``slice(arr, 0, k)`` then
    raises INVALID_PARAMETER_VALUE.START. The guard also matches the
    DuckDB oracle, whose ``range(1, n+1)`` is empty for n <= 0.
    """
    return word_shingles_from_words(
        df.select(F.col("doc_id"), tokens("text").alias("__words")),
        k=k,
        words_col="__words",
        distinct=distinct,
    )


def word_shingles_from_words(
    words: DataFrame,
    k: int = 3,
    words_col: str = "words",
    distinct: bool = True,
) -> DataFrame:
    """:func:`word_shingles` starting from a PRE-SPLIT token array.

    Same output, same guards — but the corpus scan + split happens
    upstream, so a caller that already tokenized (e.g. the fused curation
    signal pass in x7) can persist ONE (id, words) frame and feed both
    its token aggregation and the shingle index from it, instead of each
    branch re-reading and re-splitting the corpus.
    """
    out = words.select(
        F.col("doc_id"),
        F.explode(
            F.expr(
                f"case when size({words_col}) >= {k} then"
                f" transform(sequence(1, size({words_col}) - {k - 1}),"
                f" i -> concat_ws(' ', slice({words_col}, i, {k})))"
                f" else array() end"
            )
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


def word_shingle_sets(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc DISTINCT k-word shingle set as one array column.

    The row-local twin of :func:`word_shingles`: no explode, no shuffle —
    the whole set is built inside the row with array expressions. Used for
    candidate verification (join tiny candidate pairs to per-doc sets,
    then ``array_intersect`` per pair) where exploding the corpus again
    would cost a full shuffle. Sub-k docs get an empty set, matching the
    exploded variant. Output: (id, shingle_set array<string>).
    """
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__words"))
        .select(
            F.col(id_col),
            F.expr(
                f"array_distinct(case when size(__words) >= {k} then"
                f" transform(sequence(1, size(__words) - {k - 1}),"
                f" i -> concat_ws(' ', slice(__words, i, {k})))"
                f" else array() end)"
            ).alias("shingle_set"),
        )
    )


def char_shingles(
    df: DataFrame,
    k: int = 5,
    distinct: bool = True,
) -> DataFrame:
    """Distinct k-character shingles per document.

    The character-level twin of :func:`word_shingles` for text without
    whitespace segmentation (CJK, code, URLs). Row-local substring
    positions — no shuffle before the optional distinct.

    Texts shorter than k chars produce ZERO shingles (CASE guard):
    unguarded, Spark's ``sequence(1, 0)`` is the descending [1, 0] and
    ``substring(text, 0, k)`` silently emits a bogus truncated shingle,
    diverging from the DuckDB oracle's empty range and inflating Jaccard
    for short texts.
    """
    out = df.select(
        F.col("doc_id"),
        F.explode(
            F.expr(
                f"case when length(text) >= {k} then"
                f" transform(sequence(1, length(text) - {k - 1}),"
                f" i -> substring(text, i, {k}))"
                " else array() end"
            )
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signature_local(
    df: DataFrame,
    num_hashes: int,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-local minhash signatures, ZERO shuffle. Hash i is the
    8-hex-char (32-bit) slice ``i % 4`` of ``md5(str(i // 4) || ':' ||
    shingle)`` — one md5 yields four min-wise hashes — and ``mh_i`` is
    its minimum over the doc's shingle set: the same value as a
    ``groupBy(doc).agg(min(...))`` over exploded shingles.

    The shingle set is built inside the row (:func:`word_shingle_sets`),
    each salted md5 family is materialized once per row as an array, and
    every ``mh_i`` is an ``array_min`` over a substring transform —
    lexicographic min over fixed-width hex == the grouped ``F.min``.
    The explode+groupBy formulation shuffles one row per (doc, shingle)
    just to re-group by doc; this computes the identical signature in
    the scan stage, which is both the fast local path (measured ~40%
    off d3) and the 100 TB shape: signatures are embarrassingly
    map-side, only the (doc, band, bucket) rows ever shuffle.

    Docs with zero shingles (< k words) are dropped, matching the
    exploded variant where they simply have no rows. Output:
    (id, mh_0..mh_{n-1}).
    """
    groups = (num_hashes + 3) // 4
    sets = word_shingle_sets(
        df, k=k, id_col=id_col, text_col=text_col
    ).filter(F.size("shingle_set") > 0)
    pre = sets.select(
        F.col(id_col),
        *[
            F.expr(
                f"transform(shingle_set, s -> md5(concat('{g}:', s)))"
            ).alias(f"_hs{g}")
            for g in range(groups)
        ],
    )
    return pre.select(
        F.col(id_col),
        *[
            F.array_min(
                F.expr(
                    f"transform(_hs{i // 4}, "
                    f"h -> substring(h, {(i % 4) * 8 + 1}, 8))"
                )
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def nibble_value(hex_col_name: str, pos: int) -> Column:
    """The pos-th (1-based) hex char of column ``hex_col_name`` -> 0..15.

    Expressed as ``instr`` over the hex alphabet — a function that exists
    with identical semantics in Spark SQL and DuckDB, keeping md5-bit
    operators exactly oracle-matchable.
    """
    return F.expr(
        f"instr('0123456789abcdef', substring({hex_col_name}, {pos}, 1)) - 1"
    )


def sql_md5_int(hex_col_name: str, nibbles: int = 6) -> str:
    """SQL fragment mapping an md5 hex column's leading ``nibbles`` chars
    to a uniform BIGINT in [0, 16^nibbles) — the integer twin of
    :func:`sql_md5_fraction` for deterministic modular draws (e.g.
    split-point selection), where integer ``%`` keeps the arithmetic
    exact in both engines instead of trusting float floor/mod.
    Portable: ``instr`` over the hex alphabet, identical in Spark SQL
    and DuckDB; embed the SAME string in engine (``F.expr``) and
    oracle."""
    terms = [
        f"(instr('0123456789abcdef', substring({hex_col_name}, {i + 1}, 1))"
        f" - 1) * {16 ** (nibbles - 1 - i)}"
        for i in range(nibbles)
    ]
    return f"CAST(({' + '.join(terms)}) AS BIGINT)"


def sql_md5_fraction(hex_col_name: str, nibbles: int = 6) -> str:
    """SQL fragment mapping an md5 hex column's leading ``nibbles`` chars
    to a uniform double in [0, 1).

    Returns a STRING of portable SQL (``instr`` over the hex alphabet —
    identical semantics in Spark SQL and DuckDB), so the engine uses it
    via ``F.expr`` and the oracle embeds the very same text: both sides
    compute bit-identical draws. This is the deterministic substitute
    for ``rand()`` everywhere sampling must be reproducible and
    oracle-checkable (seeded by whatever was hashed into the column).
    """
    terms = [
        f"(instr('0123456789abcdef', substring({hex_col_name}, {i + 1}, 1))"
        f" - 1) * {16 ** (nibbles - 1 - i)}"
        for i in range(nibbles)
    ]
    # CAST, not a decimal literal: Spark SQL parses `16777216.0` as
    # DECIMAL(9,1) (decimal division would round the draw to 10 places)
    # while DuckDB parses it as DOUBLE — CAST(x AS DOUBLE) is identical
    # in both.
    return (
        f"(({' + '.join(terms)}) / CAST({16 ** nibbles} AS DOUBLE))"
    )


def sql_zorder(qa: str, qb: str, bits: int = 16) -> str:
    """SQL fragment interleaving the low ``bits`` bits of two quantized
    non-negative BIGINT columns into a Morton (Z-order) value.

    Bit i of ``qa`` lands at position 2i, bit i of ``qb`` at 2i+1 — the
    standard Z-curve, so sorting by the result clusters rows that are
    close in BOTH dimensions. Pure ``& << >> |`` integer operators,
    which parse with identical semantics in Spark SQL and DuckDB, so the
    engine (via ``F.expr``) and the oracle embed the very same text and
    produce bit-identical values.
    """
    terms = []
    for i in range(bits):
        terms.append(f"((({qa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
