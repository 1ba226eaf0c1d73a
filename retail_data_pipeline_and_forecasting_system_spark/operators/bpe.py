"""BPE merge-table TRAINING and APPLICATION — the tokenizer stage of
the LLM-data pipeline (between x27's pair-count statistic and x15's
sequence packer).

:func:`bpe_train` is TRUE iterative training (Sennrich et al. 2016):
it recounts corpus-weighted adjacent pairs after EVERY merge — rank
k+1 depends on merge k because a merge rewrites the symbol stream —
so later merges combine earlier merged symbols ('w'+'indow'), which
no single-pass frequency ranking can produce. ``bpe_pair_counts``
(operators/textstats.py) remains the one-pass proxy whose ranked pair
table is also a valid merge table in the ``merges.txt`` sense.
This module applies either table row-locally to emit real token ids,
so downstream packing (x36) and mixture weights (x37) run on true
tokenizer output instead of regex token counts.

Encode semantics (deterministic, engine == oracle == pure Python):
repeatedly find the LOWEST-RANK pair among adjacent symbol pairs of
the word and merge its LEFTMOST occurrence; stop when no adjacent
pair is in the table. One-merge-at-a-time leftmost-lowest-rank is a
total order, so it needs no tie convention beyond the table's ranks;
for tables produced by iterated BPE training it coincides with the
classic sweep-all-occurrences encoder (a merge can only create pairs
whose own rank is HIGHER than the rank just applied, because a merge
involving symbol X is learned after X exists) — test-pinned against
an independent sweep encoder on x42's trained tables
(tests/test_bpe_train.py).

Token ids are deterministic integers: a single-char symbol's id is
its Unicode codepoint; a merged symbol's id is ``1114112 + r`` (one
past the codepoint space) where ``r`` is the smallest rank among
merges producing that string (two training paths can emit the same
string; vocab ids key on the string, as every tokenizer's does).

Scale: the merge table is KB-sized driver/model state (the k-means /
x27 pattern) shipped in the UDF closure; encode is one partition-local
Arrow-batched ``mapInPandas`` over the corpus with a per-partition
word memo (Zipf: most words repeat, each unique word encodes once per
partition) — ZERO shuffle, doc-grain output. Nothing data-proportional
ever reaches the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# one past the Unicode codepoint space: merged-symbol ids can never
# collide with single-char ids
MERGED_ID_BASE = 0x110000

# The tokenizer's whitespace, as an EXPLICIT class — not \s+, whose
# meaning is dialect-local (Python re: Unicode spaces incl. NBSP;
# Java: adds \x0b; RE2/DuckDB: neither). The x27/x35 oracles use the
# same five characters, so engine and oracle agree by construction on
# any corpus. The literal is valid in Python re AND Java regex alike.
WHITESPACE_CLASS = "[ \t\n\f\r]+"

# Case folding, EXPLICITLY ASCII — not lower(), whose full-Unicode
# mapping is dialect-local too (JVM is context-sensitive: 'ΦΩΣ' ->
# final sigma; utf8proc/DuckDB uses the simple map; Python differs on
# 'İ' -> 'i̇'). translate() with the 26-letter map is identical
# in Python, Spark and DuckDB; non-ASCII letters keep their case —
# deterministic everywhere (round-9 review catch, verified live).
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_FOLD = str.maketrans(ASCII_UPPER, ASCII_LOWER)
# the SQL twin of fold_case, for oracle templates
SQL_FOLD_TMPL = "translate({col}, '" + ASCII_UPPER + "', '" + ASCII_LOWER + "')"


def fold_case(s: str) -> str:
    return s.translate(_FOLD)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE-apply for one word: merge the leftmost occurrence of
    the lowest-rank adjacent pair until none applies. Pure Python —
    the single definition the Spark engine, the tests, and the DuckDB
    oracle's recursive CTE all restate."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pos = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pos = r, i
        if best_rank is None:
            break
        syms[best_pos : best_pos + 2] = [syms[best_pos] + syms[best_pos + 1]]
    return syms


def token_ids(
    syms: list[str], tok_ranks: dict[str, int]
) -> list[int]:
    """Deterministic ids: codepoint for single chars, MERGED_ID_BASE +
    min-rank for merged symbols."""
    return [
        ord(s) if len(s) == 1 else MERGED_ID_BASE + tok_ranks[s]
        for s in syms
    ]


def _rank_maps(
    merges: list[tuple[str, str, int]],
) -> tuple[dict[tuple[str, str], int], dict[str, int]]:
    ranks: dict[tuple[str, str], int] = {}
    tok_ranks: dict[str, int] = {}
    for left, right, rank in merges:
        key = (left, right)
        if key not in ranks or rank < ranks[key]:
            ranks[key] = rank
        tok = left + right
        if tok not in tok_ranks or rank < tok_ranks[tok]:
            tok_ranks[tok] = rank
    return ranks, tok_ranks


ENCODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("n_merged", T.LongType(), False),
        T.StructField("id_sum", T.LongType(), False),
    ]
)


def bpe_encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Per-document token statistics from applying ``merges`` (list of
    ``(left, right, rank)``) to the lowercased whitespace-tokenized
    text: token count, merged-token count, and the exact sum of token
    ids (any misapplied merge, wrong tie, or wrong id scheme moves the
    sum). Docs with no words (empty/NULL text) emit zeros — absence
    and corruption stay distinguishable from never-scanned.

    Partition-local mapInPandas with a per-partition word memo; the
    merge table rides the closure (KB model state, never a shuffle).
    """
    import re

    ranks, tok_ranks = _rank_maps(merges)
    cols = docs.select("doc_id", "source", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, tuple[int, int, int]] = {}
        for batch in batches:
            out: dict[str, list] = {
                "doc_id": [], "source": [], "n_tokens": [],
                "n_merged": [], "id_sum": [],
            }
            for doc_id, source, text in zip(
                batch["doc_id"], batch["source"], batch["text"]
            ):
                nt = nm = ids = 0
                if isinstance(text, str) and text:
                    for w in re.split(WHITESPACE_CLASS, fold_case(text)):
                        if not w:
                            continue
                        stat = memo.get(w)
                        if stat is None:
                            syms = encode_word(w, ranks)
                            stat = (
                                len(syms),
                                sum(1 for s in syms if len(s) > 1),
                                sum(token_ids(syms, tok_ranks)),
                            )
                            memo[w] = stat
                        nt += stat[0]
                        nm += stat[1]
                        ids += stat[2]
                out["doc_id"].append(doc_id)
                out["source"].append(source)
                out["n_tokens"].append(nt)
                out["n_merged"].append(nm)
                out["id_sum"].append(ids)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=ENCODE_STATS_SCHEMA)


ENCODE_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("token_id", T.LongType(), False),
    ]
)


def bpe_encode_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Exploded per-token view (doc_id, pos, token, token_id) — the
    granular twin of :func:`bpe_encode_stats` for tests and sampling;
    same encode, same ids, same zero-shuffle mapInPandas shape (the
    fan-out streams inside Arrow batches like m4/m12)."""
    import re

    ranks, tok_ranks = _rank_maps(merges)
    cols = docs.select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, tuple[list[str], list[int]]] = {}
        for batch in batches:
            out: dict[str, list] = {
                "doc_id": [], "pos": [], "token": [], "token_id": [],
            }
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                pos = 0
                if isinstance(text, str) and text:
                    for w in re.split(WHITESPACE_CLASS, fold_case(text)):
                        if not w:
                            continue
                        hit = memo.get(w)
                        if hit is None:
                            syms = encode_word(w, ranks)
                            hit = (syms, token_ids(syms, tok_ranks))
                            memo[w] = hit
                        for s, i in zip(*hit):
                            out["doc_id"].append(doc_id)
                            out["pos"].append(pos)
                            out["token"].append(s)
                            out["token_id"].append(i)
                            pos += 1
            yield pd.DataFrame(out).astype({"pos": "int32"})

    return cols.mapInPandas(run, schema=ENCODE_TOKENS_SCHEMA)


VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType(), False),
        T.StructField("token_id", T.LongType(), False),
        T.StructField("freq", T.LongType(), False),
    ]
)


def bpe_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """The exported vocabulary artifact (token, token_id, corpus
    frequency) — what a pipeline writes next to merges.txt so training
    and inference share ids. Frequencies count token OCCURRENCES under
    the same encode the corpus receives (a word containing a token
    twice contributes twice per word occurrence).

    Scale: the corpus collapses to the Zipf-collapsed word-frequency
    table first (one word-keyed agg with map-side combine — the x27
    shape); each DISTINCT word encodes exactly once in a vocab-sized
    mapInPandas; the final rollup is one token-keyed sum. Nothing
    token-grain ever crosses an exchange at corpus size.
    """
    from pyspark.sql import functions as F

    ranks, tok_ranks = _rank_maps(merges)
    words = docs.select(
        F.explode(
            F.split(
                F.translate(F.col("text"), ASCII_UPPER, ASCII_LOWER),
                WHITESPACE_CLASS,
            )
        ).alias("word")
    ).filter(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {"token": [], "token_id": [], "freq": []}
            for word, freq in zip(batch["word"], batch["freq"]):
                syms = encode_word(word, ranks)
                for s, i in zip(syms, token_ids(syms, tok_ranks)):
                    out["token"].append(s)
                    out["token_id"].append(i)
                    out["freq"].append(freq)
            yield pd.DataFrame(out)

    return (
        wf.mapInPandas(run, schema=VOCAB_SCHEMA)
        .groupBy("token", "token_id")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
    )


# The tokenized-corpus artifact's WORD SEPARATOR id: the space
# codepoint. Unambiguous by construction — single-char token ids are
# codepoints and a space can never appear INSIDE a token (words come
# from a whitespace split), while merged-symbol ids live at
# MERGED_ID_BASE and above. Decoding the separator as chr(32) is what
# makes ''.join(decoded tokens) reproduce the whitespace-normalized
# source text exactly.
SPACE_ID = 32

ENCODE_IDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ids", T.ArrayType(T.LongType(), False), True),
    ]
)


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """The shipped tokenized-corpus artifact: one row per document
    carrying its FULL token-id sequence (words separated by
    :data:`SPACE_ID`), alongside the source text so an integrity check
    (:func:`bpe_decode_check`) can verify losslessness row-locally.
    NULL text keeps a NULL sequence (absence stays distinguishable
    from an empty document, whose sequence is ``[]``).

    Same zero-shuffle mapInPandas shape and per-partition word memo as
    :func:`bpe_encode_stats`; the merge table rides the closure.
    """
    import re

    ranks, tok_ranks = _rank_maps(merges)
    cols = docs.select("doc_id", "source", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[int]] = {}
        for batch in batches:
            out: dict[str, list] = {
                "doc_id": [], "source": [], "text": [], "ids": [],
            }
            for doc_id, source, text in zip(
                batch["doc_id"], batch["source"], batch["text"]
            ):
                ids: list[int] | None = None
                if isinstance(text, str):
                    ids = []
                    for w in re.split(WHITESPACE_CLASS, fold_case(text)):
                        if not w:
                            continue
                        wid = memo.get(w)
                        if wid is None:
                            wid = token_ids(encode_word(w, ranks), tok_ranks)
                            memo[w] = wid
                        if ids:
                            ids.append(SPACE_ID)
                        ids.extend(wid)
                out["doc_id"].append(doc_id)
                out["source"].append(source)
                out["text"].append(text)
                out["ids"].append(ids)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=ENCODE_IDS_SCHEMA)


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_ids", T.LongType(), False),
        T.StructField("decoded", T.StringType(), True),
        T.StructField("lossless", T.BooleanType(), True),
    ]
)


def id_to_token_map(
    merges: list[tuple[str, str, int]],
) -> dict[int, str]:
    """Invert the vocabulary: ``MERGED_ID_BASE + min-rank -> merged
    token string`` — the ONLY artifact a detokenizer needs beyond
    ``chr()`` for codepoint ids. Distinct merged tokens always get
    distinct ids: each rank is one merge, and a token string reachable
    by several merges takes its minimum rank (mirroring
    :func:`token_ids`)."""
    _, tok_ranks = _rank_maps(merges)
    return {MERGED_ID_BASE + r: t for t, r in tok_ranks.items()}


def decode_ids(ids, id2tok: dict[int, str]) -> str:
    """Pure-Python detokenize: codepoint ids via ``chr``, merged ids
    via the inverted vocab. The single definition the Spark engine and
    the tests restate.

    A merged id ABSENT from the map decodes to U+FFFD (the Unicode
    replacement character) instead of raising: an integrity checker's
    job is to FLAG a corrupt artifact (the replacement char can never
    equal source text, so the doc verdict goes false), not to crash
    the job on it (review finding)."""
    return "".join(
        chr(i) if i < MERGED_ID_BASE else id2tok.get(i, "�")
        for i in ids
    )


def bpe_decode_check(encoded: DataFrame, id2tok: dict[int, str]) -> DataFrame:
    """Detokenize + artifact-integrity check over
    :func:`bpe_encode_ids`'s output: decode each document's id
    sequence using ONLY the id→token map (the decoder never sees merge
    ranks — the separation a real pipeline has between its tokenizer
    and its artifact check), and verify ``decoded ==
    whitespace-normalized case-folded source`` per document. NULL
    sequences (NULL text) decode to NULL with a NULL verdict.

    Row-local mapInPandas — the x35 pattern reversed; the id→token map
    is KB-sized closure state and nothing shuffles.
    """
    import re

    cols = encoded.select("doc_id", "source", "text", "ids")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {
                "doc_id": [], "source": [], "n_ids": [],
                "decoded": [], "lossless": [],
            }
            for doc_id, source, text, ids in zip(
                batch["doc_id"], batch["source"],
                batch["text"], batch["ids"],
            ):
                decoded = lossless = None
                n = 0
                if ids is not None:
                    n = len(ids)
                    decoded = decode_ids(ids, id2tok)
                    norm = " ".join(
                        w
                        for w in re.split(
                            WHITESPACE_CLASS, fold_case(text)
                        )
                        if w
                    )
                    lossless = decoded == norm
                out["doc_id"].append(doc_id)
                out["source"].append(source)
                out["n_ids"].append(n)
                out["decoded"].append(decoded)
                out["lossless"].append(lossless)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=DECODE_SCHEMA)


TRAIN_SCHEMA = T.StructType(
    [
        T.StructField("rnk", T.IntegerType(), False),
        T.StructField("l", T.StringType(), False),
        T.StructField("r", T.StringType(), False),
        T.StructField("tok", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

# Symbol-stream separator for the trainer's delimited representation:
# a newline can never appear INSIDE a symbol because words come from a
# whitespace split (\n is a separator) in both engines. Each symbol is
# individually wrapped ("\na\n\nb\n" for [a, b]) so one literal
# string-replace of "\n{l}\n\n{r}\n" -> "\n{lr}\n" applies a merge
# with exact leftmost-first non-overlapping semantics — consecutive
# occurrences keep their own delimiters, and a symbol can never match
# across a boundary. replace() is leftmost non-overlapping in Spark,
# DuckDB and Python alike, which is precisely the classic BPE sweep.
SYM_SEP = "\n"


def symbolize_words(wf: DataFrame) -> DataFrame:
    """(word, freq) -> (s, freq): the delimited initial symbol stream,
    one char per symbol. JVM-side regexp; '.' matches one CODEPOINT
    (supplementary chars stay whole) and the (?s) DOTALL flag is
    REQUIRED — without it Java's '.' skips the Unicode line
    terminators U+2028/U+2029/U+0085, which our explicit whitespace
    class deliberately keeps INSIDE words, leaving them un-wrapped
    and corrupting the stream (caught by the round-9 dialect-proof
    test the moment training moved engine-side)."""
    from pyspark.sql import functions as F

    return wf.select(
        F.regexp_replace(
            "word", "(?s)(.)", SYM_SEP + "$1" + SYM_SEP
        ).alias("s"),
        "freq",
    )


def pair_counts(sym: DataFrame) -> DataFrame:
    """(s, freq) -> (l, r, cnt): corpus-weighted adjacent-pair counts
    of the current symbolization — the trainer's per-iteration
    statistic. All JVM built-ins (split/slice/zip_with/explode) into
    ONE map-side-combined agg; single-symbol words contribute nothing
    (zip_with of two empty slices -> explode drops the row)."""
    from pyspark.sql import functions as F

    return (
        sym.withColumn(
            "tk",
            F.split(
                F.expr("substring(s, 2, length(s) - 2)"),
                SYM_SEP + SYM_SEP,
            ),
        )
        .select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, size(tk) - 1), "
                    "slice(tk, 2, size(tk) - 1), "
                    "(a, b) -> struct(a AS l, b AS r))"
                )
            ).alias("p"),
        )
        .select("freq", "p.l", "p.r")
        .groupBy("l", "r")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
) -> list[tuple[int, str, str, int]]:
    """TRUE iterative BPE training (Sennrich et al. 2016): learn
    ``n_merges`` merges by RECOUNTING adjacent-symbol pairs after each
    merge — rank k+1 depends on merge k because a merge rewrites the
    symbol stream (x27's one-pass frequency ranking is the single-pass
    proxy this replaces). Returns ``[(rank, left, right, count)]``.

    Deterministic total order: highest corpus-weighted count first,
    ties by (left, right) in UTF-8 BYTE order — byte order is what
    DuckDB's binary varchar comparison implements, and the engine
    matches it by ordering on ``encode(col, 'UTF-8')`` (Java's UTF-16
    code-unit order diverges on supplementary characters).

    Scale: the corpus is touched ONCE (the Zipf-collapsed word-
    frequency agg, map-side combined); every iteration after that is
    one vocab-sized pair-count agg plus a narrow JVM-side literal
    replace — no Python in the loop, and the only driver-side state is
    the KB-sized merge table (the k1/x27 model-state pattern). The
    symbolization column re-persists every 8 merges so the
    replace-expression chain stays shallow (recompute depth is bounded;
    lineage never exceeds 8 replaces).
    """
    from pyspark.sql import functions as F

    if n_merges >= ORACLE_RANK_SENTINEL:
        raise ValueError(
            f"n_merges {n_merges} reaches the oracle rank sentinel"
        )
    words = docs.select(
        F.explode(
            F.split(
                F.translate(F.col("text"), ASCII_UPPER, ASCII_LOWER),
                WHITESPACE_CLASS,
            )
        ).alias("word")
    ).filter(F.length("word") >= 2)
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    cur = symbolize_words(wf).persist()
    persisted = [cur]
    merges: list[tuple[int, str, str, int]] = []
    depth = 0
    try:
        for k in range(1, n_merges + 1):
            top = (
                pair_counts(cur)
                .orderBy(
                    F.desc("cnt"),
                    F.asc(F.encode(F.col("l"), "UTF-8")),
                    F.asc(F.encode(F.col("r"), "UTF-8")),
                )
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            merges.append((k, left, right, cnt))
            pat = SYM_SEP + left + SYM_SEP + SYM_SEP + right + SYM_SEP
            rep = SYM_SEP + left + right + SYM_SEP
            cur = cur.withColumn(
                "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep))
            )
            depth += 1
            if depth >= 8 and k < n_merges:
                nxt = cur.persist()
                nxt.count()
                for p in persisted:
                    p.unpersist()
                persisted, cur, depth = [nxt], nxt, 0
    finally:
        for p in persisted:
            p.unpersist()
    return merges


def trained_merge_table(
    trained: list[tuple[int, str, str, int]],
) -> list[tuple[str, str, int]]:
    """Adapt :func:`bpe_train` rows to the ``(left, right, rank)`` form
    :func:`bpe_encode_stats` & co. consume."""
    return check_ranks([(l, r, rank) for rank, l, r, _ in trained])


# The encode oracles' recursive CTEs use 999999 as the "no merge
# applies" rank sentinel; a real rank at or above it would stop oracle
# merges early while the Python engine kept merging. Unreachable at
# current table sizes — enforced, not assumed (round-9 ADVICE).
ORACLE_RANK_SENTINEL = 999999


def check_ranks(merges: list[tuple[str, str, int]]) -> list[tuple[str, str, int]]:
    """Reject any merge table whose ranks collide with the oracle's
    no-merge sentinel; returns the table unchanged otherwise."""
    for left, right, rank in merges:
        if rank >= ORACLE_RANK_SENTINEL:
            raise ValueError(
                f"merge rank {rank} for ({left!r}, {right!r}) reaches the "
                f"oracle sentinel {ORACLE_RANK_SENTINEL}; engine and "
                "oracle would diverge"
            )
    return merges


def merges_from_pair_counts(pair_rows) -> list[tuple[str, str, int]]:
    """Adapt x27's ``(rnk, pair, cnt)`` rows (2-char pair strings) to
    the ``(left, right, rank)`` merge-table form. The x35/x41 oracle
    equivalence keys pair lookups on ``left || right == pair``, which
    only holds for exactly-2-char pairs — enforce it (round-9 ADVICE)."""
    merges = []
    for r in pair_rows:
        pair = r["pair"]
        if len(pair) != 2:
            raise ValueError(
                f"pair-count row {pair!r} is not a 2-char pair; "
                "single-pass pair tables must split unambiguously"
            )
        merges.append((pair[0], pair[1], int(r["rnk"])))
    return check_ranks(merges)
