"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure column expressions over one token explode — no Python in the data
path, so these run at parquet-scan speed and every one has an exact SQL
oracle. At 100 TB each is a single scan + one hash-aggregate keyed on doc id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import explode_tokens, word_shingles

# Tiny per-language stopword lists for the ratio heuristic. (Real corpora
# would use larger lists or char-n-gram models; the mechanics — token-set
# membership ratios aggregated per doc — are identical.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "pour", "que", "dans"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "para", "que", "en"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu", "den", "mit", "von"],
}


def language_scores(df: DataFrame) -> DataFrame:
    """Per-doc stopword-hit ratio per language + argmax prediction.

    Output: (id, n_tokens, <lang>_ratio..., pred_lang). Ties resolve to the
    lexicographically first language (deterministic).
    """
    toks = explode_tokens(df)
    aggs = [F.count(F.lit(1)).alias("n_tokens")]
    for lang, words in sorted(STOPWORDS.items()):
        aggs.append(
            F.sum(F.when(F.col("token").isin(words), 1).otherwise(0)).alias(
                f"{lang}_hits"
            )
        )
    scored = toks.groupBy("doc_id").agg(*aggs)
    for lang in STOPWORDS:
        scored = scored.withColumn(
            f"{lang}_ratio", F.col(f"{lang}_hits") / F.col("n_tokens")
        )
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"{lang}_ratio") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # first lang wins ties
        pred = F.when(F.col(f"{lang}_ratio") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select(
        "doc_id",
        "n_tokens",
        *[F.col(f"{lang}_ratio") for lang in langs],
        pred.alias("pred_lang"),
    )


def curation_signals(df: DataFrame) -> DataFrame:
    """Fused language-ID + uniqueness signals in ONE tokenize pass.

    Exactly the columns the curation verdict (x7) consumes — (id,
    n_tokens, pred_lang, uniq_token_ratio) — built from a single
    explode + a single per-doc aggregation. Running
    :func:`language_scores` and :func:`quality_scores` separately costs
    two full tokenize+shuffle passes to produce doc-aligned frames that
    immediately join back on id; fusing them halves the heavy stage.
    The expressions are shared with the standalone operators (same
    STOPWORDS, same tokenizer), so the outputs are bit-identical to the
    ones they replace.
    """
    toks = explode_tokens(df)
    return _curation_from_tokens(toks, "doc_id")


def curation_signals_from_words(words: DataFrame) -> DataFrame:
    """:func:`curation_signals` starting from a PRE-SPLIT token array.

    Same output — and, since r15, computed ROW-LOCALLY from the array:
    ``size(words)``, ``size(array_distinct(words))`` and a
    ``size(filter(words, stopword-membership))`` per language replace
    the explode + two-exchange distinct-aggregate (count + countDistinct
    + 4 conditional sums per doc). Every expression counts exactly what
    the aggregate counted (split of an empty string is [''], one empty
    token, so no doc ever vanishes the way explode-of-empty would;
    tokens are never NULL; ``array_distinct`` over non-null tokens =
    ``countDistinct``), so the outputs are value-identical — pinned by a
    differential test against the exploded aggregate. The signal branch
    becomes a zero-shuffle projection fused into the words scan: at any
    scale this removes one corpus-grain (doc, token) exchange and one
    doc-keyed exchange (guide §2.4 "remove shuffles outright").

    Lets x7 persist ONE (id, words) frame and feed this projection AND
    the dup branch's shingle index from it: one corpus scan, no signal
    shuffle.
    """
    w = F.col("words")
    scored = words.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_uniq"),
        *[
            F.size(F.filter(w, lambda t: t.isin(sw)))
            .cast("bigint")
            .alias(f"{lang}_hits")
            for lang, sw in sorted(STOPWORDS.items())
        ],
    )
    return _verdict_select(scored, "doc_id")


def _curation_from_tokens(toks: DataFrame, id_col: str) -> DataFrame:
    aggs = [
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_uniq"),
    ]
    for lang, words in sorted(STOPWORDS.items()):
        aggs.append(
            F.sum(F.when(F.col("token").isin(words), 1).otherwise(0)).alias(
                f"{lang}_hits"
            )
        )
    scored = toks.groupBy(id_col).agg(*aggs)
    return _verdict_select(scored, id_col)


def _verdict_select(scored: DataFrame, id_col: str) -> DataFrame:
    """The shared lang-argmax + ratio projection over a per-doc
    (n_tokens, n_uniq, <lang>_hits...) frame — identical expressions
    whether the counts came from the exploded aggregate or the r15
    row-local array path."""
    langs = sorted(STOPWORDS)
    ratios = {
        lang: F.col(f"{lang}_hits") / F.col("n_tokens") for lang in langs
    }
    best = F.greatest(*ratios.values())
    pred = F.lit("und")
    for lang in reversed(langs):  # first lang wins ties
        pred = F.when(ratios[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select(
        id_col,
        "n_tokens",
        pred.alias("pred_lang"),
        (F.col("n_uniq") / F.col("n_tokens")).alias("uniq_token_ratio"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Length / token-shape / repetition quality signals per document.

    Output: (id, n_chars, n_tokens, avg_token_len, uniq_token_ratio,
    alpha_ratio). All ratios are exact int/int divisions -> stable doubles.
    """
    toks = explode_tokens(df).withColumn("tok_len", F.length("token"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("tok_len").alias("sum_tok_len"),
        F.countDistinct("token").alias("n_uniq"),
        F.sum(
            F.when(F.col("token").rlike("^[a-zA-Z]+$"), 1).otherwise(0)
        ).alias("n_alpha"),
    )
    return (
        df.select("doc_id", F.length("text").alias("n_chars"))
        .join(per_doc, on="doc_id")
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            (F.col("sum_tok_len") / F.col("n_tokens")).alias("avg_token_len"),
            (F.col("n_uniq") / F.col("n_tokens")).alias("uniq_token_ratio"),
            (F.col("n_alpha") / F.col("n_tokens")).alias("alpha_ratio"),
        )
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (regex pieces).

    The "BPE-ish" count splits alpha runs / digit runs / other — a cheap,
    deterministic proxy for tokenizer budgeting. Output: (id, ws_tokens,
    subword_tokens, chars_per_subword).
    """
    ws = F.size(F.split(F.col("text"), " "))
    pieces = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0
        )
    )
    # nullif: empty/whitespace-only text has ZERO regex pieces, and under
    # Spark 4's default ANSI mode 0/0 is a job-killing exception — one
    # blank document in a 100 TB corpus must yield NULL, not a dead job
    # (the whitespace-token denominators are safe: split('', ' ') is [''],
    # so ws_tokens >= 1)
    return df.select(
        "doc_id",
        ws.alias("ws_tokens"),
        pieces.alias("subword_tokens"),
        (F.length("text") / F.nullif(pieces, F.lit(0))).alias(
            "chars_per_subword"
        ),
    )


def fingerprints(df: DataFrame, k: int = 3) -> DataFrame:
    """Content fingerprint: min-wise digest over k-word shingles
    (winnowing-lite — the min-md5 shingle is a stable representative that
    collides exactly for near-identical shingle sets).

    Output: (id, fingerprint, n_shingles).
    """
    sh = word_shingles(df, k=k)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style word-repetition quality signals per document.

    Two signals over the whitespace token stream (the corpus has no line
    structure, so word level is the meaningful granularity here; the same
    two-stage shape computes line/paragraph fractions when a separator
    exists):

    - ``dup_word_frac``: fraction of tokens that are repeats of an
      earlier token, ``(n_words - n_distinct) / n_words`` — high values
      flag boilerplate/keyword-stuffing documents.
    - ``top_word_share``: the most frequent token's share of all tokens —
      high values flag degenerate repetition ("buy buy buy ...").

    Output: (id, n_words, dup_word_frac, top_word_share).

    Scale: one explode feeding a two-stage aggregation — the
    (doc, token) count partial-aggregates map-side, and the per-doc
    rollup re-uses the same doc-keyed partitioning, so the whole signal
    costs one shuffle keyed on (doc, token) regardless of corpus size.
    """
    toks = explode_tokens(df)
    per_token = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n_words = F.sum("cnt")
    return per_token.groupBy("doc_id").agg(
        n_words.alias("n_words"),
        (
            (n_words - F.count(F.lit(1))).cast("double")
            / n_words.cast("double")
        ).alias("dup_word_frac"),
        (F.max("cnt").cast("double") / n_words.cast("double")).alias(
            "top_word_share"
        ),
    )


def ngram_repetition(df: DataFrame) -> DataFrame:
    """Gopher's n-GRAM repetition rules (Rae et al. 2021 §A1.1), the
    phrase-level complement to :func:`repetition_signals`' word-level
    fractions: per document, the top n-gram's share of all n-gram
    instances and the fraction of instances whose n-gram occurs more
    than once, for n = 2 and 3. ("buy cheap pills buy cheap pills ..."
    has modest word repetition but saturates these.)

    Output: (id, n_bigrams, top_bigram_share, dup_bigram_frac,
    n_trigrams, top_trigram_share, dup_trigram_frac).

    Scale: n-gram construction is row-local array math (zip_with over
    shifted slices — no Python, no explode until counting); both sizes
    ride ONE explode and one (doc, n, gram)-keyed count with map-side
    combine; the (doc, n) and (doc) rollups after it exchange
    post-combine rows only (distinct grams, then 2/doc, then 1/doc),
    so the corpus-sized cost is the first exchange alone.
    """
    w = F.split(F.lower(F.col("text")), "\\s+")
    n = F.size(w)

    def grams(order: int) -> Column:
        # slice length floored at 0 so a doc shorter than the order
        # yields no grams instead of an ANSI negative-length error
        glen = F.greatest(n - (order - 1), F.lit(0))
        parts = [F.slice(w, i + 1, glen) for i in range(order)]
        g = parts[0]
        for p in parts[1:]:
            g = F.zip_with(g, p, lambda a, b: F.concat_ws(" ", a, b))
        return g

    tagged = df.select(
        F.col("doc_id"),
        F.explode(
            F.concat(
                F.transform(grams(2), lambda g: F.struct(
                    F.lit(2).alias("order"), g.alias("gram"))),
                F.transform(grams(3), lambda g: F.struct(
                    F.lit(3).alias("order"), g.alias("gram"))),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.order").alias("order"), F.col("t.gram").alias("gram"))
    counted = tagged.groupBy("doc_id", "order", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = F.sum("cnt")

    def share(order: int, expr: Column) -> Column:
        return F.max(F.when(F.col("order") == order, expr))

    per_order = counted.groupBy("doc_id", "order").agg(
        tot.alias("n_grams"),
        (F.max("cnt").cast("double") / tot).alias("top_share"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("double") / tot
        ).alias("dup_frac"),
    )
    return per_order.groupBy("doc_id").agg(
        share(2, F.col("n_grams")).cast("int").alias("n_bigrams"),
        share(2, F.col("top_share")).alias("top_bigram_share"),
        share(2, F.col("dup_frac")).alias("dup_bigram_frac"),
        share(3, F.col("n_grams")).cast("int").alias("n_trigrams"),
        share(3, F.col("top_share")).alias("top_trigram_share"),
        share(3, F.col("dup_frac")).alias("dup_trigram_frac"),
    )


def bpe_pair_counts(df: DataFrame, top_n: int = 20) -> DataFrame:
    """The BPE trainer's inner statistic as ONE distributed aggregation:
    corpus-weighted adjacent-symbol-pair counts over the word-frequency
    table (Sennrich et al. 2016) — the top pair is the next merge.

    Classic BPE training iterates: count pairs -> merge the winner ->
    recount. The COUNT is the only corpus-sized step and it is pure
    aggregation (this function); the merge table is model state measured
    in KBs, living driver-side exactly like k-means centroids
    (kmeans_lloyd) — so distributed BPE = re-running this aggregation
    against a re-symbolized corpus per merge, and the engine shape never
    changes. Here symbols are characters (iteration 0).

    Output: (rnk, pair, cnt) — top ``top_n`` pairs by corpus-weighted
    count, ties broken by pair string.

    Scale: word-frequency table first (one (word)-keyed count with
    map-side combine — Zipf makes this collapse ~100:1), then pairs are
    row-local zip_with over shifted char slices EXPLODED FROM THE WORD
    TABLE, not the corpus: pair rows scale with |vocab| x word length,
    not corpus tokens. Final rollup is a (pair)-keyed sum + one top-n.
    """
    # explicit whitespace class, not \s+ (Java's \s includes \x0b and
    # Python's adds Unicode spaces while DuckDB's RE2 has neither), and
    # explicit ASCII case fold, not lower() (JVM/utf8proc/Python full-
    # Unicode maps disagree on final sigma, dotted I) — both make the
    # trained table identical across every consumer (round-9 review:
    # a \x0b corpus shifted x35's merge ranks; 'ΦΩΣ' shifted x41's ids)
    words = df.select(
        F.explode(
            F.split(
                F.translate(
                    F.col("text"),
                    "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                    "abcdefghijklmnopqrstuvwxyz",
                ),
                "[ \t\n\f\r]+",
            )
        ).alias("word")
    ).filter(F.length("word") >= 2)
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    c = F.split(F.col("word"), "")
    glen = F.greatest(F.size(c) - 1, F.lit(0))
    pairs = wf.select(
        F.col("freq"),
        F.explode(
            F.zip_with(
                F.slice(c, 1, glen),
                F.slice(c, 2, glen),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair"),
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("pair"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("cnt"), F.col("pair"))
    return top.select(
        F.row_number().over(w).alias("rnk"), "pair", "cnt"
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Train/eval overlap detection: flag training documents that share any
    k-word shingle with the held-out evaluation set.

    The standard benchmark-decontamination pass (n-gram collision between
    the training corpus and eval prompts). Returns only CONTAMINATED train
    docs: (id, n_hits, n_shingles, contamination) where ``n_hits`` counts
    the doc's distinct shingles that also occur anywhere in the eval set
    and ``contamination`` = n_hits / n_shingles.

    Scale: the eval set is tiny relative to the corpus (benchmarks are
    KBs, the corpus is TBs), so its distinct-shingle set is broadcast and
    the train side never shuffles for the probe — contamination testing
    is a map-side semi-probe followed by one doc-keyed aggregation. The
    per-doc shingle set is built row-locally (word_shingle_sets: no
    pre-join explode shuffle), and carrying ``n_shingles`` as a grouping
    key makes the final rollup a single aggregation.
    """
    from ..functions import word_shingle_sets

    tr = word_shingle_sets(train, k=k)
    tr_exploded = tr.select(
        F.col("doc_id"),
        F.size("shingle_set").cast("bigint").alias("n_shingles"),
        F.explode("shingle_set").alias("shingle"),
    )
    ev = (word_shingles(eval_docs, k=k) .select("shingle") .distinct())
    return (
        tr_exploded.join(F.broadcast(ev), on="shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_shingles",
            (
                F.col("n_hits").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contamination"),
        )
    )
