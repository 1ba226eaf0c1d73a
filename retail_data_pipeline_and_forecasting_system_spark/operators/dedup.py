"""Deduplication operators for large-scale document pipelines.

Five dedup strategies, all expressed as compositions of built-in DataFrame
ops (JVM-side, shuffle-aware) so they scale to billions of documents:

- exact        : hash-groupBy on content digest — one shuffle on md5(text).
- ngram Jaccard: shingle explode -> document-frequency cap -> self-join on
                 shingle -> pair agg. The shingle join only pairs docs that
                 SHARE a shingle, and the ``max_df`` cap bounds each key's
                 fanout at max_df² pair rows, so cost is linear in rare-
                 shingle mass — the inverted-index trick made hot-key-proof.
- MinHash+LSH  : shingle -> k sliced salted-md5 minhashes -> band buckets ->
                 candidates share a bucket -> verify exact Jaccard. Sub-
                 quadratic: candidate generation is a groupBy on band bucket.
- SimHash      : per-token md5 bits -> weighted bit-majority -> b-bit
                 fingerprint; near-dups = pairs with small Hamming distance.
- Embedding    : cosine over an embedding column with block-local pairing
                 (label/bucket blocking) to avoid the n² cross join.

Hashing is md5-based so every operator has an exact cross-engine SQL oracle
(see plans/analytics.py). At 100 TB the shuffles partition on shingle /
bucket / digest respectively — all high-cardinality keys, no broadcast
needed; skewed shingles (stopword runs, boilerplate) are bounded by the
``max_df`` document-frequency cap in the pair-join operators, the distinct()
before the join, and AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    char_shingles,
    explode_tokens,
    minhash_signature_local,
    nibble_value,
    word_shingle_sets,
    word_shingles,
    word_shingles_from_words,
)


def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep the lowest id per distinct content (content keyed by md5).

    Output: (content_key, keep_id, n_copies). One hash-aggregate shuffle.
    """
    return (
        df.groupBy(F.md5(F.col("text")).alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
) -> DataFrame:
    """All document pairs (a < b) with k-shingle Jaccard >= threshold.

    jaccard = |A ∩ B| / (|A| + |B| − |A ∩ B|), computed exactly from the
    inverted shingle index over the RARE-shingle sets: shingles appearing
    in more than ``max_df`` documents are dropped before the pair join
    (both from the intersection and the set sizes — the same consistent
    definition as :func:`char_jaccard_pairs`, where the cap was first
    added after a measured OOM at sf0.1). Without the cap the inverted-
    index self-join costs Σ docs-per-shingle²: ONE boilerplate shingle
    shared by 10⁵ docs emits 10¹⁰ pair rows from a single join key. With
    it, each shingle contributes at most ``max_df²`` pair rows, so the
    join is linear in rare-shingle mass — the 100 TB bound. Word
    3-shingles are selective (measured max df: 7 at sf0.01, 25 at sf0.1,
    so 50 never binds at test scale), and true near-dups share plenty of
    rare shingles, so the capped Jaccard is near-dup-faithful.
    ``max_df=None`` disables the cap. Output: (doc_a, doc_b, jaccard).
    """
    sh = word_shingles(df, k=k, distinct=False)
    sh = _shingle_partitioned_distinct(sh)
    sh = _rare_shingles(sh, max_df)
    return _jaccard_from_shingles(sh, threshold)


def jaccard_pairs_from_words(
    words: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
) -> DataFrame:
    """:func:`jaccard_pairs` starting from a PRE-SPLIT (id, words) frame.

    Identical output (same shingling, same df cap, same exact Jaccard) —
    the entry point for pipelines that already tokenized the corpus for
    other signals (x7's fused curation pass persists one tokens frame
    and feeds both the per-doc signal aggregation and this shingle index
    from it), removing a full corpus re-scan + re-split.
    """
    sh = word_shingles_from_words(words, k=k, distinct=False)
    sh = _shingle_partitioned_distinct(sh)
    sh = _rare_shingles(sh, max_df)
    return _jaccard_from_shingles(sh, threshold)


def char_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    max_df: int = 20,
) -> DataFrame:
    """Character-k-gram Jaccard pairs — the dedup path for text that has
    no whitespace segmentation (CJK, code, URLs).

    Char k-grams are far less selective than word shingles, so the
    inverted index MUST drop common shingles or the pair join explodes
    (Σ docs-per-shingle² with hot shingles in hundreds of docs — measured
    OOM at sf0.1 without the cap). ``max_df`` keeps only shingles
    appearing in ≤ that many documents; Jaccard is then computed over the
    rare-shingle sets on both the intersection and the sizes, a
    consistent (and near-dup-faithful) definition — true near-dups share
    plenty of rare shingles."""
    sh = char_shingles(df, k=k, distinct=False)
    sh = _shingle_partitioned_distinct(sh)
    sh = _rare_shingles(sh, max_df)
    return _jaccard_from_shingles(sh, threshold)


def _shingle_partitioned_distinct(sh: DataFrame) -> DataFrame:
    """Establish the shingle pipeline's ONE exchange up front (guide
    §2.4 "two operations keyed the same way can share one exchange").

    Hash-partitioning the exploded (id, shingle) rows on ``shingle``
    satisfies every downstream clustering requirement in the pair
    pipeline — the (id, shingle) distinct (subset key), the document-
    frequency cap's per-shingle aggregate, its join back, and BOTH
    sides of the inverted-index pair self-join — so what used to be a
    distinct exchange + a df-count exchange + two pair-join exchanges
    of the persisted frame collapses into this single repartition (the
    cached frame's partitioning is preserved by InMemoryTableScan and
    recognized by the planner). No explicit partition count: the
    session's shuffle sizing / AQE stays in charge, so the shape is the
    same at any scale. Rows are unchanged — placement only.
    """
    return sh.repartition("shingle").distinct()


def _rare_shingles(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The document-frequency count shuffles on the SAME key as the pair
    join that follows, and caps that join's per-key fanout at
    ``max_df²`` rows — Σ df² ≤ max_df · Σ df, i.e. linear instead of
    quadratic in hot-key frequency. ``None`` disables the cap.
    """
    if max_df is None:
        return sh
    rare = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    ).filter(F.col("__df") <= max_df).select("shingle")
    return sh.join(rare, on="shingle")


def _jaccard_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    # the rare-shingle frame is consumed THREE times (per-doc sizes +
    # both sides of the pair join); without a persist each consumer
    # re-runs the shingle explode + distinct + df-cap join (measured
    # 3.4 s -> 2.1 s for d2 at sf0.1 with the persist). Same one-shot
    # caching stance as minhash_lsh_pairs' bucket frame. Tracked in
    # ..caching so the calling thread's next registry query releases it.
    from pyspark import StorageLevel

    from ..caching import track

    sh = track(sh.persist(StorageLevel.MEMORY_AND_DISK))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _band_buckets(
    df: DataFrame,
    num_hashes: int,
    bands: int,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH band buckets: one row per (doc, band, bucket-hash).

    Signatures are computed ROW-LOCALLY (:func:`minhash_signature_local`)
    — the whole shingle → salted-md5 → min pipeline happens inside the
    scan stage with zero shuffle; nothing explodes except the final
    bands column (``bands`` rows/doc). Round-1 exploded shingles and
    re-grouped by doc (a full (doc, shingle)-grain shuffle) and
    re-shingled the corpus three more times for verification; both are
    gone.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_local(
        df, num_hashes, k=k, id_col=id_col, text_col=text_col
    )
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("bucket"),
            )
        )
    return sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle -> minhash signature (num_hashes 32-bit slices of
    ceil(n/4) salted md5s) ->
    band buckets (md5 of the band's rows) -> candidates = pairs sharing any
    bucket -> exact-Jaccard verification >= threshold.

    Output: (doc_a, doc_b, jaccard). Candidate generation never compares
    non-colliding docs, so the expensive verification only runs on the
    (tiny) candidate set — this is the 100 TB path where all-pairs Jaccard
    is infeasible.
    """
    buckets = _band_buckets(df, num_hashes, bands, k=k)
    # The candidate step self-joins the bucket frame; without a persist
    # Spark evaluates the whole shingle -> md5 -> signature pipeline
    # once PER SIDE (md5 over every shingle dominates d3's cost).
    # The cached frame is tiny — (id, band, bucket-hash) × bands rows
    # per doc, independent of document length — so MEMORY_AND_DISK is
    # bounded; tracked in ..caching so the next registry query
    # releases it (callers can also spark.catalog.clearCache()).
    # Persist it ALREADY hash-partitioned on the self-join key
    # (band, bucket): the cached partitioning satisfies both join
    # sides' clustering, so the candidate join re-exchanges NOTHING
    # — one repartition at build replaces two exchanges of the same
    # rows per consumer (guide §2.4). No explicit partition count:
    # shuffle sizing / AQE stays scale-adaptive.
    from pyspark import StorageLevel

    from ..caching import track

    buckets = track(
        buckets.repartition("band", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    ca = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    cb = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    candidates = (
        ca.join(cb, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    return _verify_candidates(
        candidates, df, k, threshold, "doc_id", "text", "doc_a", "doc_b"
    ).select("doc_a", "doc_b", "jaccard")


def _verify_candidates(
    cand: DataFrame,
    df: DataFrame,
    k: int,
    threshold: float,
    id_col: str,
    text_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Candidate-driven exact-Jaccard verification, row-local: join the
    (tiny) candidate pairs to each doc's DISTINCT shingle set — built
    inside the row with array expressions, no explode, no shuffle on
    shingles — then intersect the two arrays per pair. Verification cost
    is proportional to |candidates|, and the documents scan is one
    row-local map per side (Catalyst broadcasts the candidate side).
    Returns ``cand``'s columns plus ``jaccard``, filtered to
    ``jaccard >= threshold``."""
    sets = word_shingle_sets(df, k=k, id_col=id_col, text_col=text_col)
    set_a = sets.select(
        F.col(id_col).alias(a_col), F.col("shingle_set").alias("__set_a")
    )
    set_b = sets.select(
        F.col(id_col).alias(b_col), F.col("shingle_set").alias("__set_b")
    )
    return (
        cand.join(set_a, a_col)
        .join(set_b, b_col)
        .withColumn(
            "__nc", F.size(F.array_intersect("__set_a", "__set_b"))
        )
        .withColumn(
            "jaccard",
            F.col("__nc")
            / (F.size("__set_a") + F.size("__set_b") - F.col("__nc")),
        )
        .filter(F.col("jaccard") >= threshold)
        .drop("__set_a", "__set_b", "__nc")
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """Per-document b-bit SimHash from token md5s.

    Bit j of a token = bit j of its md5's leading hex nibbles; the document
    bit is the sign of Σ_tokens (±1). Output: (id, simhash int).

    Pure column expressions (b conditional-sum aggregates over one token
    explode) — at scale this is a single hash-aggregate on doc id.
    """
    toks = explode_tokens(df).withColumn("h", F.md5(F.col("token")))
    bit_sums = []
    for j in range(bits):
        nib = nibble_value("h", 1 + j // 4)
        # arithmetic bit extraction (floor-div + mod) — portable across
        # engines, unlike shift operators
        bit = F.floor(nib / F.lit(2 ** (3 - j % 4))).cast("int") % 2
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s_{j}")
        )
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << (bits - 1 - j))).otherwise(0)
        sim = term if sim is None else sim + term
    return sums.select(F.col("doc_id"), sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole segment blocking (lossless): the b-bit fingerprint is split
    into ``max_hamming + 1`` segments; any pair within Hamming distance d
    differs in at most d segments, so it MUST agree exactly on at least one
    of the d+1 — an equi-join on (segment-idx, segment-value) therefore
    generates every qualifying pair without ever comparing non-colliding
    fingerprints. Candidates are then verified with an exact ``bit_count``
    of the XOR. This replaces the round-1 exhaustive ``doc_a < doc_b``
    theta self-join (a broadcast nested-loop over all n² pairs): the plan
    is now one explode (d+1 rows/doc) + one hash equi-join partitioned on
    segment value — the 100 TB shape. The DuckDB oracle deliberately stays
    the exhaustive pair join, so the driver's hash-match PROVES the
    blocking loses no pair.
    """
    s = simhash(df, bits=bits)
    n_seg = max_hamming + 1
    widths = [
        bits // n_seg + (1 if i < bits % n_seg else 0) for i in range(n_seg)
    ]
    seg_structs = []
    shift = bits
    for i, w in enumerate(widths):
        shift -= w
        seg_structs.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftrightunsigned(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("segval"),
            )
        )
    segs = s.select(
        "doc_id", "simhash", F.explode(F.array(*seg_structs)).alias("ss")
    ).select(
        "doc_id",
        "simhash",
        F.col("ss.seg").alias("seg"),
        F.col("ss.segval").alias("segval"),
    )
    a = segs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "seg",
        "segval",
    )
    b = segs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "seg",
        "segval",
    )
    candidates = (
        a.join(b, on=["seg", "segval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        candidates.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_dedup(
    df: DataFrame,
    new_pred: Column,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_tracker: list | None = None,
) -> DataFrame:
    """Dedup an arriving batch AGAINST an existing corpus — the production
    ingestion shape: a new partition lands and must be checked against
    everything already accepted, without ever re-comparing the corpus to
    itself.

    The bucket frame is persisted so the signature pipeline is not
    evaluated once per side of the candidate join. A long-running
    ingestion service passes a ``cache_tracker`` list: every frame this
    call persists is appended to it, so the caller can ``unpersist()``
    each one after consuming the output (the streaming rendition in
    ``streaming/dedup_stream.py`` does exactly that per epoch). Without
    a tracker the frame is registered with ``..caching``, and the next
    registry query releases it.

    ``new_pred`` is a row predicate marking the new batch (a
    ``batch_date`` partition in practice). Verdict per new document:

    - ``exact``  — byte-identical text exists in the corpus (md5 key);
    - ``near``   — shares an LSH band bucket with a corpus doc AND exact
                   shingle Jaccard >= ``threshold``;
    - ``unique`` — neither.

    Output: (doc_id, status, match_id) where match_id is the LOWEST
    matching corpus doc id (exact match wins over near), NULL for unique.

    Scale: candidates come only from new x corpus bucket collisions —
    the corpus x corpus quadrant is never generated (the batch side of
    the bucket join is tiny, so AQE broadcasts it); at 100 TB the corpus
    signatures and content keys are incrementally maintained tables, so
    each ingest computes signatures for the BATCH only and joins against
    the stored index. The exact-key join groups the corpus by content
    key (one hash-agg reused across ingests when materialized).
    """
    flagged = df.select(
        F.col(id_col), F.col(text_col), new_pred.alias("__new")
    )
    new_docs = flagged.filter(F.col("__new"))
    corpus = flagged.filter(~F.col("__new"))

    # exact: content-key equi join, corpus pre-grouped to its min id
    new_keys = new_docs.select(
        F.col(id_col).alias("new_id"), F.md5(text_col).alias("__ck")
    )
    corpus_keys = corpus.groupBy(F.md5(text_col).alias("__ck")).agg(
        F.min(id_col).alias("exact_id")
    )
    exact = new_keys.join(corpus_keys, "__ck").select("new_id", "exact_id")

    # near: banded buckets over the full frame (one signature pass),
    # candidates restricted to the new x corpus quadrant. The bucket
    # frame (tiny: (id, band, bucket)) is persisted so the shingle ->
    # md5 -> signature pipeline runs once, not per side of the
    # candidate join.
    buckets = _band_buckets(
        df, num_hashes, bands, k=k, id_col=id_col, text_col=text_col
    )
    flags = flagged.select(id_col, "__new")
    tagged = buckets.join(flags, id_col)
    from pyspark import StorageLevel

    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_tracker is not None:
        # caller-managed release (the streaming services' per-epoch
        # unpersist) — do NOT also register globally, the epoch
        # cache must outlive interleaved registry queries
        cache_tracker.append(tagged)
    else:
        from ..caching import track

        track(tagged)
    nb = tagged.filter(F.col("__new")).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    cb = tagged.filter(~F.col("__new")).select(
        F.col(id_col).alias("corp_id"), "band", "bucket"
    )
    cand = nb.join(cb, ["band", "bucket"]).select("new_id", "corp_id").distinct()

    # verify candidates with exact Jaccard over row-local shingle sets
    near = (
        _verify_candidates(
            cand, df, k, threshold, id_col, text_col, "new_id", "corp_id"
        )
        .groupBy("new_id")
        .agg(F.min("corp_id").alias("near_id"))
    )

    return (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(exact, "new_id", "left")
        .join(near, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
    )


def containment_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
    max_df: int | None = 50,
) -> DataFrame:
    """Directed shingle-containment pairs: |A ∩ B| / |A| >= threshold.

    The asymmetric complement of :func:`jaccard_pairs`: a short document
    quoted inside a long one has HIGH containment but LOW Jaccard (the
    union is dominated by the long doc), so symmetric dedup misses
    sub/superset duplication — quotes, excerpts, copies-with-additions.
    Output is DIRECTED: (doc_a, doc_b, containment) means doc_a's
    shingle set is >= threshold contained in doc_b's; both directions
    are emitted when both clear the threshold.

    Same rare-shingle inverted index as :func:`jaccard_pairs`:
    ``max_df`` drops shingles in more than that many docs before the
    pair join (consistently from intersection AND sizes), bounding the
    per-key join fanout at ``max_df²`` — without it cost is
    Σ docs-per-shingle², quadratic in hot-key frequency. The unordered
    intersection is computed once and fanned out into the two directed
    rows row-locally.
    """
    sh = word_shingles(df, k=k, distinct=False)
    sh = _shingle_partitioned_distinct(sh)  # one exchange feeds all (r14)
    sh = _rare_shingles(sh, max_df)
    # triple-consumed (sizes + both join sides) — persist like
    # _jaccard_from_shingles does, for the same measured reason;
    # tracked in ..caching so the next registry query releases it
    from pyspark import StorageLevel

    from ..caching import track

    sh = track(sh.persist(StorageLevel.MEMORY_AND_DISK))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    both = inter.join(na, "doc_a").join(nb, "doc_b")
    fwd = both.select(
        "doc_a", "doc_b", (F.col("n_common") / F.col("n_a")).alias("containment")
    )
    rev = both.select(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        (F.col("n_common") / F.col("n_b")).alias("containment"),
    )
    return fwd.union(rev).filter(F.col("containment") >= threshold)


def segment_dedup(
    df: DataFrame,
    seg_words: int = 10,
    key: str = "text",
) -> DataFrame:
    """Sub-document exact dedup, RefinedWeb/CCNet line-dedup style: cut
    each document into fixed-width word segments, drop every segment
    whose exact content appeared earlier in the corpus (first occurrence
    by (id, position) wins — including earlier in the SAME document),
    and reassemble the surviving text.

    Web-pipeline line dedup removes boilerplate (nav bars, cookie
    banners) that document-level dedup never sees; this corpus has no
    newlines, so the segment is a ``seg_words``-word window — the same
    operator applies to real line/paragraph splits by swapping the
    splitter.

    Output: (id, n_segs, n_kept, text_dedup) — text_dedup is the kept
    segments joined in document order ("" when everything was seen
    before).

    PRECONDITION: ``doc_id`` uniquely identifies rows (it is the
    document's primary key). Under duplicate ids the two key modes
    diverge — ``key="text"`` groups all same-id rows into one pooled
    output row, while ``key="md5"`` re-derives text per input row and
    joins pooled counts onto each (round-6 ADVICE). Deduplicating here
    would shuffle full document text, defeating the md5 mode's no-text-
    shuffle design, so the precondition is the caller's contract — the
    same one every per-document operator in this package assumes.

    Scale — two interchangeable physical shapes, identical output:

    - ``key="text"`` (default, the driver-oracle shape): the
      first-occurrence rank is ONE window shuffle keyed on the segment
      text; per-key row count = duplicate count, so skew is bounded by
      the most-copied segment (a heavy boilerplate line lands one
      task) and shuffle rows carry the full text.
    - ``key="md5"`` (the 100 TB shape): segments are hashed row-local
      and the text is DROPPED before any shuffle — the first
      occurrence per hash is a groupBy-min over (hash, id, idx) rows
      (16-byte key, map-side combine, so the hottest boilerplate
      segment partially aggregates in every map task instead of
      landing one window task), keep flags collapse to a per-doc
      kept-index array, and the surviving text is re-derived row-local
      from the original document. No shuffle in the plan carries
      segment text; output is identical modulo md5 collisions
      (2^-64-scale at corpus size; acceptable for dedup, same trade
      every fingerprint dedup makes).
    """
    w = F.split(F.col("text"), " ")
    n_segs = F.ceil(F.size(w) / F.lit(seg_words)).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(w, i * seg_words + 1, seg_words), " "
        ),
    )
    if key == "md5":
        # (id, seg_idx, 16-byte hash) — no text crosses a shuffle
        hashed = df.select(
            F.col("doc_id"),
            F.posexplode(
                F.transform(seg_arr, lambda s: F.md5(s))
            ).alias("seg_idx", "h"),
        )
        winner = hashed.groupBy("h").agg(
            F.min(F.struct(F.col("doc_id"), F.col("seg_idx"))).alias("__w")
        )
        flags = hashed.join(winner, "h").select(
            "doc_id",
            "seg_idx",
            (
                (F.col("__w").getField("doc_id") == F.col("doc_id"))
                & (F.col("__w").getField("seg_idx") == F.col("seg_idx"))
            ).alias("__keep"),
        )
        per_doc = flags.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("int").alias("n_segs"),
            F.sum(F.col("__keep").cast("int")).cast("int").alias("n_kept"),
            F.sort_array(
                F.collect_list(F.when(F.col("__keep"), F.col("seg_idx")))
            ).alias("__kept_idx"),
        )
        return df.join(per_doc, "doc_id").select(
            "doc_id",
            "n_segs",
            "n_kept",
            F.array_join(
                F.transform(
                    F.col("__kept_idx"),
                    lambda i: F.element_at(seg_arr, i + 1),
                ),
                " ",
            ).alias("text_dedup"),
        )
    if key != "text":
        raise ValueError(f"segment_dedup: unknown key mode {key!r}")
    segs = df.select(
        F.col("doc_id"),
        F.posexplode(seg_arr).alias("seg_idx", "seg"),
    )
    first = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn(
        "__keep", F.row_number().over(first) == 1
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("seg_idx"), F.col("seg"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segs"),
        F.sum(F.col("__keep").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("text_dedup"),
    )


def edit_distance_dedup(
    df: DataFrame,
    threshold: int = 8,
    prefix_len: int = 16,
    max_block: int | None = 50,
) -> DataFrame:
    """Record-linkage dedup: docs within ``threshold`` Levenshtein edits
    of a lower-id doc, with prefix+length blocking so no all-pairs scan.

    Output: one row per duplicate — (doc_id, canonical_id, edit_dist)
    where canonical_id is the LOWEST-id neighbor within the threshold
    and edit_dist is the distance to that canonical (min_by, so the
    reported distance always belongs to the reported canonical).

    Blocking (part of the operator's defined semantics, replicated in
    the oracle): candidate pairs share their first ``prefix_len``
    characters AND differ in length by at most ``threshold`` (the
    Levenshtein lower bound |len(a)-len(b)| <= d makes the length band
    lossless; the prefix block is a recall heuristic — edits inside the
    first ``prefix_len`` chars hide a pair, the standard multi-pass
    blocking trade-off in record linkage). Blocks with more than
    ``max_block`` docs are dropped whole before the self-join (the
    max_df house rule: one boilerplate prefix shared by 10^5 docs
    would emit 10^10 pair rows from a single join key; with the cap a
    block costs at most max_block^2). Measured: max block 10 at sf0.1,
    so the default cap never binds at test scale.

    Cross-engine exactness: unit-cost Levenshtein is integer-valued in
    both engines (Spark F.levenshtein / DuckDB levenshtein), identical
    on ASCII/BMP text (Spark counts UTF-16 code units, DuckDB code
    points — they diverge only beyond the BMP). The O(len^2) distance
    runs ONLY on blocked candidates that survive the length band.

    At 100 TB: the block key is the ONE shuffle (high-cardinality
    prefix), per-block pair fanout is capped, and the canonical pick is
    a map-side-combinable min/min_by agg keyed on doc id.
    """
    blk = F.substring(F.col("text"), 1, prefix_len)
    docs = df.select(
        F.col("doc_id").alias("ida"),
        F.col("text").alias("ta"),
        F.length("text").alias("la"),
        blk.alias("blk"),
    )
    if max_block is not None:
        small = (
            docs.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_block)
            .select("blk")
        )
        docs = docs.join(small, "blk")
    # both sides of the pair self-join read this frame: persist it so
    # the scan + block-cap semi-join build once (the containment_pairs
    # rule); tracked in ..caching so the next registry query releases it
    from pyspark import StorageLevel

    from ..caching import track

    docs = track(docs.persist(StorageLevel.MEMORY_AND_DISK))
    rhs = docs.select(
        F.col("ida").alias("idb"),
        F.col("ta").alias("tb"),
        F.col("la").alias("lb"),
        "blk",
    )
    pairs = (
        docs.join(rhs, "blk")
        .filter(
            (F.col("ida") < F.col("idb"))
            & (F.abs(F.col("la") - F.col("lb")) <= threshold)
        )
        .select("ida", "idb", F.levenshtein("ta", "tb").alias("ed"))
        .filter(F.col("ed") <= threshold)
    )
    return pairs.groupBy(F.col("idb").alias("doc_id")).agg(
        F.min("ida").alias("canonical_id"),
        F.min_by("ed", "ida").cast("int").alias("edit_dist"),
    )
