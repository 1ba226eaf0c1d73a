"""Train/eval split-integrity overlap audit — the leakage-audit
artifact an LLM data release publishes before a corpus ships.

For every (train-shard, eval-set) pair, reports how much of the eval
set leaks into that train shard at three severity tiers:

- ``exact``   — identical content (md5(text) equality), d1's key;
- ``near_dup``— MinHash-band candidates verified at exact word-shingle
                Jaccard >= threshold, d3's exact machinery;
- ``ngram``   — at least one shared RARE k-word shingle (document
                frequency <= max_df over the full corpus), the
                x13-style n-gram collision at PAIR grain.

Tiers are INCLUSIVE (an exact dup is normally also a near-dup and an
n-gram hit) — consumers pick their severity bar; the per-tier example
pair (min train id, min eval id) gives an auditor a concrete document
pair to eyeball per cell.

Splits and shards are the house content-hash convention (x6 split /
x32 shard layout): nibble = first hex digit of md5(doc_id) — train is
nibble 0..11, 'val' 12..13, 'test' 14..15, and the train SHARD is the
nibble itself, so every (shard, eval-set) cell is a deterministic,
restart-stable partition of the audit. Rows with NULL doc_id have no
nibble and are excluded from the audit (they cannot be addressed by a
release manifest either).

Scale: the side restriction (train vs eval) happens BEFORE each pair
join, so train x train and eval x eval pairs are never formed — at
100 TB the eval side is a held-out set orders of magnitude smaller
than the corpus, and each tier's join is keyed (content key / band
bucket / rare shingle) with the d2/d3 fanout bounds: the rare-shingle
cap bounds n-gram fanout at max_df^2 per shingle key, band buckets
keep near-dup candidate generation sub-quadratic, and the final
aggregate is at (shard, eval_set, tier) grain — at most
12 x 2 x 3 = 72 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import word_shingles
from .dedup import _band_buckets, _rare_shingles, _verify_candidates


def split_nibble(c: Column) -> Column:
    """First hex digit of md5(id) as 0..15 — the x6/x32 convention.
    NULL id -> NULL nibble (the row belongs to no split or shard)."""
    return (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(c.cast("string")), 1, 1),
        )
        - 1
    ).cast("int")


def tier_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    near_threshold: float = 0.35,
    k: int = 3,
    max_df: int = 50,
) -> dict[str, DataFrame]:
    """The three cross-split pair frames the audit AND the scrub share:
    ``{'exact' | 'near_dup' | 'ngram': (train_id, eval_id)}`` — each
    side-restricted before its pair join (see module docstring)."""
    from pyspark import StorageLevel

    from ..caching import track

    nib = split_nibble(F.col("doc_id"))
    # side restriction is a pure map-side filter on the id hash — no
    # label table, no join; NULL nibbles fail both predicates
    train = docs.filter(nib < 12)
    evals = docs.filter(nib >= 12)

    # ---- exact tier: content-key equi-join, train side x eval side
    def keyed(side: DataFrame, out: str) -> DataFrame:
        return side.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").alias(out), F.md5(F.col("text")).alias("__ck")
        )

    ex = (
        keyed(train, "train_id")
        .join(keyed(evals, "eval_id"), "__ck")
        .select("train_id", "eval_id")
    )

    # ---- near-dup tier: d3's band buckets, sides restricted BEFORE
    # the bucket join, then d3's row-local exact-Jaccard verification
    buckets = track(
        _band_buckets(
            docs, num_hashes, bands, k=k
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    bnib = split_nibble(F.col("doc_id"))
    ba = buckets.filter(bnib < 12).select(
        F.col("doc_id").alias("train_id"), "band", "bucket"
    )
    bb = buckets.filter(bnib >= 12).select(
        F.col("doc_id").alias("eval_id"), "band", "bucket"
    )
    cand = (
        ba.join(bb, ["band", "bucket"])
        .select("train_id", "eval_id")
        .distinct()
    )
    near = _verify_candidates(
        cand, docs, k, near_threshold, "doc_id", "text",
        "train_id", "eval_id",
    ).select("train_id", "eval_id")

    # ---- n-gram tier: >= 1 shared rare shingle (df-capped inverted
    # index, the d2 fanout bound), sides restricted before the join
    sh = track(
        _rare_shingles(
            word_shingles(docs, k=k),
            max_df,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    snib = split_nibble(F.col("doc_id"))
    sa = sh.filter(snib < 12).select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    sb = sh.filter(snib >= 12).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    ng = sa.join(sb, "shingle").select("train_id", "eval_id").distinct()

    return {"exact": ex, "near_dup": near, "ngram": ng}


def split_overlap_audit(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    near_threshold: float = 0.35,
    k: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Per (train_shard, eval_set, tier): distinct leaked-into train
    docs, distinct (train, eval) pairs, and the (min train id, min
    eval id) example pair. Output columns: train_shard, eval_set,
    tier, n_train_docs, n_pairs, example_train_id, example_eval_id."""
    pairs = tier_pairs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        near_threshold=near_threshold,
        k=k,
        max_df=max_df,
    )
    tiers = (
        pairs["exact"].select(
            F.lit("exact").alias("tier"), "train_id", "eval_id"
        )
        .unionByName(
            pairs["near_dup"].select(
                F.lit("near_dup").alias("tier"), "train_id", "eval_id"
            )
        )
        .unionByName(
            pairs["ngram"].select(
                F.lit("ngram").alias("tier"), "train_id", "eval_id"
            )
        )
    )
    # shard and eval_set recomputed map-side from the pair ids — the
    # split is a pure function of the id, so no label join is needed
    out = tiers.select(
        "tier",
        "train_id",
        "eval_id",
        split_nibble(F.col("train_id")).alias("train_shard"),
        F.when(split_nibble(F.col("eval_id")) < 14, "val")
        .otherwise("test")
        .alias("eval_set"),
    )
    return out.groupBy("train_shard", "eval_set", "tier").agg(
        F.countDistinct("train_id").cast("bigint").alias("n_train_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("train_id").cast("bigint").alias("example_train_id"),
        F.min("eval_id").cast("bigint").alias("example_eval_id"),
    )


def leakage_scrub_manifest(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    near_threshold: float = 0.35,
    k: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """The remediation half of the audit (the x56 -> x58 pattern):
    apply the standard decontamination policy to the train split —
    DROP exact and verified near-dup leaks, FLAG-but-KEEP n-gram-only
    hits (an isolated shared shingle is too noisy a signal to delete
    on) — and emit the per-shard post-scrub manifest: doc counts per
    verdict, surviving token mass, and an x55-style order-independent
    u64 digest of the KEPT (doc_id:text) multiset, so the release can
    pin exactly which training bytes survived decontamination with
    one string compare per shard.

    Output: (train_shard, n_docs, n_dropped, n_flagged_kept, n_kept,
    kept_tokens, kept_digest). Scale: the pair frames are shared with
    the audit (same bounds); the manifest side is one row-local hash
    per train doc + two id-keyed left joins against id-sized verdict
    sets + ONE 12-group map-side-combined agg — the x55 shape with a
    leakage verdict attached."""
    pairs = tier_pairs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        near_threshold=near_threshold,
        k=k,
        max_df=max_df,
    )
    drop_ids = (
        pairs["exact"]
        .select("train_id")
        .unionByName(pairs["near_dup"].select("train_id"))
        .distinct()
        .select(F.col("train_id").alias("doc_id"))
    )
    flag_ids = (
        pairs["ngram"]
        .select("train_id")
        .distinct()
        .select(F.col("train_id").alias("doc_id"))
    )
    state = scrub_shard_state(docs, drop_ids, flag_ids)
    return state.withColumn(
        "kept_digest", F.col("kept_sum64").cast("string")
    ).drop("kept_sum64")


def scrub_shard_state(
    docs: DataFrame, drop_ids: DataFrame, flag_ids: DataFrame
) -> DataFrame:
    """Per-train-shard scrub manifest of ``docs``, given the distinct
    ``doc_id`` frames to DROP and to FLAG-but-KEEP: (train_shard,
    n_docs, n_dropped, n_flagged_kept, n_kept, kept_tokens,
    kept_sum64), with kept_sum64 the u64 digest of the kept rows as
    decimal(20,0). Shared by the batch x60 manifest and the streaming
    scrub gate's per-epoch delta, so both count and digest alike."""
    from .manifest import U64_MOD, manifest_rows

    # manifest_rows' shard IS the split nibble (x32 layout), so the
    # train restriction is a shard-range filter; NULL-id rows sit in
    # shard -1 and stay out of the scrub, matching the audit
    rows = manifest_rows(docs)
    train = rows.filter((F.col("shard") >= 0) & (F.col("shard") < 12))
    drop = drop_ids.select("doc_id", F.lit(True).alias("__drop"))
    flag = flag_ids.select("doc_id", F.lit(True).alias("__flag"))
    j = train.join(drop, "doc_id", "left").join(flag, "doc_id", "left")
    dropped = F.coalesce(F.col("__drop"), F.lit(False))
    kept = ~dropped
    flagged_kept = F.coalesce(F.col("__flag"), F.lit(False)) & kept
    return j.groupBy(F.col("shard").alias("train_shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(dropped.cast("int")).cast("bigint").alias("n_dropped"),
        F.sum(flagged_kept.cast("int"))
        .cast("bigint")
        .alias("n_flagged_kept"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")))
        .cast("bigint")
        .alias("kept_tokens"),
        F.pmod(
            F.coalesce(
                F.sum(F.when(kept, F.col("h64"))),
                F.lit(0).cast("decimal(38,0)"),
            ),
            F.lit(U64_MOD).cast("decimal(38,0)"),
        )
        .cast("decimal(20,0)")
        .alias("kept_sum64"),
    )
