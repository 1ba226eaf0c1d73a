"""Streaming decontamination gate: x60's scrub manifest, per epoch.

The eighth leg of the ingest-service family (dedup_stream gates exact
duplicates, semantic_stream gates embedding near-dups, manifest_stream
maintains the export receipt): a documents stream is scored against a
FROZEN eval index — the operational shape of a real release, where the
benchmark set is fixed BEFORE training-corpus ingest begins — and the
per-shard scrub manifest (``x60_leakage_scrub``'s output) is
maintained incrementally.

Per arriving train doc the three-tier verdict is decided against the
frozen index alone, so verdicts are row-independent and the state is
algebraic (counts and the u64 kept-digest sum mod 2^64, merged
shard-keyed): draining the same documents through ANY epoch slicing
yields the identical manifest the batch query computes in one pass
(``tests/test_scrub_stream.py`` asserts exact equality, digest
included).

One deliberate semantic refinement vs the batch query: the ngram
tier's rarity cap is evaluated over the EVAL side (df within the
frozen eval shingles <= max_df), not over the whole corpus — corpus-
wide df changes as the corpus grows, which would make the verdict
non-incremental; eval-side rarity is fixed at freeze time, and it is
the production-correct definition for a gate (the cap exists to stop
boilerplate-grade shingles from flagging everything, and boilerplate
is boilerplate on the eval side too). Whenever no shingle exceeds the
cap under either definition — true at every test SF (measured corpus
max df: 7 at sf0.01) — the two definitions coincide and stream ==
``x60_leakage_scrub`` EXACTLY; the parity test pins this.

Replay safety: count/digest merges are not naturally convergent
(re-applying an epoch double-counts), so the sink runs under
``sinks.versioned_state_sink``'s epoch guard (the contract is stated
in rollup_stream).

Scale: the frozen index is eval-sized (a held-out set — KBs-to-MBs
against a 100 TB corpus), persisted once and probed by every epoch;
each epoch pays one row-local hash + three keyed probes (content key,
band bucket, rare shingle) over its DELTA rows only, then ONE
12-group merge. The state is shard-grain — O(#shards), not O(corpus).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import word_shingle_sets, word_shingles
from ..operators.dedup import _band_buckets
from ..operators.manifest import U64_MOD
from ..operators.splitaudit import scrub_shard_state, split_nibble
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def freeze_eval_index(
    docs: DataFrame,
    k: int = 3,
    max_df: int = 50,
) -> dict[str, DataFrame]:
    """Build (and persist) the static eval-side index the gate probes:
    content keys, LSH band buckets, per-doc shingle sets (for exact
    Jaccard verification), and the eval-rare shingle set. ``docs`` is
    the corpus at freeze time; the eval split (id-nibble >= 12, the
    x6 convention) is extracted here so the caller cannot hand the
    gate a mis-split index."""
    from pyspark import StorageLevel

    from ..caching import track

    ev = docs.filter(split_nibble(F.col("doc_id")) >= 12)

    def pin(df: DataFrame) -> DataFrame:
        return track(df.persist(StorageLevel.MEMORY_AND_DISK))

    keys = pin(
        ev.filter(F.col("text").isNotNull())
        .select(F.md5(F.col("text")).alias("__ck"))
        .distinct()
    )
    buckets = pin(
        _band_buckets(ev, 8, 4, k=k).select(
            F.col("doc_id").alias("eval_id"), "band", "bucket"
        )
    )
    sets = pin(
        word_shingle_sets(ev, k=k).select(
            F.col("doc_id").alias("eval_id"),
            F.col("shingle_set").alias("__set_b"),
        )
    )
    rare = pin(
        word_shingles(ev, k=k)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("shingle")
    )
    return {
        "keys": keys, "buckets": buckets, "sets": sets, "rare": rare, "k": k,
    }


def scrub_delta_state(batch_docs: DataFrame, idx: dict) -> DataFrame:
    """Score one batch of arriving documents against the frozen index
    and reduce to the per-shard algebraic delta state. Rows outside
    the train split (eval arrivals — already in the index — and
    NULL-id rows) pass through unscored, exactly as in the batch
    query."""
    k = idx["k"]
    tdocs = batch_docs.filter(split_nibble(F.col("doc_id")) < 12)

    # exact tier: content key present in the frozen eval key set
    ex_ids = (
        tdocs.filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.col("text")).alias("__ck"))
        .join(idx["keys"], "__ck", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # near-dup tier: band collision against the frozen eval buckets,
    # then row-local exact-Jaccard verification vs the frozen eval sets
    cand = (
        _band_buckets(tdocs, 8, 4, k=k)
        .select(F.col("doc_id").alias("train_id"), "band", "bucket")
        .join(idx["buckets"], ["band", "bucket"])
        .select("train_id", "eval_id")
        .distinct()
    )
    tsets = word_shingle_sets(tdocs, k=k).select(
        F.col("doc_id").alias("train_id"), F.col("shingle_set").alias("__set_a")
    )
    near_ids = (
        cand.join(tsets, "train_id")
        .join(idx["sets"], "eval_id")
        .withColumn("__nc", F.size(F.array_intersect("__set_a", "__set_b")))
        .withColumn(
            "jaccard",
            F.col("__nc")
            / (F.size("__set_a") + F.size("__set_b") - F.col("__nc")),
        )
        .filter(F.col("jaccard") >= 0.35)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    # ngram tier: shares >= 1 eval-rare shingle
    ng_ids = (
        word_shingles(tdocs, k=k)
        .join(idx["rare"], "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    drop_ids = ex_ids.unionByName(near_ids).distinct()
    return scrub_shard_state(batch_docs, drop_ids, ng_ids)


def merge_scrub_states(cur: DataFrame, delta: DataFrame) -> DataFrame:
    """Shard-keyed algebraic merge: counts add; kept_tokens adds with
    the batch SUM's NULL semantics preserved (NULL + NULL stays NULL —
    a shard whose kept rows carry no tokens yet reads exactly like the
    one-shot batch answer); digests add mod 2^64."""
    c = cur.select(*[F.col(x).alias(f"a_{x}") for x in cur.columns])
    d = delta.select(*[F.col(x).alias(f"b_{x}") for x in delta.columns])
    j = c.join(d, c.a_train_shard == d.b_train_shard, "full_outer")

    def add(x):
        return (
            F.coalesce(F.col(f"a_{x}"), F.lit(0))
            + F.coalesce(F.col(f"b_{x}"), F.lit(0))
        ).cast("bigint")

    return j.select(
        F.coalesce("a_train_shard", "b_train_shard").alias("train_shard"),
        add("n_docs").alias("n_docs"),
        add("n_dropped").alias("n_dropped"),
        add("n_flagged_kept").alias("n_flagged_kept"),
        add("n_kept").alias("n_kept"),
        F.when(
            F.col("a_kept_tokens").isNull()
            & F.col("b_kept_tokens").isNull(),
            F.lit(None).cast("bigint"),
        )
        .otherwise(add("kept_tokens"))
        .alias("kept_tokens"),
        F.pmod(
            F.coalesce(F.col("a_kept_sum64"), F.lit(0)).cast("decimal(38,0)")
            + F.coalesce(F.col("b_kept_sum64"), F.lit(0)).cast(
                "decimal(38,0)"
            ),
            F.lit(U64_MOD).cast("decimal(38,0)"),
        )
        .cast("decimal(20,0)")
        .alias("kept_sum64"),
    )


def scrub_state_sink(
    idx: dict, table_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-shard scrub state
    against the frozen eval index, with the manifest/rollup epoch
    guard (exactly-once under crash replay; loud failure on a fresh
    checkpoint lineage pointed at an old table)."""
    return versioned_state_sink(
        "scrub_state_sink",
        table_dir,
        lambda b: scrub_delta_state(b, idx),
        merge_scrub_states,
    )


def read_scrub(spark, table_dir: str) -> DataFrame:
    """The maintained scrub manifest, shaped exactly like
    x60_leakage_scrub's batch output (kept_digest as string)."""
    state = read_version(spark, table_dir).drop("__epoch")
    return state.select(
        "train_shard",
        "n_docs",
        "n_dropped",
        "n_flagged_kept",
        "n_kept",
        "kept_tokens",
        F.col("kept_sum64").cast("string").alias("kept_digest"),
    )


def run_scrub_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    idx: dict,
    schema: str = "doc_id long, text string, source string",
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a parquet drop-dir of document rows through the gate with
    ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        scrub_state_sink(idx, table_dir), checkpoint_dir,
    )
