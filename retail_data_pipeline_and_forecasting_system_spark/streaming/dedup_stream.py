"""Streaming corpus ingestion with incremental near-dup gating.

The production loop for building a training corpus continuously: documents
arrive on a stream, each micro-batch is checked against everything already
ACCEPTED (exact content key + MinHash-LSH near-dup, the
``operators.dedup.incremental_dedup`` semantics), verdicts are recorded,
and only ``unique`` documents join the corpus. The reference has no
streaming story (single-shot batch, src/data_processor.py); this is the
shape its ingestion would need to run 24/7.

Layout (both directories are epoch-partitioned for replay idempotence,
the same convention as ``sinks.idempotent_parquet_sink``):

- ``corpus_dir/batch_id=<n>/`` — accepted (unique) docs of epoch n;
  batch readers scan the root and see the whole corpus.
- ``verdicts_dir/batch_id=<n>/`` — (doc_id, status, match_id) per epoch.

Crash/replay: both writes go through ``sinks.write_epoch``, so a replay
overwrites its possibly-partial output and the corpus converges to the
same files. The corpus read goes through ``sinks.read_other_epochs``,
which excludes the epoch's OWN partition, so a partially-committed epoch
never dedups against itself (without that, a replayed doc would match
its own half-written copy and be rejected as 'exact', corrupting the
corpus).

Scale: each epoch signs and shingles ONLY the arriving batch plus the
accepted corpus; candidates come exclusively from new x corpus bucket
collisions (never corpus x corpus — that quadrant is already deduped by
induction). At 100 TB the corpus side's signatures/content keys become
incrementally-maintained tables (see ``operators/dedup.py``); here they
are recomputed per epoch, which is exact at test scale and keeps the
example self-contained. The bucket frame is persisted per epoch and
explicitly unpersisted after the writes — a service running for months
holds no cached state between epochs.

Intra-batch duplicates: two copies arriving in the SAME epoch are both
checked against the corpus only — both can be admitted (standard
incremental-dedup semantics; the registry d11 query behaves the same).
Shrink the trigger interval if intra-epoch dup pressure matters.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import incremental_dedup
from .sinks import drain_available_now, read_other_epochs, write_epoch


def incremental_dedup_sink(
    corpus_dir: str,
    verdicts_dir: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: gate each micro-batch through
    corpus-incremental dedup, record verdicts, admit unique docs.

    Use::

        stream.writeStream.foreachBatch(
            incremental_dedup_sink(corpus_dir, verdicts_dir)
        ).option("checkpointLocation", ckpt).start()
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).withColumn(
            "__new", F.lit(True)
        )
        corpus = read_other_epochs(spark, corpus_dir, batch_id)
        if corpus is None:
            # first epoch: no corpus yet — everything is new vs empty
            full = batch
        else:
            full = corpus.select(id_col, text_col).withColumn(
                "__new", F.lit(False)
            ).unionByName(batch)

        tracker: list[DataFrame] = []
        verdicts = incremental_dedup(
            full,
            new_pred=F.col("__new"),
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            k=k,
            id_col=id_col,
            text_col=text_col,
            cache_tracker=tracker,
        )

        try:
            # verdicts are consumed twice (write + unique-filter join):
            # persist the small frame instead of re-running the dedup
            verdicts = verdicts.persist()
            tracker.append(verdicts)
            write_epoch(verdicts, verdicts_dir, batch_id)
            accepted = batch.select(id_col, text_col).join(
                verdicts.filter(F.col("status") == "unique").select(id_col),
                id_col,
            )
            write_epoch(accepted, corpus_dir, batch_id)
        finally:
            for frame in tracker:
                frame.unpersist()

    return write


def run_dedup_ingest(
    spark,
    input_glob: str,
    corpus_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int = 1,
    **dedup_kwargs,
) -> None:
    """Drain a JSON-lines document feed through the dedup gate with
    ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up — the batch
    harness for the sink above; a service would ``start()`` without
    AvailableNow and run forever."""
    drain_available_now(
        spark, input_glob, schema, max_files_per_trigger,
        incremental_dedup_sink(corpus_dir, verdicts_dir, **dedup_kwargs),
        checkpoint_dir, fmt="json",
    )
