"""Streaming segment-level dedup: line/boilerplate removal at ingest.

The fourth ingest service beside dedup_stream (whole-doc near-dup),
semantic_stream (embeddings) and cdc_stream (dimension state): documents
arrive on a stream and every micro-batch is SEGMENT-deduped against all
segments ever seen — d16's RefinedWeb/CCNet line-dedup semantics run
24/7. Unlike the doc gate, nothing is rejected wholesale: every document
comes out with its previously-seen segments (nav bars, cookie banners,
licence blocks) removed and its novel text kept.

Layout (epoch-partitioned, the convention shared by all four services):

- ``segs_dir/batch_id=<n>/``  — segments FIRST seen in epoch n (the
  seen-store; readers scan the root for the full set).
- ``docs_dir/batch_id=<n>/``  — per-doc output of epoch n:
  (doc_id, n_segs, n_kept, text_dedup).

Crash/replay: both writes go through ``sinks.write_epoch`` and the
seen-store read through ``sinks.read_other_epochs``. Convergence here is
strong: a
segment first seen in epoch k exists ONLY in partition k (later epochs
found it in the store and did not re-add it), so a replay of ANY epoch
— last or mid-history — reads exactly the store state that epoch
originally saw and rewrites identical partitions (both tested).

Scale: per epoch the batch is segmented row-locally and probed against
the seen-store via one segment-keyed equi-join (store-side shuffle is
the big one; at 100 TB the store is bucketed/partitioned BY the segment
key — md5 it to 16 bytes — so the probe co-locates and only the
epoch-sized batch moves); the first-occurrence window runs on the
epoch's own segments only. Store growth is bounded by NOVEL text, not
arrivals — re-crawled boilerplate adds nothing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sinks import drain_available_now, read_other_epochs, write_epoch


def segment_dedup_sink(
    segs_dir: str,
    docs_dir: str,
    seg_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: segment-dedup each micro-batch against the
    seen-segment store, emit cleaned docs, append the novel segments.

    ``key="md5"`` is the 100 TB store layout (same switch as
    :func:`operators.dedup.segment_dedup`): the seen-store holds
    16-byte segment hashes (column ``h``) instead of the text, the
    probe join and the within-epoch first-occurrence groupBy-min carry
    no text at all, and the cleaned document is re-derived row-local
    from the original — store bytes and shuffle bytes both drop to the
    hash width. A store written in one mode must be read in the same
    mode (the layouts differ by design).

    Use::

        stream.writeStream.foreachBatch(
            segment_dedup_sink(segs_dir, docs_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    if key not in ("text", "md5"):
        raise ValueError(f"segment_dedup_sink: unknown key mode {key!r}")

    def _write_md5(spark, batch, seg_arr, batch_id: int) -> None:
        # (id, seg_idx, 16-byte hash); text never crosses a shuffle
        hashed = batch.select(
            F.col(id_col),
            F.posexplode(
                F.transform(seg_arr, lambda s: F.md5(s))
            ).alias("seg_idx", "h"),
        )
        seen = read_other_epochs(spark, segs_dir, batch_id)
        if seen is None:
            cand = hashed.withColumn(
                "__seen", F.lit(None).cast("boolean")
            )
        else:
            cand = hashed.join(
                seen.select("h").withColumn("__seen", F.lit(True)),
                "h",
                "left",
            )
        # within-epoch first occurrence of each NOVEL hash: groupBy-min
        # (map-side combine — the hot-boilerplate key partially
        # aggregates everywhere instead of landing one window task)
        winner = (
            cand.filter(F.col("__seen").isNull())
            .groupBy("h")
            .agg(
                F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias(
                    "__w"
                )
            )
        )
        flags = cand.join(winner, "h", "left").select(
            id_col,
            "seg_idx",
            "h",
            (
                F.col("__seen").isNull()
                & (F.col("__w").getField(id_col) == F.col(id_col))
                & (F.col("__w").getField("seg_idx") == F.col("seg_idx"))
            ).alias("__keep"),
        )
        try:
            flags = flags.persist()
            per_doc = flags.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("int").alias("n_segs"),
                F.sum(F.col("__keep").cast("int")).cast("int").alias(
                    "n_kept"
                ),
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__keep"), F.col("seg_idx"))
                    )
                ).alias("__kept_idx"),
            )
            docs = batch.join(per_doc, id_col).select(
                id_col,
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
            write_epoch(docs, docs_dir, batch_id)
            novel = flags.filter(F.col("__keep")).select("h")
            write_epoch(novel, segs_dir, batch_id)
        finally:
            flags.unpersist()

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no docs -> no (empty) partitions committed
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col)

        w = F.split(F.col(text_col), " ")
        n_segs = F.ceil(F.size(w) / F.lit(seg_words)).cast("int")
        seg_arr = F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(w, i * seg_words + 1, seg_words), " "
            ),
        )
        if key == "md5":
            _write_md5(spark, batch, seg_arr, int(batch_id))
            return
        segs = batch.select(
            F.col(id_col),
            F.posexplode(seg_arr).alias("seg_idx", "seg"),
        )

        seen = read_other_epochs(spark, segs_dir, batch_id)
        if seen is not None:
            cand = segs.join(
                seen.select("seg").withColumn("__seen", F.lit(True)),
                "seg",
                "left",
            )
        else:  # first epoch: empty store
            cand = segs.withColumn("__seen", F.lit(None).cast("boolean"))

        first = Window.partitionBy("seg").orderBy(id_col, "seg_idx")
        ranked = cand.withColumn(
            "__keep",
            F.col("__seen").isNull() & (F.row_number().over(first) == 1),
        )

        try:
            # consumed twice (docs rollup + novel-segment append)
            ranked = ranked.persist()
            kept_struct = F.when(
                F.col("__keep"), F.struct(F.col("seg_idx"), F.col("seg"))
            )
            docs = ranked.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("int").alias("n_segs"),
                F.sum(F.col("__keep").cast("int")).cast("int").alias(
                    "n_kept"
                ),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(kept_struct)),
                        lambda s: s.getField("seg"),
                    ),
                    " ",
                ).alias("text_dedup"),
            )
            write_epoch(docs, docs_dir, batch_id)
            novel = ranked.filter(F.col("__keep")).select("seg")
            write_epoch(novel, segs_dir, batch_id)
        finally:
            ranked.unpersist()

    return write


def run_segment_ingest(
    spark,
    input_glob: str,
    segs_dir: str,
    docs_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int = 1,
    **sink_kwargs,
) -> None:
    """Drain a JSON-lines document feed through the segment-dedup gate
    with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_glob, schema, max_files_per_trigger,
        segment_dedup_sink(segs_dir, docs_dir, **sink_kwargs),
        checkpoint_dir, fmt="json",
    )
