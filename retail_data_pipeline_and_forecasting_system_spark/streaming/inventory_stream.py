"""Structured Streaming rendition of the per-day batch loop.

The reference hand-rolls a micro-batch scheduler: a Python loop over
per-day Mongo collections, carrying inventory state in a driver dict
(reference src/data_processor.py:357-388). The idiomatic Spark version is
Structured Streaming:

- ``readStream`` over the date-partitioned transaction files with
  ``Trigger.AvailableNow`` — Spark schedules the micro-batches, checkpoints
  progress, and recovers on failure; no driver loop.
- The inventory fold becomes ``applyInPandasWithState`` keyed by
  ``product_id``: ``remaining_stock`` lives in Spark-managed group state
  (exactly the role of the reference's driver dict, but distributed,
  fault-tolerant, and checkpointed).
- Late/duplicate data: the reference corpus has none (SURVEY §2.9), so no
  watermark is required for parity; ``with_watermark`` is exposed for real
  deployments.

Scale: state is O(#products) — trivially partitionable; throughput is the
same per-product sequential fold as the batch kernel, so batch and stream
agree result-for-result when events arrive in order (asserted in tests).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.depletion import _fulfilled_qty
from ..schemas import TRANSACTIONS_RAW

LINE_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.LongType(), False),
        T.StructField("customer_id", T.IntegerType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("line_pos", T.IntegerType(), False),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ]
)

FILLED_SCHEMA = T.StructType(
    LINE_SCHEMA.fields + [T.StructField("quantity", T.IntegerType(), True)]
)

STATE_SCHEMA = T.StructType([T.StructField("remaining", T.IntegerType(), True)])


def read_transaction_stream(
    spark: SparkSession, path_glob: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the day-partitioned transaction JSON, exploded
    to line grain (streaming twin of plans.retail.explode_transactions)."""
    reader = spark.readStream.schema(TRANSACTIONS_RAW).option("multiLine", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.json(path_glob)
    return raw.select(
        "transaction_id",
        "customer_id",
        F.to_timestamp("timestamp").alias("timestamp"),
        F.posexplode("items").alias("line_pos", "item"),
    ).select(
        "transaction_id",
        "customer_id",
        "timestamp",
        "line_pos",
        F.col("item.product_id").alias("product_id"),
        F.col("item.qty").alias("qty"),
    ).filter(F.col("qty").isNotNull())


def streaming_depletion(
    lines: DataFrame, initial_stock: dict[int, int]
) -> DataFrame:
    """Stateful greedy depletion over a streaming line feed.

    ``applyInPandasWithState`` keyed by product: group state holds the
    remaining stock across micro-batches (the reference's cross-day
    carryover). Within a micro-batch rows are processed in
    (timestamp, transaction_id, line_pos) order — across ALL Arrow
    chunks: Spark delivers one group as an iterator of chunks (default
    ~10k rows each), so the chunks are concatenated and sorted ONCE
    before the fold. Sorting each chunk independently would silently
    break the documented batch/stream parity the moment a product
    exceeds one chunk in a micro-batch. Memory is bounded by a group's
    rows per micro-batch (same as the batch kernel's per-group frame);
    the carried state itself stays O(1) per product.
    """

    def fold(
        key: Tuple[int],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (product_id,) = key
        if state.exists:
            (remaining,) = state.get
        else:
            remaining = int(initial_stock.get(product_id, 0))
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(
                ["timestamp", "transaction_id", "line_pos"], kind="mergesort"
            ).reset_index(drop=True)
            out = _fulfilled_qty(remaining, pdf["qty"].tolist())
            remaining -= sum(out)
            pdf["quantity"] = out
            yield pdf
        state.update((int(remaining),))

    return lines.groupBy("product_id").applyInPandasWithState(
        fold,
        outputStructType=FILLED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    spark: SparkSession,
    input_glob: str,
    initial_stock: dict[int, int],
    checkpoint_dir: str,
    output_dir: str,
) -> None:
    """Process everything currently available as checkpointed micro-batches,
    then stop (the streaming equivalent of the reference's one-shot batch)."""
    lines = read_transaction_stream(spark, input_glob, max_files_per_trigger=1)
    filled = streaming_depletion(lines, initial_stock)
    query = (
        filled.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()
