"""Streaming rollup maintenance: the ops6 agg-state merge, per epoch.

The fourth leg of the ingest-service family (dedup_stream gates
documents, semantic_stream gates embeddings, cdc_stream maintains
dimension state): an orders stream maintains the per-customer lifetime
rollup INCREMENTALLY — each micro-batch aggregates to a delta state
(``operators.rollup.rollup_state``) and merges into the stored state
(``merge_rollup_states``), exactly the base+delta merge the batch query
``ops6_incremental_agg`` proves equal to full recompute against its
DuckDB oracle. Because every state column is algebraic and the money
column is exact decimal, draining the same rows through ANY epoch
slicing yields the identical state a single batch recompute yields —
the equality ``tests/test_rollup_stream.py`` asserts.

Replay safety — the part that DIFFERS from the CDC sink: an agg merge
is NOT naturally convergent (re-applying an epoch double-counts, where
re-upserting a row is a no-op). The sink therefore stores the last
applied epoch id in the state table (constant ``__epoch`` column) and
SKIPS the batch whose id equals it — Structured Streaming's replay
contract (re-run the last uncommitted epoch after a crash) then applies
each epoch exactly once. A batch id BELOW it means a DIFFERENT
checkpoint lineage (a fresh or cleared checkpoint against an existing
table) whose batches would otherwise be silently discarded: that is an
operator error, so the sink fails loudly instead of no-oping. The guard
costs one driver-side read of a single value off the model-sized state
table. This is the contract of ``sinks.versioned_state_sink`` with
``guard=True``, which every counted-state service shares.

Scale: the stored state is key-cardinality-sized (customers, not
orders); each epoch aggregates ONLY its delta (map-side combined) and
merges by one key-partitioned full-outer join — bucket the state table
by key and the merge is shuffle-free. The state rewrite per epoch is
the versioned-table O(state) write (the honest format-free cost; a
MERGE-capable lakehouse format executes the same plan in place).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rollup import merge_rollup_states, rollup_state
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def rollup_state_sink(
    table_dir: str,
    key_col: str = "o_custkey",
    value_col: str = "o_totalprice",
    ts_col: str = "o_orderdate",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-key rollup state.

    Use::

        stream.writeStream.foreachBatch(
            rollup_state_sink(table_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    return versioned_state_sink(
        "rollup_state_sink",
        table_dir,
        lambda b: rollup_state(b, key_col, value_col, ts_col),
        lambda cur, delta: merge_rollup_states(cur, delta, key_col),
    )


def read_rollup_state(spark, table_dir: str) -> DataFrame:
    """The maintained rollup, shaped like ops6's batch output (exact
    decimal state cast to double at the read boundary, rule 1)."""
    df = read_version(spark, table_dir).drop("__epoch")
    return df.withColumn("total_spent", F.col("total_spent").cast("double"))


def run_rollup_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp"
    ),
    max_files_per_trigger: int = 1,
    **sink_kwargs,
) -> None:
    """Drain a parquet drop-dir of order rows into the rollup state
    with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        rollup_state_sink(table_dir, **sink_kwargs), checkpoint_dir,
    )
