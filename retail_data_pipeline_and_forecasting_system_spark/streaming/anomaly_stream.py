"""Streaming anomaly detection: h10's rolling z-score, live.

The fifth leg of the ingest-service family (dedup_stream gates
documents, semantic_stream gates embeddings, cdc_stream maintains
dimension state, rollup_stream maintains per-customer rollups): an
orders stream maintains the DAILY REVENUE table incrementally — each
micro-batch aggregates to per-day cent deltas
(``plans.analytics.daily_revenue_cents``) and merges them into the
stored day table by exact bigint addition — and the anomaly scores are
recomputed over that DAY-SIZED table with the very same
``zscore_flags`` the batch query ``h10_anomaly_zscore`` runs, so the
drained service output EQUALS the batch query on the same rows
(``tests/test_anomaly_stream.py`` asserts it under arbitrary epoch
slicing).

Why recompute the scores instead of maintaining them: the day table is
thousands of rows at ANY corpus size (the fact stream collapses at the
map-side combine), so re-running the trailing window per epoch costs
milliseconds — and unlike incremental z-score state it is trivially
correct under late data: an order arriving for a PAST day updates that
day's cents, and every window that contains the day re-scores
automatically on the next read.

Replay safety: a cents merge double-counts if an epoch re-fires, so
the sink runs under ``sinks.versioned_state_sink``'s epoch guard (the
contract is stated in rollup_stream).

Scale: state is day-cardinality-sized; each epoch aggregates only its
delta (map-side combined) and merges with one day-keyed union-agg over
(stored ∪ delta) — both day-sized. The per-epoch state rewrite is the
versioned-table O(state) write (the honest format-free cost).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.analytics import daily_revenue_cents, zscore_flags
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def _merge_cents(cur: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        cur.select("day", "revenue_cents")
        .union(delta)
        .groupBy("day")
        .agg(F.sum("revenue_cents").cast("bigint").alias("revenue_cents"))
    )


def anomaly_state_sink(table_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the (day, revenue_cents)
    state table from a stream of order rows.

    Use::

        stream.writeStream.foreachBatch(
            anomaly_state_sink(table_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    return versioned_state_sink(
        "anomaly_state_sink", table_dir, daily_revenue_cents, _merge_cents
    )


def read_anomaly_scores(spark, table_dir: str) -> DataFrame:
    """z-scores + anomaly flags over the maintained day table — the
    EXACT ``zscore_flags`` plan the batch h10 query runs, so the
    service output is the batch output on the drained rows (late rows
    for past days re-score every affected window automatically)."""
    return zscore_flags(
        read_version(spark, table_dir).select("day", "revenue_cents")
    )


def run_anomaly_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp"
    ),
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a parquet drop-dir of order rows into the anomaly state
    with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        anomaly_state_sink(table_dir), checkpoint_dir,
    )
