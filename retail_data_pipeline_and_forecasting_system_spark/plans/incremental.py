"""Incremental materialized-view maintenance for the daily summary.

The reference recomputes its daily summary from every day it has seen
(src/data_processor.py:390-435 runs inside the all-days driver loop);
the Airflow variant re-reads ALL transaction parquet each run
(src/candy_store_dag.py:140-154). At 100 TB you cannot reprocess
history to add a day: you fold only the NEW partition into the stored
summary.

``refresh_daily_summary`` is that fold, built from pieces that already
exist: run the pipeline's own ``build_daily_summary`` (one grouped
aggregate, so the unpersisted slice — and the depletion kernel behind
it — is consumed once) on the new slice only, then MERGE the day rows
into the summary table with ``operators.scd.merge_upsert``. Day keys
replace: re-running a day is idempotent, so late data and backfills are
just re-merges; other days pass through untouched.

Scale: the incremental cost is O(new partition) + one broadcast-outer
merge against the summary (O(days) rows — tiny). Nothing reprocesses
history; the summary table side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scd import merge_upsert
from .retail import build_daily_summary

_METRICS = ["num_orders", "total_sales", "total_profit"]


def summarize_slice(processed: DataFrame, products: DataFrame) -> DataFrame:
    """Day-grain summary of one processed slice (must contain whole
    days — the day is the maintenance unit), via the same builder the
    full pipeline uses, so incremental == batch by construction. The
    result is unsorted."""
    return build_daily_summary(processed, products)


def refresh_daily_summary(
    summary: DataFrame | None,
    new_processed: DataFrame,
    products: DataFrame,
) -> DataFrame:
    """Fold a new (or re-delivered) slice of processed lines into the
    daily-summary view. ``summary=None`` bootstraps the view."""
    delta = summarize_slice(new_processed, products)
    if summary is None:
        return delta
    return merge_upsert(
        summary,
        delta.select(
            "date", *[F.col(c).alias(f"_new_{c}") for c in _METRICS]
        ),
        key="date",
        update_cols={c: f"_new_{c}" for c in _METRICS},
        broadcast_source=True,
    )
