"""Incremental materialized-view maintenance for the daily summary.

The reference recomputes its daily summary from every day it has seen
(src/data_processor.py:390-435 runs inside the all-days driver loop);
the Airflow variant re-reads ALL transaction parquet each run
(src/candy_store_dag.py:140-154). At 100 TB you cannot reprocess
history to add a day: you fold only the NEW partition into the stored
summary.

``refresh_daily_summary`` is that fold: run the pipeline's own
``build_daily_summary`` (one grouped aggregate, so the unpersisted slice
— and the depletion kernel behind it — is consumed once) on the new
slice only, then replace days by key. The stored rows and the delta rows
are unioned, tagged by origin, and one aggregate per ``date`` keeps the
delta's row where there is one (``max_by`` over the tag). Re-running a
day is idempotent, so late data and backfills are just re-folds; other
days pass through untouched.

Scale: the incremental cost is O(new partition) + one hash aggregate
over the summary plus the delta (O(days) rows — tiny). Nothing
reprocesses history and there is no join: a MERGE here would be a full
outer join, which Spark cannot broadcast, so it would sort-merge both
sides. A broadcast anti-join plus a union would avoid that but reference
the delta twice, running the depletion kernel twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    tagged = summary.select("date", *_METRICS, F.lit(0).alias("_new")).unionByName(
        delta.select("date", *_METRICS, F.lit(1).alias("_new"))
    )
    # each side holds one row per date, so every metric's max_by picks
    # from the same row: the delta's when the date has one
    return tagged.groupBy("date").agg(
        *[F.max_by(c, "_new").alias(c) for c in _METRICS]
    )
