"""Incremental daily-summary maintenance == the batch pipeline.

Feeds dataset_15 day by day through refresh_daily_summary and asserts
the final view equals the batch run over all days at once — including
an idempotency check (re-merging a day changes nothing).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.incremental import (
    refresh_daily_summary,
)
from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
    explode_transactions,
    process_lines,
)
from retail_data_pipeline_and_forecasting_system_spark.plans import (
    run_retail_pipeline,
)
from retail_data_pipeline_and_forecasting_system_spark.sources import (
    read_products_csv,
    read_transactions_json,
)

DATASET = Path("/root/reference/data/dataset_15")

pytestmark = pytest.mark.reference_data


def _rows(df):
    return sorted(
        (r["date"].isoformat(), r["num_orders"], float(r["total_sales"]),
         float(r["total_profit"]))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def products(spark):
    return read_products_csv(spark, str(DATASET / "products.csv"))


def test_incremental_equals_batch(spark, products):
    raw_all = read_transactions_json(
        spark, str(DATASET / "transactions_*.json")
    )
    batch = run_retail_pipeline(raw_all, products)["daily_summary"]

    # NOTE: inventory carries over across days, so depletion must see the
    # cumulative demand; the *summary maintenance* is what's incremental.
    processed_all = process_lines(
        explode_transactions(raw_all).filter(F.col("qty").isNotNull()),
        products,
    ).withColumn("_day", F.to_date("timestamp"))
    days = sorted(
        r["_day"] for r in processed_all.select("_day").distinct().collect()
    )

    view = None
    for day in days:
        slice_ = processed_all.filter(F.col("_day") == F.lit(day))
        view = refresh_daily_summary(view, slice_, products)
    assert _rows(view) == _rows(batch)

    # idempotency: re-delivering the last day is a no-op
    again = refresh_daily_summary(
        view, processed_all.filter(F.col("_day") == F.lit(days[-1])), products
    )
    assert _rows(again) == _rows(batch)
