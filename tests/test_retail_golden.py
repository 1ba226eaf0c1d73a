"""End-to-end golden replay of the reference's dataset_15.

Applies the reference CI's own comparison semantics (.gitlab-ci.yml:118-183):
shape equal, column names equal; money columns via np.allclose(rtol=1e-2,
atol=0.01); order_datetime via parsed-datetime equality; everything else
exact. Row order is positional, hence the contract sorts.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from retail_data_pipeline_and_forecasting_system_spark.forecast import (
    forecast_sales_and_profits,
)
from retail_data_pipeline_and_forecasting_system_spark.plans import (
    run_retail_pipeline,
)
from retail_data_pipeline_and_forecasting_system_spark.sources import (
    read_customers_csv,
    read_products_csv,
    read_transactions_json,
)

DATASET = Path("/root/reference/data/dataset_15")
GOLDEN = Path("/root/reference/data/output")

pytestmark = pytest.mark.reference_data

MONEY_COLS = {"total_amount", "line_total", "total_sales", "total_profit",
              "unit_price"}
DATETIME_COLS = {"order_datetime"}


@pytest.fixture(scope="module")
def outputs(spark):
    products = read_products_csv(spark, str(DATASET / "products.csv"))
    raw = read_transactions_json(spark, str(DATASET / "transactions_*.json"))
    outs = run_retail_pipeline(raw, products)
    return {k: v.toPandas() for k, v in outs.items()} | {
        "__daily_spark": outs["daily_summary"]
    }


def _compare(mine: pd.DataFrame, gold: pd.DataFrame) -> None:
    assert mine.shape == gold.shape
    assert list(mine.columns) == list(gold.columns)
    for col in gold.columns:
        if col in MONEY_COLS:
            assert np.allclose(
                mine[col].astype(float), gold[col].astype(float),
                rtol=1e-2, atol=0.01,
            ), col
        elif col in DATETIME_COLS:
            assert (
                pd.to_datetime(mine[col]) == pd.to_datetime(gold[col])
            ).all(), col
        else:
            assert (mine[col].values == gold[col].values).all(), col


@pytest.mark.parametrize(
    "name", ["orders", "order_line_items", "daily_summary", "products_updated"]
)
def test_golden_output(outputs, name):
    mine = outputs[name].copy()
    gold = pd.read_csv(GOLDEN / f"{name}.csv")
    if "date" in mine.columns:
        mine["date"] = mine["date"].astype(str)
    _compare(mine, gold)


def test_forecast_schema_and_date(spark, outputs):
    """Forecast values are model-dependent (reference CI checks existence
    only); we assert the contract: 1 row, last business date + 1, floats."""
    fc = forecast_sales_and_profits(spark, outputs["__daily_spark"]).toPandas()
    assert list(fc.columns) == ["date", "forecasted_sales", "forecasted_profit"]
    assert len(fc) == 1
    assert str(fc["date"].iloc[0]) == "2024-02-11"
    assert np.isfinite(fc["forecasted_sales"].iloc[0])
    assert np.isfinite(fc["forecasted_profit"].iloc[0])


def test_customers_read(spark):
    df = read_customers_csv(spark, str(DATASET / "customers.csv"))
    assert df.count() == 30
    # quoted commas in address must not split columns
    assert df.filter(df.phone.isNull()).count() == 0
