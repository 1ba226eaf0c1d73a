"""Pipeline modes: the depletion reset column and processing metrics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
    greedy_inventory_depletion,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
    decode_media,
    read_binary_files,
)
from retail_data_pipeline_and_forecasting_system_spark.plans import (
    processing_metrics,
    run_retail_pipeline,
)
from retail_data_pipeline_and_forecasting_system_spark.sources import (
    read_products_csv,
    read_transactions_json,
)

DATASET = "/root/reference/data/dataset_15"


def test_reload_daily_resets_stock(spark):
    """Stock 5; day1 demands [3,3] -> [3,0]; day2 demand [4]:
    carryover -> remaining 2 -> cancel; reload -> fresh 5 -> fulfill."""
    rows = [
        (1, 1, dt.datetime(2024, 2, 1, 8), 0, 7, 3),
        (2, 1, dt.datetime(2024, 2, 1, 9), 0, 7, 3),
        (3, 1, dt.datetime(2024, 2, 2, 8), 0, 7, 4),
    ]
    lines = spark.createDataFrame(
        rows,
        "transaction_id long, customer_id int, timestamp timestamp, "
        "line_pos int, product_id int, qty int",
    ).withColumn("batch_date", F.to_date("timestamp"))
    products = spark.createDataFrame([(7, 5)], "product_id int, stock int")

    carry = {
        r["transaction_id"]: r["quantity"]
        for r in greedy_inventory_depletion(lines, products).collect()
    }
    assert carry == {1: 3, 2: 0, 3: 0}

    reload = {
        r["transaction_id"]: r["quantity"]
        for r in greedy_inventory_depletion(
            lines, products, reset_col="batch_date"
        ).collect()
    }
    assert reload == {1: 3, 2: 0, 3: 4}


@pytest.mark.reference_data
def test_processing_metrics_match_golden(spark):
    products = read_products_csv(spark, f"{DATASET}/products.csv")
    raw = read_transactions_json(spark, f"{DATASET}/transactions_*.json")
    outs = run_retail_pipeline(raw, products)
    from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
        explode_transactions,
        process_lines,
    )

    processed = process_lines(explode_transactions(raw), products)
    m = processing_metrics(processed)
    # golden facts (BASELINE.md): 230 cancelled lines, 82,290 units fulfilled
    assert m["cancelled_lines"] == 230
    assert m["units_fulfilled"] == 82290
    assert m["fulfilled_lines"] == 27652 - 230


@pytest.mark.reference_data
def test_binary_file_source_plumbing(spark):
    df = read_binary_files(spark, f"{DATASET}/transactions_202402*.json")
    decoded = decode_media(df.select("doc_id", "payload"))
    out = decoded.toPandas()
    assert len(out) == 10  # one row per day file
    meta = {r["doc_id"]: r["n_bytes_meta"] for r in df.collect()}
    for _, row in out.iterrows():
        assert row["n_bytes"] == meta[row["doc_id"]]  # decode saw all bytes
        assert row["width"] == 16 + row["n_bytes"] % 617
