"""Three-stage pipeline with Parquet handoff — the Airflow-DAG shape.

The reference's DAG runs ingest -> process -> report as three Airflow tasks,
each with its own SparkSession, passing state through unpartitioned Parquet
files (reference src/candy_store_dag.py:228-248, writes at :102-113, reads
at :129-154). This module keeps that operational shape (each stage is
independently schedulable/restartable) with the scale fixes:

- handoff Parquet is **date-partitioned** (stage 2+ scans get partition
  pruning; the reference instead lists and lexicographically sorts part
  files, src/candy_store_dag.py:140-154);
- stages share one lake layout, so running them in one session or three
  spark-submits is the same code path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..forecast import forecast_sales_and_profits
from ..sources import (
    read_customers_csv,
    read_products_csv,
    read_transactions_json,
    write_single_csv,
)
from ..sources.writers import write_partitioned_parquet
from .retail import (
    BUILDER_COLS,
    CONTRACT_ORDER,
    build_daily_summary,
    build_order_line_items,
    build_orders,
    build_products_updated,
    explode_transactions,
    process_lines,
)


def stage_ingest(
    spark: SparkSession,
    customers_csv: str,
    products_csv: str,
    transactions_glob: str,
    lake_dir: str,
) -> None:
    """Raw sources -> lake parquet (reference DAG task 1, :76-116)."""
    read_customers_csv(spark, customers_csv).write.mode("overwrite").parquet(
        f"{lake_dir}/customers"
    )
    read_products_csv(spark, products_csv).write.mode("overwrite").parquet(
        f"{lake_dir}/products"
    )
    raw = read_transactions_json(spark, transactions_glob)
    lines = explode_transactions(raw).withColumn(
        "batch_date", F.to_date("timestamp")
    )
    write_partitioned_parquet(
        lines, f"{lake_dir}/transaction_lines", partition_by=["batch_date"]
    )


def stage_process(spark: SparkSession, lake_dir: str) -> None:
    """Lake -> orders / line items / daily summary / updated products
    (reference DAG task 2, :120-180). Consumes the date-partitioned lines
    and writes the four outputs unsorted: nothing reads the lake in row
    order, the report stage sorts each contract CSV."""
    products = spark.read.parquet(f"{lake_dir}/products")
    lines = spark.read.parquet(f"{lake_dir}/transaction_lines")

    processed = process_lines(
        lines, products, process_order="arrival", result_cols=BUILDER_COLS
    ).persist()
    for name, df in (
        ("order_line_items", build_order_line_items(processed)),
        ("orders", build_orders(processed)),
        ("daily_summary", build_daily_summary(processed, products)),
        ("products_updated", build_products_updated(processed, products)),
    ):
        write_partitioned_parquet(df, f"{lake_dir}/{name}")
    processed.unpersist()


def stage_report(spark: SparkSession, lake_dir: str, output_dir: str) -> None:
    """Lake -> contract CSVs + forecast (reference DAG task 3, :184-225).

    Each CSV is one small file, so its rows are put in contract order
    inside its single partition rather than by a global range sort."""
    lake = {name: spark.read.parquet(f"{lake_dir}/{name}") for name in CONTRACT_ORDER}
    for name, order in CONTRACT_ORDER.items():
        write_single_csv(
            lake[name].coalesce(1).sortWithinPartitions(*order),
            output_dir,
            f"{name}.csv",
        )
    fc = forecast_sales_and_profits(spark, lake["daily_summary"])
    write_single_csv(fc, output_dir, "sales_profit_forecast.csv")


def run_staged_pipeline(
    spark: SparkSession,
    customers_csv: str,
    products_csv: str,
    transactions_glob: str,
    work_dir: str,
) -> str:
    """All three stages against one lake dir; returns the CSV output dir."""
    lake = os.path.join(work_dir, "lake")
    out = os.path.join(work_dir, "output")
    stage_ingest(spark, customers_csv, products_csv, transactions_glob, lake)
    stage_process(spark, lake)
    stage_report(spark, lake, out)
    return out
