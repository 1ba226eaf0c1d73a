"""The retail pipeline on a generated candy-store corpus, against an oracle.

The corpus and the oracle are the benchmark's (``perfbench/corpus.py``,
loaded read-only): 36 products, qty 1-5 with about 7.5 % nulls, and hot
products stocked below their demand so the greedy depletion cancels lines.
The oracle replays the reference main loop in plain Python. Checked here:

- ``run_retail_pipeline``'s four outputs, row for row in contract order,
  plus the processing metrics and the forecast row;
- ``run_staged_pipeline``'s contract CSVs;
- a late day folded into the staged lake with ``refresh_daily_summary``;
- incremental == batch and idempotent re-delivery (the dataset_15 checks
  of ``test_incremental.py``, on this corpus);
- the plan shapes that keep the pass cheap: one depletion kernel per
  refreshed slice, a local forecast row, no range sort behind the CSVs.
"""

from __future__ import annotations

import contextlib
import csv
import datetime as dt
import importlib.util
import io
import math
import re
from decimal import Decimal
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.forecast import (
    forecast_sales_and_profits,
)
from retail_data_pipeline_and_forecasting_system_spark.plans import (
    build_daily_summary,
    build_orders,
    explode_transactions,
    processing_metrics,
    refresh_daily_summary,
    release_retail_pipeline,
    run_retail_pipeline,
    summarize_slice,
)
from retail_data_pipeline_and_forecasting_system_spark.plans import staged
from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
    CONTRACT_ORDER,
    process_lines,
)
from retail_data_pipeline_and_forecasting_system_spark.sources import (
    read_products_csv,
    read_transactions_json,
)

_CORPUS_PY = Path(__file__).resolve().parent.parent / "perfbench" / "corpus.py"
_spec = importlib.util.spec_from_file_location("perfbench_corpus", _CORPUS_PY)
corpus = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(corpus)

SEED, DAYS, TX_PER_DAY = 11, 4, 300

#: engine columns of each output, in the oracle's tuple layout
COLUMNS = {
    "orders": ("order_id", "order_datetime", "customer_id", "total_amount",
               "num_items"),
    "order_line_items": ("order_id", "product_id", "quantity", "unit_price",
                         "line_total"),
    "daily_summary": ("date", "num_orders", "total_sales", "total_profit"),
    "products_updated": ("product_id", "product_name", "current_stock"),
}
_CENTS = {"total_amount", "unit_price", "line_total", "total_sales"}
_TEXT = {"order_datetime", "product_name", "date"}


def _canon(name: str, rec) -> tuple:
    """One engine row (a Row dict or CSV strings) in the oracle's layout:
    money as integer cents, dates and timestamps as ISO strings."""
    out = []
    for col in COLUMNS[name]:
        v = rec[col]
        if col in _CENTS:
            out.append(int(Decimal(str(v)) * 100))
        elif col == "total_profit":
            out.append(float(v))
        elif col in _TEXT:
            out.append(str(v))
        else:
            out.append(int(v))
    return tuple(out)


def _rows(name: str, df) -> list[tuple]:
    return [_canon(name, r.asDict()) for r in df.collect()]


def _assert_oracle(name: str, got: list[tuple], want: list[tuple]) -> None:
    if name != "daily_summary":
        assert got == want, name
        return
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(a[3] - b[3]) <= 0.01 + 1e-9 for a, b in zip(got, want))


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _operators(plan: str, name: str) -> int:
    """Physical operators named ``name`` in a formatted plan's details."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


@pytest.fixture(scope="module")
def gen(tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus")
    c = corpus.generate(str(out), SEED, DAYS, TX_PER_DAY, late_days=1)
    want = corpus.oracle(c["products"], c["days"][:DAYS])
    # the corpus is only a test of the depletion if some lines cancel
    assert want["metrics"]["cancelled_lines"] > 0
    return SimpleNamespace(
        dir=str(out),
        want=want,
        # the late day continues from the stock the on-time days left
        want_full=corpus.oracle(c["products"], c["days"]),
    )


@pytest.fixture(scope="module")
def products(spark, gen):
    return read_products_csv(spark, f"{gen.dir}/products.csv")


@pytest.fixture(scope="module")
def raw(spark, gen):
    return read_transactions_json(spark, f"{gen.dir}/transactions_*.json")


@pytest.fixture(scope="module")
def batch(spark, products, raw):
    outs = run_retail_pipeline(raw, products)
    got = {name: _rows(name, outs[name]) for name in COLUMNS}
    got["metrics"] = processing_metrics(outs["_processed"])
    fc = forecast_sales_and_profits(spark, outs["daily_summary"])
    got["forecast_plan"] = _explain(fc)
    got["forecast"] = [tuple(r) for r in fc.collect()]
    release_retail_pipeline(outs)
    return got


@pytest.fixture(scope="module")
def staged_run(spark, gen, tmp_path_factory):
    """run_staged_pipeline into a fresh lake, keeping the plan of every
    frame the report stage hands to the single-CSV writer."""
    work = tmp_path_factory.mktemp("staged")
    plans = {}
    write = staged.write_single_csv

    def recording(df, output_dir, filename):
        plans[filename] = _explain(df)
        return write(df, output_dir, filename)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(staged, "write_single_csv", recording)
        out = staged.run_staged_pipeline(
            spark,
            f"{gen.dir}/customers.csv",
            f"{gen.dir}/products.csv",
            f"{gen.dir}/transactions_*.json",
            str(work),
        )
    return SimpleNamespace(out=Path(out), lake=work / "lake", plans=plans)


@pytest.mark.parametrize("name", list(COLUMNS))
def test_pipeline_output_matches_oracle_in_contract_order(gen, batch, name):
    _assert_oracle(name, batch[name], gen.want[name])


def test_pipeline_metrics_and_forecast(gen, batch):
    assert batch["metrics"] == gen.want["metrics"]
    [(day, sales, profit)] = batch["forecast"]
    assert day == dt.date.fromisoformat(gen.want["last_day"]) + dt.timedelta(1)
    assert math.isfinite(sales) and math.isfinite(profit)


@pytest.mark.parametrize("name", list(COLUMNS))
def test_staged_csv_matches_oracle(gen, staged_run, name):
    with open(staged_run.out / f"{name}.csv", newline="") as f:
        got = [_canon(name, rec) for rec in csv.DictReader(f)]
    _assert_oracle(name, got, gen.want[name])


def test_staged_forecast_csv(gen, staged_run):
    text = (staged_run.out / "sales_profit_forecast.csv").read_text()
    header, row = text.splitlines()
    assert header == "date,forecasted_sales,forecasted_profit"
    last = dt.date.fromisoformat(gen.want["last_day"])
    assert row.split(",")[0] == (last + dt.timedelta(1)).isoformat()


def test_late_day_refresh_matches_oracle(spark, gen, staged_run):
    lake = staged_run.lake
    stock_now = spark.read.parquet(f"{lake}/products_updated").select(
        "product_id", F.col("current_stock").alias("stock")
    )
    products = (
        spark.read.parquet(f"{lake}/products").drop("stock").join(
            stock_now, "product_id"
        )
    )
    late = explode_transactions(
        read_transactions_json(spark, f"{gen.dir}/late/transactions_*.json")
    )
    refreshed = refresh_daily_summary(
        spark.read.parquet(f"{lake}/daily_summary"),
        process_lines(late, products),
        products,
    )
    got = sorted(_rows("daily_summary", refreshed))
    _assert_oracle("daily_summary", got, gen.want_full["daily_summary"])


def test_incremental_equals_batch_and_is_idempotent(products, raw, batch):
    # inventory carries over across days, so depletion must see the
    # cumulative demand; the *summary maintenance* is what's incremental
    processed_all = process_lines(explode_transactions(raw), products).withColumn(
        "_day", F.to_date("timestamp")
    )
    days = sorted(
        r["_day"] for r in processed_all.select("_day").distinct().collect()
    )
    assert len(days) == DAYS

    view = None
    for day in days:
        slice_ = processed_all.filter(F.col("_day") == F.lit(day))
        view = refresh_daily_summary(view, slice_, products)
    assert sorted(_rows("daily_summary", view)) == batch["daily_summary"]

    # re-delivering the last day is a no-op
    again = refresh_daily_summary(
        view, processed_all.filter(F.col("_day") == F.lit(days[-1])), products
    )
    assert sorted(_rows("daily_summary", again)) == batch["daily_summary"]


def test_daily_summary_equals_orders_reaggregation(products, raw):
    """The one-pass daily summary agrees with the two-step form: the
    orders re-aggregated per date, with the day cost joined back."""
    processed = process_lines(explode_transactions(raw), products).persist()
    try:
        daily = {
            r["date"]: r for r in build_daily_summary(processed, products).collect()
        }
        sales = build_orders(processed).groupBy(
            F.to_date("order_datetime").alias("date")
        ).agg(
            F.sum("total_amount").alias("total_sales"),
            F.countDistinct("order_id").alias("num_orders"),
        )
        costs = (
            processed.join(
                products.select("product_id", "cost_to_make"), "product_id"
            )
            .groupBy(F.to_date("timestamp").alias("date"))
            .agg(F.sum(F.col("quantity") * F.col("cost_to_make")).alias("cost"))
        )
        two_step = sales.join(costs, "date").collect()
    finally:
        processed.unpersist()

    assert len(two_step) == len(daily) == DAYS
    for r in two_step:
        one = daily[r["date"]]
        assert one["num_orders"] == r["num_orders"]
        assert one["total_sales"] == r["total_sales"]
        assert abs(one["total_profit"] - float(r["total_sales"] - r["cost"])) <= 0.01


def test_summarize_slice_runs_the_depletion_kernel_once(products, raw):
    plan = _explain(
        summarize_slice(process_lines(explode_transactions(raw), products), products)
    )
    assert _operators(plan, "FlatMapGroupsInPandas") == 1


def test_forecast_row_is_a_local_relation(batch):
    plan = batch["forecast_plan"]
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_stage_report_csvs_sort_without_a_range_exchange(staged_run):
    for name in CONTRACT_ORDER:
        plan = staged_run.plans[f"{name}.csv"]
        assert "rangepartitioning" not in plan, name
        assert _operators(plan, "Sort") == 1, name
    assert "LocalTableScan" in staged_run.plans["sales_profit_forecast.csv"]
