"""Staged (DAG-shaped) pipeline: 3 stages with date-partitioned parquet
handoff must reproduce the same golden outputs as the single-pass plan."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from retail_data_pipeline_and_forecasting_system_spark.plans.staged import (
    run_staged_pipeline,
)

DATASET = Path("/root/reference/data/dataset_15")
GOLDEN = Path("/root/reference/data/output")
MONEY = {"total_amount", "line_total", "total_sales", "total_profit", "unit_price"}


@pytest.mark.reference_data
def test_staged_pipeline_golden(spark, tmp_path):
    out = run_staged_pipeline(
        spark,
        str(DATASET / "customers.csv"),
        str(DATASET / "products.csv"),
        str(DATASET / "transactions_*.json"),
        str(tmp_path),
    )
    for name in ("orders", "order_line_items", "daily_summary", "products_updated"):
        mine = pd.read_csv(f"{out}/{name}.csv")
        gold = pd.read_csv(GOLDEN / f"{name}.csv")
        assert mine.shape == gold.shape, name
        for c in gold.columns:
            if c in MONEY:
                assert np.allclose(
                    mine[c].astype(float), gold[c].astype(float),
                    rtol=1e-2, atol=0.01,
                ), (name, c)
            elif c == "order_datetime":
                assert (
                    pd.to_datetime(mine[c]) == pd.to_datetime(gold[c])
                ).all(), (name, c)
            else:
                assert (mine[c].values == gold[c].values).all(), (name, c)
    # forecast exists with the contract schema
    fc = pd.read_csv(f"{out}/sales_profit_forecast.csv")
    assert list(fc.columns) == ["date", "forecasted_sales", "forecasted_profit"]
    assert len(fc) == 1


def test_dag_artifact_importable_without_airflow(monkeypatch):
    """The Airflow DAG module must import cleanly (dag=None) when airflow
    is absent, and its task callables must wire env config to the same
    stage functions the golden test above drives."""
    from retail_data_pipeline_and_forecasting_system_spark.plans import dag as d

    try:
        import airflow  # noqa: F401

        has_airflow = True
    except ImportError:
        has_airflow = False

    if has_airflow:
        assert d.dag is not None
        assert [t.task_id for t in d.dag.topological_sort()] == [
            "ingest", "process", "report",
        ]
    else:
        assert d.dag is None
    assert callable(d.task_ingest)
    assert callable(d.task_process)
    assert callable(d.task_report)
    # config plumbing: the five env keys the tasks consume
    for k, v in {
        "RETAIL_CUSTOMERS_CSV": "c.csv",
        "RETAIL_PRODUCTS_CSV": "p.csv",
        "RETAIL_TRANSACTIONS_GLOB": "t*.json",
        "RETAIL_LAKE_DIR": "/lake",
        "RETAIL_OUTPUT_DIR": "/out",
    }.items():
        monkeypatch.setenv(k, v)
    cfg = d._config()
    assert cfg == {
        "customers_csv": "c.csv",
        "products_csv": "p.csv",
        "transactions_glob": "t*.json",
        "lake_dir": "/lake",
        "output_dir": "/out",
    }
