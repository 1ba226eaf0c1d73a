"""The benchmark's workloads: inputs, one pass, and the output checks.

Each workload generates its inputs from the seed and computes the expected
outputs once (``prepare``), then ``run_pass`` drives the engine through its
public functions and returns the outputs it forced; ``check`` compares them
with the expectation after the pass clock has stopped. Every forced call
sits inside ``tr.span(...)``: a no-op in timing runs, a traced span (job
group + status-store harvest) in traced runs.
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import hashlib
import math
import os
import shutil
from contextlib import contextmanager, nullcontext
from types import SimpleNamespace

import numpy as np
import pandas as pd

import corpus
import layers
import tables

#: registry tables scale: 60,000 lineitem rows
REGISTRY_SF = 0.01


class NoTrace:
    """Stand-in tracer for timing runs: a span is an empty context."""

    def span(self, name, storage=False):
        return nullcontext()


#: staged-module functions a traced run times as their own spans
STAGED_SPANS = {
    "stage_ingest": "staged.ingest",
    "stage_process": "staged.process",
    "stage_report": "staged.report",
    "forecast_sales_and_profits": "forecast.fit",
}


@contextmanager
def _staged_spans(tr):
    """In a traced pass, run_staged_pipeline's stages become spans: the
    staged module's own references are wrapped for the pass, then put back."""
    if isinstance(tr, NoTrace):
        yield
        return
    from retail_data_pipeline_and_forecasting_system_spark.plans import staged

    saved = {name: getattr(staged, name) for name in STAGED_SPANS}

    def spanned(fn, span):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tr.span(span):
                return fn(*args, **kwargs)
        return call

    for name, span in STAGED_SPANS.items():
        setattr(staged, name, spanned(saved[name], span))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(staged, name, fn)


def _cents(col):
    from pyspark.sql import functions as F

    return (F.col(col) * 100).cast("long")


def _canonical(name: str, df):
    """Project an engine output onto corpus.COLUMNS (money as cents)."""
    from pyspark.sql import functions as F

    if name == "orders":
        cols = ["order_id", "order_datetime", "customer_id",
                _cents("total_amount"), "num_items"]
    elif name == "order_line_items":
        cols = ["order_id", "product_id", "quantity", _cents("unit_price"),
                _cents("line_total")]
    elif name == "daily_summary":
        cols = [F.col("date").cast("string"), "num_orders",
                _cents("total_sales"), "total_profit"]
    else:
        cols = ["product_id", "product_name", "current_stock"]
    return df.select(*cols)


def _check_frame(name: str, pdf: pd.DataFrame, want: dict, errors: list) -> None:
    n = len(corpus.COLUMNS[name])
    got = {"rows": len(pdf), "digest": corpus.digest(
        [pdf.iloc[:, i].tolist() for i in range(n)])}
    if got["rows"] != want[name]["rows"] or got["digest"] != want[name]["digest"]:
        errors.append(f"{name}: {got['rows']} rows, digest differs from oracle"
                      f" ({want[name]['rows']} rows)")


def _check_profit(profit, want: list, errors: list, label: str) -> None:
    got = [float(x) for x in profit]
    if len(got) != len(want) or any(
        abs(a - b) > 0.01 + 1e-9 for a, b in zip(got, want)
    ):
        errors.append(f"{label}: total_profit outside +-0.01 of oracle")


def _check_forecast(rows: list, last_day: str, errors: list) -> None:
    want = (dt.date.fromisoformat(last_day) + dt.timedelta(days=1)).isoformat()
    if len(rows) != 1:
        errors.append(f"forecast: {len(rows)} rows")
        return
    day, sales, profit = rows[0]
    if str(day) != want or not (math.isfinite(sales) and math.isfinite(profit)):
        errors.append(f"forecast: {day} {sales} {profit}, want {want}, finite")


class Workload:
    """One pass is one operation unless a workload says otherwise."""

    name = ""
    lines = 0  # input lines per pass, for lines_per_s

    def operations(self) -> int:
        return 1


class Retail(Workload):
    """The paper's nightly job on one corpus, in both of its shapes.

    A pass runs the batch job in one session plan (JSON scan, explode,
    depletion, the four outputs collected into pandas, processing metrics,
    forecast), then the Airflow-DAG shape into a fresh lake (ingest to
    date-partitioned parquet, process, CSV report and forecast), then folds
    a late-arriving day into the lake's daily summary.

    The warm pass runs the same calls on a small corpus of its own: that
    pays class loading, codegen and Python worker start, which do not grow
    with the input, at a fraction of a full pass.
    """

    name = "retail"
    days, tx_per_day = 30, 2_000
    warm_days, warm_tx_per_day = 4, 500

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.main = self._corpus("corpus", seed, self.days, self.tx_per_day)
        self.warm = self._corpus("warm", seed, self.warm_days, self.warm_tx_per_day)
        self.want = self.main.want
        self.lines, self.late_lines = self.main.lines, self.main.late_lines
        self.passes = 0

    def _corpus(self, name: str, seed: int, days: int, tx_per_day: int):
        """Write one corpus and compute what each of its outputs must be."""
        out = os.path.join(self.work, name)
        c = corpus.generate(out, seed, days, tx_per_day, late_days=1)
        on_time = c["days"][:days]
        # the late day continues from the stock the on-time days left
        full = corpus.oracle(c["products"], c["days"])
        return SimpleNamespace(
            dir=out,
            want=corpus.oracle_digests(corpus.oracle(c["products"], on_time)),
            want_refresh={
                "rows": [r[:3] for r in full["daily_summary"]],
                "profit": [r[3] for r in full["daily_summary"]],
            },
            lines=sum(len(d["items"]) for day in on_time for d in day),
            late_lines=sum(len(d["items"]) for d in c["days"][-1]),
        )

    def run_pass(self, spark, tr, warm: bool = False) -> dict:
        c = self.warm if warm else self.main
        got = self._batch(spark, tr, c)
        self.passes += 1
        lake_root = os.path.join(self.work, f"lake{self.passes}")
        got["out_dir"] = self._staged(spark, tr, c, lake_root)
        got["refresh"] = self._refresh(spark, tr, c, os.path.join(lake_root, "lake"))
        got["lake_root"] = lake_root
        got["corpus"] = c
        return got

    def _batch(self, spark, tr, c) -> dict:
        from retail_data_pipeline_and_forecasting_system_spark.forecast import (
            forecast_sales_and_profits,
        )
        from retail_data_pipeline_and_forecasting_system_spark.plans import (
            processing_metrics, release_retail_pipeline, run_retail_pipeline,
        )
        from retail_data_pipeline_and_forecasting_system_spark.sources import (
            read_products_csv, read_transactions_json,
        )

        got = {}
        with tr.span("sources.read"):
            products = read_products_csv(spark, f"{c.dir}/products.csv")
            raw = read_transactions_json(spark, f"{c.dir}/transactions_*.json")
        with tr.span("retail.plan"):
            outs = run_retail_pipeline(raw, products)
        for name in corpus.COLUMNS:
            with tr.span(f"retail.{name}"):
                got[name] = _canonical(name, outs[name]).toPandas()
        with tr.span("retail.metrics"):
            got["metrics"] = processing_metrics(outs["_processed"])
        with tr.span("forecast.fit"):
            got["forecast"] = [tuple(r) for r in forecast_sales_and_profits(
                spark, outs["daily_summary"]).collect()]
        with tr.span("retail.release"):
            release_retail_pipeline(outs)
        return got

    def _staged(self, spark, tr, c, lake_root: str) -> str:
        from retail_data_pipeline_and_forecasting_system_spark.plans.staged import (
            run_staged_pipeline,
        )

        with tr.span("staged.run"), _staged_spans(tr):
            return run_staged_pipeline(
                spark,
                f"{c.dir}/customers.csv",
                f"{c.dir}/products.csv",
                f"{c.dir}/transactions_*.json",
                lake_root,
            )

    def _refresh(self, spark, tr, c, lake: str) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from retail_data_pipeline_and_forecasting_system_spark.plans import (
            explode_transactions, refresh_daily_summary,
        )
        from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
            process_lines,
        )
        from retail_data_pipeline_and_forecasting_system_spark.sources import (
            read_transactions_json,
        )

        with tr.span("incremental.refresh"):
            stock_now = spark.read.parquet(f"{lake}/products_updated").select(
                "product_id", F.col("current_stock").alias("stock"))
            products = spark.read.parquet(f"{lake}/products").drop("stock").join(
                stock_now, "product_id")
            late = explode_transactions(read_transactions_json(
                spark, f"{c.dir}/late/transactions_*.json"))
            summary = spark.read.parquet(f"{lake}/daily_summary")
            refreshed = refresh_daily_summary(
                summary, process_lines(late, products), products
            ).orderBy("date")
            return _canonical("daily_summary", refreshed).toPandas()

    def check(self, got: dict) -> list[str]:
        errors: list[str] = []
        c = got["corpus"]
        # the batch shape's outputs, as collected into pandas
        for name in corpus.COLUMNS:
            _check_frame(name, got[name], c.want, errors)
        _check_profit(got["daily_summary"]["total_profit"],
                      c.want["daily_profit"], errors, "daily_summary")
        if got["metrics"] != c.want["metrics"]:
            errors.append(f"processing_metrics: {got['metrics']}")
        _check_forecast(got["forecast"], c.want["last_day"], errors)
        # the DAG shape's contract CSVs
        out = got["out_dir"]
        for name in corpus.COLUMNS:
            pdf = pd.read_csv(os.path.join(out, f"{name}.csv"), dtype=str)
            for col in ("total_amount", "unit_price", "line_total", "total_sales"):
                if col in pdf:
                    pdf[col] = (pd.to_numeric(pdf[col]) * 100).round().astype("int64")
            for col in pdf.columns:
                if col.endswith(("_id", "num_items", "quantity", "num_orders",
                                 "current_stock")):
                    pdf[col] = pdf[col].astype("int64")
            _check_frame(name, pdf, c.want, errors)
            if name == "daily_summary":
                _check_profit(pdf["total_profit"], c.want["daily_profit"],
                              errors, "daily_summary.csv")
        fc = pd.read_csv(os.path.join(out, "sales_profit_forecast.csv"))
        _check_forecast(
            [tuple(r) for r in fc[["date", "forecasted_sales",
                                   "forecasted_profit"]].itertuples(index=False)],
            c.want["last_day"], errors)
        # the late day folded in
        ref = got["refresh"]
        rows = [tuple(r) for r in ref.iloc[:, :3].itertuples(index=False)]
        if rows != c.want_refresh["rows"]:
            errors.append("refresh_daily_summary: rows differ from oracle")
        _check_profit(ref["total_profit"], c.want_refresh["profit"], errors,
                      "refresh_daily_summary")
        shutil.rmtree(got["lake_root"], ignore_errors=True)
        return errors


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted frame with engine-neutral types:
    decimals as float, dates and timestamps as strings, ints as int64."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            if s.map(lambda v: isinstance(v, (dt.date, dt.datetime))).any():
                pdf[c] = s.astype(str)
            elif s.map(lambda v: isinstance(v, decimal.Decimal)).any():
                pdf[c] = s.astype(float)
            else:
                pdf[c] = s.map(lambda v: repr(list(v)) if isinstance(
                    v, (list, np.ndarray)) else v)
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            pdf[c] = s.astype("int64")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def result_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, order-insensitive digest) of a query result; float columns
    are compared bit-exactly, as the registry's oracle gate does."""
    pdf = _normalize(pdf)
    h = hashlib.sha256()
    for c in pdf.columns:
        s = pdf[c]
        h.update(c.encode())
        if pd.api.types.is_float_dtype(s):
            v = s.to_numpy("float64") + 0.0  # -0.0 -> 0.0
            h.update(b"f" + np.where(np.isnan(v), np.nan, v).tobytes())
        elif pd.api.types.is_integer_dtype(s):
            h.update(b"i" + s.to_numpy("int64").tobytes())
        else:
            h.update(b"s" + "\x1f".join(map(str, s.tolist())).encode())
    return len(pdf), h.hexdigest()


class Registry(Workload):
    """The 17 bench registry queries over seeded TPC-H-ish parquet."""

    name = "registry"

    def prepare(self, work: str, seed: int) -> None:
        import duckdb

        from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
            QUERIES,
        )

        self.queries = QUERIES
        self.names = list(layers.QUERIES)
        self.dir = os.path.join(work, "tables")
        counts = tables.generate(self.dir, seed, REGISTRY_SF)
        self.lines = counts["lineitem"]
        tmp = os.path.join(work, "duckdb_tmp")
        con = duckdb.connect(config={
            "memory_limit": "1GB", "threads": 2, "temp_directory": tmp})
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dir}/{t}.parquet'")
            self.want = {n: result_digest(con.execute(QUERIES[n].sql).df())
                         for n in self.names}
        finally:
            con.close()

    def run_pass(self, spark, tr, warm: bool = False) -> dict:
        got = {}
        for name in self.names:
            try:
                with tr.span(f"analytics.{name}", storage=True):
                    got[name] = self.queries[name].fn(spark, self.dir).toPandas()
            except Exception as e:  # one failed query fails that query only
                got[name] = e
        return got

    def check(self, got: dict) -> list[str]:
        errors = []
        for name in self.names:
            if isinstance(got[name], Exception):
                errors.append(f"{name}: {type(got[name]).__name__}: {got[name]}")
                continue
            rows, digest = result_digest(got[name])
            want_rows, want_digest = self.want[name]
            if rows != want_rows or digest != want_digest:
                errors.append(f"{name}: {rows} rows (oracle {want_rows}), "
                              f"digest {'matches' if digest == want_digest else 'differs'}")
        return errors

    def operations(self) -> int:
        return len(self.names)


WORKLOADS = {w.name: w for w in (Retail, Registry)}
