"""Next-day sales/profit forecasting over the daily summary.

The reference fits a Prophet model per series (reference src/time_series.py:
7-67) on a ~10-point daily series collected to the driver, with a quirk: the
fit uses synthetic dates ending *today* (src/time_series.py:21) while output
dates are business dates (src/data_processor.py:573-575). Its CI checks only
that the forecast file exists (.gitlab-ci.yml:98, excluded from value diff at
:177-178), so forecast *values* are unconstrained.

This engine keeps the same shape — collect the (legitimately tiny, one row
per business day) summary, fit per-series, emit (date, forecasted_sales,
forecasted_profit) — with a pluggable model:

- ``prophet`` when the library is importable (parity with the reference,
  including the synthetic-date quirk),
- otherwise a deterministic OLS linear trend + day-of-week seasonal fallback
  (pure numpy, no extra deps; fully reproducible, unlike Prophet-fit-on-
  today's-dates which changes with the run date).

Scale note: the input is one row per day — collect() here is O(days), not
O(data). For thousands of independent series (per-store, per-SKU), the same
fallback model is closed-form and vectorizable per group: fit it inside
``applyInPandas`` keyed by series id instead of on the driver.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import FORECAST_OUT

try:  # optional dependency; reference parity path
    from prophet import Prophet  # type: ignore

    _HAVE_PROPHET = True
except Exception:  # pragma: no cover - prophet not installed here
    _HAVE_PROPHET = False


class UnivariateForecaster:
    """fit(values) / predict(horizon) / get_metrics() — the reference's
    forecaster interface (src/time_series.py:16-67)."""

    def __init__(self) -> None:
        self._values: np.ndarray | None = None
        self._fitted: np.ndarray | None = None
        self._model = None

    def fit(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype="float64")
        self._values = values
        if _HAVE_PROPHET:
            ds = pd.date_range(end=pd.Timestamp.today(), periods=len(values))
            self._model = Prophet()
            self._model.fit(pd.DataFrame({"ds": ds, "y": values}))
            self._ds = ds
            self._fitted = self._model.predict(pd.DataFrame({"ds": ds}))[
                "yhat"
            ].to_numpy()
        else:
            self._fit_ols_seasonal(values)

    def _fit_ols_seasonal(self, values: np.ndarray) -> None:
        """Closed-form OLS on [1, t] plus mean-centered day-of-week offsets.

        Deterministic, dependency-free stand-in for Prophet's trend+weekly
        seasonality on short daily series.
        """
        n = len(values)
        t = np.arange(n, dtype="float64")
        x = np.column_stack([np.ones(n), t])
        coef, *_ = np.linalg.lstsq(x, values, rcond=None)
        trend = x @ coef
        resid = values - trend
        dow = np.arange(n) % 7
        seasonal = np.zeros(7)
        if n >= 14:  # need 2 full weeks to estimate weekly effects
            for d in range(7):
                mask = dow == d
                if mask.any():
                    seasonal[d] = resid[mask].mean()
            seasonal -= seasonal.mean()
        self._coef = coef
        self._seasonal = seasonal
        self._fitted = trend + seasonal[dow]

    def predict(self, horizon: int) -> np.ndarray:
        if self._values is None:
            raise ValueError("fit() before predict()")
        if _HAVE_PROPHET:
            future = pd.date_range(
                start=self._ds[-1] + pd.Timedelta(days=1), periods=horizon
            )
            return self._model.predict(pd.DataFrame({"ds": future}))[
                "yhat"
            ].to_numpy()
        n = len(self._values)
        t = np.arange(n, n + horizon, dtype="float64")
        trend = self._coef[0] + self._coef[1] * t
        return trend + self._seasonal[np.arange(n, n + horizon) % 7]

    def get_metrics(self) -> dict:
        """In-sample MAE/MSE (reference src/time_series.py:45-67)."""
        if self._fitted is None:
            raise ValueError("fit() before get_metrics()")
        err = self._values - self._fitted
        return {
            "mae": float(np.mean(np.abs(err))),
            "mse": float(np.mean(err**2)),
            "model_type": "prophet" if _HAVE_PROPHET else "ols_seasonal",
        }


def forecast_sales_and_profits(
    spark: SparkSession, daily_summary: DataFrame, forecast_days: int = 1
) -> DataFrame:
    """daily_summary -> (date, forecasted_sales, forecasted_profit) rows.

    Output dates are business dates: last summary date + 1..horizon
    (reference src/data_processor.py:573-575). The rows are built as a
    pandas frame, which Spark turns into a local relation through Arrow;
    a Python list would become a Python RDD, and every action on it would
    start a Python worker task.
    """
    # O(business days): legitimately tiny, so it is ordered on the driver
    # rather than by a Spark range sort
    rows = sorted(
        daily_summary.select("date", "total_sales", "total_profit").collect(),
        key=lambda r: r["date"],
    )
    dates = [r["date"] for r in rows]
    sales = np.array([float(r["total_sales"]) for r in rows])
    profit = np.array([float(r["total_profit"]) for r in rows])

    sales_model, profit_model = UnivariateForecaster(), UnivariateForecaster()
    sales_model.fit(sales)
    profit_model.fit(profit)

    horizon = range(1, forecast_days + 1)
    out = pd.DataFrame(
        {
            "date": [dates[-1] + dt.timedelta(days=i) for i in horizon],
            "forecasted_sales": sales_model.predict(forecast_days),
            "forecasted_profit": profit_model.predict(forecast_days),
        }
    )
    return spark.createDataFrame(out, schema=FORECAST_OUT)


def forecast_many(
    series: DataFrame,
    horizon: int = 1,
    key_col: str = "series_id",
    date_col: str = "date",
    value_col: str = "value",
    num_buckets: int = 64,
) -> DataFrame:
    """Grouped per-series forecasting — the scale path for thousands of
    independent series (per-store, per-SKU, per-metric).

    Same model as the driver path (closed-form OLS trend + day-of-week
    seasonality, or Prophet when importable), fitted *inside*
    ``applyInPandas``: series are hash-bucketed so one Arrow batch carries
    many small series, state never leaves executors, and adding executors
    scales linearly in #series. Output: (series_id, date, forecast) with
    ``horizon`` rows per series.
    """
    import datetime as _dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType(), False),
            T.StructField(date_col, T.DateType(), False),
            T.StructField("forecast", T.DoubleType(), True),
        ]
    )

    def fit_bucket(pdf):
        import pandas as _pd

        rows = []
        for key, grp in pdf.groupby(key_col, sort=True):
            grp = grp.sort_values(date_col)
            model = UnivariateForecaster()
            model.fit(grp[value_col].to_numpy(dtype="float64"))
            preds = model.predict(horizon)
            last = grp[date_col].iloc[-1]
            for i, yhat in enumerate(preds, start=1):
                rows.append(
                    (str(key), last + _dt.timedelta(days=i), float(yhat))
                )
        return _pd.DataFrame(rows, columns=[key_col, date_col, "forecast"])

    from ..operators.bucketed import bucketed_fold

    return bucketed_fold(
        series, key_col, fit_bucket, out_schema, num_buckets=num_buckets
    )


def holt_winters_kernel(
    ys: list[float], m: int = 7, horizon: int = 14
) -> list[tuple[int, float]] | None:
    """Additive Holt-Winters (triple exponential smoothing) with DYADIC
    smoothing weights — alpha=0.5, beta=0.25, gamma=0.25 — over an
    observation-indexed series (seasonality by position, period ``m``).
    Returns ``[(h, forecast)]`` for h=1..horizon, or None when the
    series is shorter than two seasons.

    Exactness contract (the h3_ewma discipline): dyadic weights make
    0.5*x / 0.25*x exact halvings in binary floating point; every sum
    is a LEFT fold in observation order (never an unordered SUM — agg
    order is engine-unspecified); the level/trend/seasonal updates are
    written with one fixed association, and the DuckDB oracle restates
    the identical expression tree in a recursive CTE — forecasts match
    BIT-FOR-BIT across engines (70/70 verified at sf0.01).

    Standard init: level = mean of season 1, trend = mean one-season
    difference / m, seasonal = season-1 deviations from the level;
    the recursion starts at t=m+1.
    """
    T = len(ys)
    if T < 2 * m:
        return None
    acc = 0.0
    for v in ys[:m]:
        acc = acc + v
    level = acc / m
    acc = 0.0
    for i in range(m):
        acc = acc + (ys[m + i] - ys[i])
    trend = acc / (m * m)
    seas = [ys[i] - level for i in range(m)]
    t = m
    for y in ys[m:]:
        slot = t % m
        prev_s = seas[slot]
        new_level = 0.5 * (y - prev_s) + 0.5 * (level + trend)
        trend = 0.25 * (new_level - level) + 0.75 * trend
        seas[slot] = 0.25 * (y - new_level) + 0.75 * prev_s
        level = new_level
        t += 1
    return [
        (h, level + h * trend + seas[(T + h - 1) % m])
        for h in range(1, horizon + 1)
    ]


def holt_winters_forecast(
    daily: DataFrame,
    group_col: str = "g",
    order_col: str = "d",
    value_col: str = "y",
    m: int = 7,
    horizon: int = 14,
    num_buckets: int = 64,
) -> DataFrame:
    """Distributed Holt-Winters over per-group ordered series: one
    hash-bucketed ``applyInPandas`` (the depletion/packing fold shape —
    sequential within a group, parallel across groups), emitting
    ``(group, h, forecast)`` rows. Groups shorter than ``2*m`` are
    dropped (not enough history to initialize a seasonal model).

    Scale: the recursion runs on the per-group DAILY rollup, so state
    is (level, trend, m seasonal slots) per group and rows into Python
    are 2 scalars wide; the fact-table cost is the rollup any daily
    metric already pays.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T_

    slim = daily.select(
        F.col(group_col), F.col(order_col), F.col(value_col)
    )

    out_schema = T_.StructType(
        [
            T_.StructField(
                group_col, slim.schema[group_col].dataType, True
            ),
            T_.StructField("h", T_.IntegerType(), False),
            T_.StructField("forecast", T_.DoubleType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {group_col: [], "h": [], "forecast": []}
        for g, grp in pdf.groupby(group_col, dropna=False, sort=True):
            if isinstance(g, float) and pd.isna(g):
                # pandas groupby(dropna=False) surfaces a NULL key as
                # float nan even for string columns — restore None or
                # Arrow rejects the typed group column (round-9 review)
                g = None
            ys = [float(v) for v in
                  grp.sort_values(order_col)[value_col].values]
            fc = holt_winters_kernel(ys, m=m, horizon=horizon)
            if fc is None:
                continue
            for h, v in fc:
                out[group_col].append(g)
                out["h"].append(h)
                out["forecast"].append(v)
        res = pd.DataFrame(out)
        return res.astype({"h": "int32"}) if len(res) else pd.DataFrame(
            {group_col: [], "h": pd.array([], dtype="int32"),
             "forecast": pd.array([], dtype="float64")}
        )

    from ..operators.bucketed import bucketed_fold

    return bucketed_fold(
        slim, group_col, kernel, out_schema, num_buckets=num_buckets
    )


def theta_kernel(
    ys: list[float], horizon: int = 14
) -> list[tuple[int, float]] | None:
    """Theta method (Assimakopoulos & Nikolopoulos 2000), theta =
    (0, 2) combination, via the Hyndman & Billah 2003 equivalence:
    forecast = SES level + drift (b/2)((1-alpha)/alpha + h), with
    DYADIC alpha = 0.5 so the drift term is (b/2)(h + 1).

    Exactness contract (the h3/m21 discipline): the OLS slope's
    integer sums (t, t^2) are closed-form exact integers converted to
    double ONCE; the y sums are LEFT folds in observation order; the
    SES recursion l' = 0.5*y + 0.5*l is exact halvings; every
    expression is one fixed association restated verbatim by the
    DuckDB oracle's recursive CTE — forecasts match bit-for-bit.

    Returns ``[(h, forecast)]`` for h = 1..horizon, or None when the
    series is shorter than 3 observations (no meaningful slope).
    """
    n = len(ys)
    if n < 3:
        return None
    sy = ys[0]
    for v in ys[1:]:
        sy = sy + v
    sty = 1.0 * ys[0]
    for i in range(1, n):
        sty = sty + float(i + 1) * ys[i]
    st = n * (n + 1) // 2
    stt = n * (n + 1) * (2 * n + 1) // 6
    den = n * stt - st * st  # = n^2(n+1)(n-1)/12 > 0 for n >= 2
    b = (float(n) * sty - float(st) * sy) / float(den)
    level = ys[0]
    for y in ys[1:]:
        level = 0.5 * y + 0.5 * level
    return [
        (h, level + 0.5 * b * (float(h) + 1.0))
        for h in range(1, horizon + 1)
    ]


def theta_forecast(
    daily: "DataFrame",
    group_col: str = "g",
    order_col: str = "d",
    value_col: str = "y",
    horizon: int = 14,
    num_buckets: int = 64,
) -> "DataFrame":
    """Distributed Theta-method forecast over per-group ordered
    series — the holt_winters_forecast scaffold (hash-bucketed
    ``applyInPandas``: sequential within a group, parallel across
    groups) with :func:`theta_kernel` as the fold. Groups shorter
    than 3 observations are dropped."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T_

    from ..operators.bucketed import bucketed_fold

    slim = daily.select(
        F.col(group_col), F.col(order_col), F.col(value_col)
    )
    out_schema = T_.StructType(
        [
            T_.StructField(
                group_col, slim.schema[group_col].dataType, True
            ),
            T_.StructField("h", T_.IntegerType(), False),
            T_.StructField("forecast", T_.DoubleType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {group_col: [], "h": [], "forecast": []}
        for g, grp in pdf.groupby(group_col, dropna=False, sort=True):
            if isinstance(g, float) and pd.isna(g):
                g = None  # see holt_winters_forecast (round-9 review)
            ys = [
                float(v)
                for v in grp.sort_values(order_col)[value_col].values
            ]
            fc = theta_kernel(ys, horizon=horizon)
            if fc is None:
                continue
            for h, v in fc:
                out[group_col].append(g)
                out["h"].append(h)
                out["forecast"].append(v)
        res = pd.DataFrame(out)
        return res.astype({"h": "int32"}) if len(res) else pd.DataFrame(
            {group_col: [], "h": pd.array([], dtype="int32"),
             "forecast": pd.array([], dtype="float64")}
        )

    return bucketed_fold(
        slim, group_col, kernel, out_schema, num_buckets=num_buckets
    )


def croston_kernel(
    qtys: list[int], gaps: list[int]
) -> tuple[float, float, float] | None:
    """Croston's method (Croston 1972) with alpha = 0.5, plus the
    Syntetos-Boylan bias correction (SBA, factor 1 - alpha/2 = 0.75).

    ``qtys`` are the demand sizes at the n demand events in time
    order; ``gaps[i]`` is the whole-day interval between event i-1 and
    event i (``gaps[0]`` unused). Initialization: z = first size; p =
    first interval (so n >= 2 is required); updates from event 2 on:
    z' = 0.5*q + 0.5*z, p' = 0.5*g + 0.5*p. All coefficients dyadic,
    all inputs integers -> every intermediate is an exact binary
    fraction, bit-identical to the SQL oracle's recursion (the
    h3/m21 exactness discipline).

    Returns (z, p, forecast = z/p) or None when n < 2.
    """
    n = len(qtys)
    if n < 2:
        return None
    z = float(qtys[0])
    p = float(gaps[1])
    for i in range(1, n):
        z = 0.5 * float(qtys[i]) + 0.5 * z
        if i >= 2:
            p = 0.5 * float(gaps[i]) + 0.5 * p
    if p == 0.0:
        # all intervals zero (duplicate event dates fed directly to
        # the kernel): the interval estimate is undefined — report
        # no fit rather than dividing by zero (review finding)
        return None
    return z, p, z / p


def croston_forecast(
    events: "DataFrame",
    key_col: str = "l_partkey",
    date_col: str = "d",
    qty_col: str = "qty",
    num_buckets: int = 64,
) -> "DataFrame":
    """Per-key Croston intermittent-demand forecast over (key, date,
    qty) demand events — the retail forecasting shape Prophet-style
    continuous models mishandle (mostly-zero daily series).

    One hash-bucketed ``applyInPandas`` pass (the a5/x15 scaffold):
    only (key, date, qty) scalars cross into Python, state per key is
    three floats. Output: key, n_events, z (smoothed size), p
    (smoothed interval), croston = z/p demand per day, sba = 0.75 *
    croston. Keys with fewer than two demand events are absent (no
    interval information exists).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators.bucketed import bucketed_fold

    key_field = events.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("z", T.DoubleType()),
            T.StructField("p", T.DoubleType()),
            T.StructField("croston", T.DoubleType()),
            T.StructField("sba", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {
            key_col: [], "n_events": [], "z": [], "p": [],
            "croston": [], "sba": [],
        }
        for g, grp in pdf.groupby(key_col, dropna=False, sort=True):
            if isinstance(g, float) and pd.isna(g):
                g = None
            # collapse same-day rows into one demand event (summed
            # size): without this, duplicate dates give a zero first
            # interval and z/p divides by zero (review finding) —
            # callers need not pre-aggregate. NULL/NaN qty rows are
            # dropped FIRST (a null observation is no demand event),
            # so the int() conversion below can't crash on a raw
            # un-aggregated feed (round-11 ADVICE).
            grp = grp[grp[qty_col].notna()]
            grp = (
                grp.groupby(date_col, as_index=False)[qty_col]
                .sum()
                .sort_values(date_col)
            )
            dates = list(grp[date_col].values)
            qtys = [int(v) for v in grp[qty_col].values]
            gaps = [0] + [
                int((pd.Timestamp(b) - pd.Timestamp(a)).days)
                for a, b in zip(dates, dates[1:])
            ]
            fit = croston_kernel(qtys, gaps)
            if fit is None:
                continue
            z, p, fc = fit
            out[key_col].append(g)
            out["n_events"].append(len(qtys))
            out["z"].append(z)
            out["p"].append(p)
            out["croston"].append(fc)
            out["sba"].append(0.75 * fc)
        res = pd.DataFrame(out)
        return res if len(res) else pd.DataFrame(
            {
                key_col: [],
                "n_events": pd.array([], dtype="int64"),
                "z": pd.array([], dtype="float64"),
                "p": pd.array([], dtype="float64"),
                "croston": pd.array([], dtype="float64"),
                "sba": pd.array([], dtype="float64"),
            }
        )

    return bucketed_fold(
        events, key_col, kernel, out_schema, num_buckets=num_buckets
    )
