"""Grouped time-series forecasting (SURVEY §2.9, M1-M5).

The reference fits one Prophet model on a driver-side pandas frame
(``ipynb:1048-1054``: Prophet(interval_width=0.95).fit on (ds, y),
predict, MAPE 0.02). Here the same capability is distributed: one model
per group key via applyInPandas — each group's history lands in a
single pandas frame on an executor, the model fits there, and only the
forecast rows come back. At scale, parallelism = number of groups; a
single group's history must fit one executor (document: repartition by
group, cap history length upstream if needed).

Model tiers:
- "linear": deterministic closed-form least squares (always available;
  what plans/analytics.py cross-checks against the DuckDB oracle).
- "seasonal": numpy Fourier-feature ridge regression (trend + sin/cos
  harmonics of the weekly and optional yearly cycle, closed-form
  normal-equation solve). numpy IS in this container, so this is the
  default middle tier standing in for Prophet's seasonal fit — it
  reproduces the additive trend+seasonality structure the reference
  relies on (ipynb:1048-1054, MAPE 0.02) without the package.
- "prophet": used when the prophet package is importable (it is not in
  this container — import-gated exactly like the optional heavy deps
  the task allows stubbing).

Auto-selection (model=None): prophet if importable, else seasonal.
Pass model="linear" explicitly for the trend-only fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

FORECAST_SCHEMA = (
    "group string, ds date, yhat double, yhat_lower double, yhat_upper double"
)


def _prophet_available() -> bool:
    try:
        import prophet  # noqa: F401

        return True
    except Exception:
        return False


def _band_forecast(
    pdf, horizon: int, interval_width: float, resid_sd: float, predict
):
    """Shared tail of the closed-form tiers: the ``horizon`` days after
    the history's last ``ds``, ``yhat = predict(ordinal days)`` and a
    gaussian band of ``z * resid_sd`` around it."""
    import numpy as np
    import pandas as pd

    # z for the central interval_width mass (0.95 -> 1.96) without scipy.
    z = {0.8: 1.2816, 0.9: 1.6449, 0.95: 1.96, 0.99: 2.5758}.get(
        round(interval_width, 2), 1.96
    )
    last = pdf["ds"].max()
    future = pd.date_range(last, periods=horizon + 1, freq="D")[1:]
    fx = np.array([d.toordinal() for d in future], dtype="float64")
    yhat = predict(fx)
    return pd.DataFrame(
        {
            "ds": future.date,
            "yhat": yhat,
            "yhat_lower": yhat - z * resid_sd,
            "yhat_upper": yhat + z * resid_sd,
        }
    )


def _fit_predict_linear(pdf, horizon: int, interval_width: float):
    """Closed-form linear trend + gaussian residual band."""
    import numpy as np

    pdf = pdf.sort_values("ds")
    x = pdf["ds"].map(lambda d: d.toordinal()).to_numpy(dtype="float64")
    y = pdf["y"].to_numpy(dtype="float64")
    if len(x) < 2:
        slope, intercept = 0.0, float(y.mean()) if len(y) else 0.0
        resid_sd = 0.0
    else:
        slope, intercept = np.polyfit(x, y, 1)
        resid_sd = float(np.std(y - (intercept + slope * x)))
    return _band_forecast(
        pdf, horizon, interval_width, resid_sd, lambda fx: intercept + slope * fx
    )


def _fit_predict_seasonal(
    pdf,
    horizon: int,
    interval_width: float,
    weekly_order: int = 3,
    yearly_order: int = 0,
    ridge: float = 1e-6,
):
    """Fourier-feature ridge regression (VERDICT r2 ask #4): design
    matrix [1, t, sin/cos(2*pi*k*t/7)_k<=weekly_order,
    sin/cos(2*pi*k*t/365.25)_k<=yearly_order], solved in closed form
    via the ridge normal equations (X'X + lambda*I)w = X'y with numpy.
    Deterministic (no iteration, no RNG); the tiny ridge term keeps the
    solve well-posed on short histories. Residual-sd gaussian band,
    same convention as the linear tier."""
    import numpy as np

    pdf = pdf.sort_values("ds")
    x = pdf["ds"].map(lambda d: d.toordinal()).to_numpy(dtype="float64")
    y = pdf["y"].to_numpy(dtype="float64")

    def design(t: "np.ndarray") -> "np.ndarray":
        t0 = x[0] if len(x) else 0.0
        cols = [np.ones_like(t), t - t0]
        for period, order in ((7.0, weekly_order), (365.25, yearly_order)):
            for k in range(1, order + 1):
                w = 2.0 * np.pi * k / period
                cols.append(np.sin(w * t))
                cols.append(np.cos(w * t))
        return np.column_stack(cols)

    nfeat = 2 + 2 * (weekly_order + yearly_order)
    if len(x) < nfeat:  # degenerate history: fall back to the linear tier
        return _fit_predict_linear(pdf, horizon, interval_width)
    X = design(x)
    # Don't penalize intercept/trend; shrink only the harmonics.
    lam = np.diag([0.0, 0.0] + [ridge] * (X.shape[1] - 2))
    w = np.linalg.solve(X.T @ X + lam, X.T @ y)
    resid_sd = float(np.std(y - X @ w))
    return _band_forecast(
        pdf, horizon, interval_width, resid_sd, lambda fx: design(fx) @ w
    )


def _fit_predict_prophet(pdf, horizon: int, interval_width: float):
    import pandas as pd
    from prophet import Prophet

    m = Prophet(interval_width=interval_width)  # reference ipynb:1048
    m.fit(pdf[["ds", "y"]].assign(ds=pd.to_datetime(pdf["ds"])))
    future = m.make_future_dataframe(periods=horizon, freq="D")  # ipynb:1280
    out = m.predict(future).tail(horizon)
    return pd.DataFrame(
        {
            "ds": pd.to_datetime(out["ds"]).dt.date,
            "yhat": out["yhat"].to_numpy(),
            "yhat_lower": out["yhat_lower"].to_numpy(),
            "yhat_upper": out["yhat_upper"].to_numpy(),
        }
    )


def grouped_forecast(
    series: DataFrame,
    group_col: str,
    ds_col: str = "ds",
    y_col: str = "y",
    horizon: int = 7,
    interval_width: float = 0.95,
    model: str | None = None,
) -> DataFrame:
    """One forecast per group. ``series``: (group, ds date, y double).

    Returns FORECAST_SCHEMA rows, ``horizon`` per group.
    """
    import pandas as pd

    if model is None:
        model = "prophet" if _prophet_available() else "seasonal"
    fit = {
        "prophet": _fit_predict_prophet,
        "seasonal": _fit_predict_seasonal,
        "linear": _fit_predict_linear,
    }[model]

    def per_group(key, pdf):
        out = fit(
            pdf.rename(columns={ds_col: "ds", y_col: "y"}), horizon, interval_width
        )
        out.insert(0, "group", str(key[0]))
        return out

    prepared = series.selectExpr(
        f"{group_col} as group", f"cast({ds_col} as date) as ds", f"{y_col} as y"
    )
    return prepared.groupBy("group").applyInPandas(per_group, schema=FORECAST_SCHEMA)


def mape(actual: DataFrame, predicted: DataFrame, keys: list[str]) -> DataFrame:
    """MAPE join-and-aggregate (reference M5, ipynb:1057)."""
    from pyspark.sql import functions as F

    j = actual.join(predicted, keys)
    return j.agg(
        F.avg(F.abs((F.col("y") - F.col("yhat")) / F.col("y"))).alias("mape")
    )
