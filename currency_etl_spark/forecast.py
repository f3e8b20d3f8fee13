"""Forecast stage (SURVEY.md §2.11): the reference's per-currency pandas
loop (dags/currency_etl.py:20-68) as ONE windowed Spark query.

Reference semantics:
  * per currency, sort by exchangedate, rolling(7, min_periods=1).mean()
  * last_avg = last non-null rolling mean (fallback: last raw rate)
  * forecast = flat last_avg for the next 5 days
  * output feeds a matplotlib PNG (driver-side, optional here)

Spark form: a single (partitionBy cc, orderBy exchangedate) window spec
serves the rolling mean, the last-row pick, and the last_avg extraction —
one shuffle total, no driver loop over currencies. The row frame naturally
reproduces min_periods=1 (early frames just contain fewer rows). The
"model" is a literal projected onto sequence()-generated future dates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

HORIZON = 5  # forecast days per currency, the reference's flat 5-day forecast


def rolling_avg(rates: DataFrame, window: int = 7) -> DataFrame:
    """History + per-currency trailing mean (dags/currency_etl.py:41)."""
    w = W.partitionBy("cc").orderBy("exchangedate").rowsBetween(-(window - 1), W.currentRow)
    return rates.withColumn("avg_rate", F.avg("rate").over(w))


def forecast_rates(rates: DataFrame, window: int = 7, horizon: int = HORIZON) -> DataFrame:
    """Flat `horizon`-day forecast per currency.

    Returns (cc, exchangedate, rate, avg_rate, is_forecast): history rows
    carry rate + rolling avg; forecast rows carry rate=null and
    avg_rate=last_avg — the union the reference plots. Every row of
    `rates` plus `horizon` rows per `cc` group (NULL `cc` included).
    """
    hist = rolling_avg(rates, window)
    w_desc = W.partitionBy("cc").orderBy(F.desc("exchangedate"))
    last = (
        hist.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") == 1)
        .select(
            "cc",
            F.col("exchangedate").alias("last_date"),
            # last non-null avg, fallback to last raw rate (currency_etl.py:43-48)
            F.coalesce("avg_rate", "rate").alias("last_avg"),
        )
    )
    future = (
        last.select(
            "cc",
            F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("d"),
            "last_date",
            "last_avg",
        )
        .select(
            "cc",
            F.date_add(F.col("last_date"), F.col("d")).alias("exchangedate"),
            F.lit(None).cast("double").alias("rate"),
            F.col("last_avg").alias("avg_rate"),
            F.lit(True).alias("is_forecast"),
        )
    )
    return hist.select(
        "cc", "exchangedate", "rate", "avg_rate", F.lit(False).alias("is_forecast")
    ).unionByName(future)


def render_png(forecast_df: DataFrame, out_dir: str) -> list[str]:
    """Optional chart sink (K8): tiny per-currency series → driver-side
    matplotlib. Import-gated — the engine core never depends on it."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:  # pragma: no cover - plotting is optional
        return []

    import os

    os.makedirs(out_dir, exist_ok=True)
    pdf = forecast_df.toPandas()
    paths = []
    for cc, g in pdf.groupby("cc"):
        g = g.sort_values("exchangedate")
        hist, fut = g[~g.is_forecast], g[g.is_forecast]
        plt.figure(figsize=(10, 5))
        plt.plot(hist.exchangedate, hist.rate, label="Rate")
        plt.plot(hist.exchangedate, hist.avg_rate, label="7-day rolling avg")
        plt.plot(fut.exchangedate, fut.avg_rate, linestyle="--", label="Forecast")
        plt.title(f"{cc} Exchange Rate")
        plt.legend()
        plt.grid(True)
        path = os.path.join(out_dir, f"forecast_{cc}.png")
        plt.savefig(path)
        plt.close()
        paths.append(path)
    return paths
