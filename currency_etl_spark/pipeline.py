"""End-to-end batch pipeline (SURVEY.md §3.1): one Spark job replaces the
reference's four subprocesses (extract → transform → load → analyze, each a
process boundary with the filesystem as the dataflow edge).

Stage boundaries here are DataFrame lineage — lazy logical plan, one
optimized execution — not files + subprocesses. Only the HTTP edges of the
reference (NBU fetch, Telegram notify) stay outside; inputs arrive as
NBU-shaped JSON already landed in a raw dir (the fixture in tests, a
fetcher in production).

Backfill (src/additional/load_all.py, SURVEY §3.3): the reference loops
files × rows with one DB round trip per row; here a single glob scan feeds
one set-based MERGE — the biggest divergence from the reference's execution
model and the 100 TB win.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# run_queries stays importable here: perfbench's tracer wraps it by name
from currency_etl_spark.currency_queries import answers, currency_groups, run_queries  # noqa: F401
from currency_etl_spark.forecast import HORIZON, forecast_rates, render_png
from currency_etl_spark.reports import structure_report, write_reports
from currency_etl_spark.sources import read_nbu_json
from currency_etl_spark.transforms import DEFAULT_CURRENCIES, transform_rates
from currency_etl_spark.warehouse import ParquetUpsertTable

RATES_KEY = ["cc", "exchangedate"]


def run_pipeline(
    spark: SparkSession,
    raw_json_path: str,
    warehouse_path: str,
    reports_dir: str | None = None,
    today: str | None = None,
    currencies: tuple[str, ...] = DEFAULT_CURRENCIES,
    forecast_png_dir: str | None = None,
) -> dict:
    """raw JSON → transform → keyed upsert → 11 analytics → reports → forecast.

    Returns {"results": ..., "report": ..., "paths": ..., "forecast_rows": n}.
    Idempotent by construction: re-running over the same raw data MERGEs to
    the same warehouse state (upsert key cc+exchangedate).

    A date failing the strict parse is a NULL key: the load raises
    `StrictParseError`, warehouse unchanged. The analytics read the table the
    MERGE returns; `forecast_rows` (every row plus `HORIZON` per `cc` group)
    comes from their grouped scan.
    """
    if today is None:
        today = str(_dt.date.today())

    raw = read_nbu_json(spark, raw_json_path)  # S2/S6: one parallel scan, any glob
    processed = transform_rates(raw, currencies=currencies)  # P1-P4

    table = ParquetUpsertTable(spark, warehouse_path, RATES_KEY)
    rates = table.merge_upsert(processed)  # K3: set-based MERGE, last-write-wins

    groups = currency_groups(spark, rates, today)  # the 11 analyze queries' one scan
    results = answers(groups)
    report = structure_report(results)

    paths: dict[str, str] = {}
    if reports_dir:
        paths = write_reports(report, reports_dir, today)

    if forecast_png_dir:
        for p in render_png(forecast_rates(rates), forecast_png_dir):
            paths[os.path.basename(p)] = p

    return {
        "results": results,
        "report": report,
        "paths": paths,
        "forecast_rows": sum(g["days"] for g in groups.values()) + HORIZON * len(groups),
    }


def backfill(spark: SparkSession, raw_glob: str, warehouse_path: str,
             currencies: tuple[str, ...] = DEFAULT_CURRENCIES) -> int:
    """Historical re-load: glob scan → transform → ONE merge (load_all.py
    replacement); returns the warehouse's row count. Later files win ties,
    matching the reference's sequential sorted-glob loop (load_all.py:62-76):
    each row's merge priority is its input file's path, whose lexicographic
    order is the order that loop visits the files in."""
    raw = read_nbu_json(spark, raw_glob).withColumn("__seq", F.input_file_name())
    processed = transform_rates(raw, currencies=currencies, keep=("__seq",))
    return ParquetUpsertTable(spark, warehouse_path, RATES_KEY).merge_upsert(processed).count()
