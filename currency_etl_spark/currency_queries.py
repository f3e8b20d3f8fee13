"""The reference's 11 analytics questions (SURVEY.md §2.5–§2.8,
src/analyze.py:20-109), answered by one grouped window query.

The reference sends 11 SQL queries, each a scan of the table. Here one
query scans the warehouse once: per currency, `COUNT(*)` and
`ROW_NUMBER()` windows number the rows newest first (`rn`) to mark the
last row and the `LEAST(cnt, 31)` "month ago" row, and FILTERed
aggregates answer the average, the last rate, the 365-day range, the day
count and the month change. The window sorts each currency oldest first,
so AVG adds the rates in date order: on the date-sorted file
`ParquetUpsertTable` writes, the order the reference's AVG query reads
them in, so both give the same last digit. The driver spreads the
one-row-per-currency result over the reference's {query_name: [row_dict]}
shape, empty and NULL rows included. The 11 SQL strings live in the
tests, as the oracle this query must match.

`today` replaces NOW() so results are deterministic (SURVEY §7.3).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_PER_CURRENCY = """
    SELECT cc, AVG(rate) AS avg,
           MAX(rate) FILTER (WHERE rn = 1) AS last,
           MIN(rate) FILTER (WHERE exchangedate >= DATE'{today}' - INTERVAL 365 DAYS) AS min_year,
           MAX(rate) FILTER (WHERE exchangedate >= DATE'{today}' - INTERVAL 365 DAYS) AS max_year,
           COUNT(*) AS days, MIN(exchangedate) AS first_date, MAX(exchangedate) AS last_date,
           MAX(rate) FILTER (WHERE rn = 1) - MAX(rate) FILTER (WHERE rn = LEAST(n, 31)) AS diff
    FROM (
        SELECT cc, rate, exchangedate,
               COUNT(*) OVER (PARTITION BY cc) + 1
                 - ROW_NUMBER() OVER (PARTITION BY cc ORDER BY exchangedate) AS rn,
               COUNT(*) OVER (PARTITION BY cc) AS n
        FROM {{rates}}
    )
    GROUP BY cc
"""

# A currency with no rows: the reference's aggregates read NULL and COUNT 0.
_NO_ROWS = {"avg": None, "min_year": None, "max_year": None, "days": 0,
            "first_date": None, "last_date": None}


def run_queries(
    spark: SparkSession,
    rates: DataFrame,
    today: str | _dt.date | None = None,
) -> dict[str, list[dict[str, Any]]]:
    """The 11 answers as {query_name: [row_dict, ...]}, keyed, ordered and
    shaped like analyze.py:123-133's fetch loop."""
    if today is None:
        today = _dt.date.today()
    sql = _PER_CURRENCY.format(today=today)
    per_cc = {r["cc"]: r.asDict() for r in spark.sql(sql, rates=rates).collect()}
    out: dict[str, list[dict[str, Any]]] = {}
    for cur in ("usd", "eur"):
        r = per_cc.get(cur.upper())
        g = r or _NO_ROWS
        out[f"avg_{cur}_rate"] = [{f"avg_{cur}": g["avg"]}]
        # ORDER BY ... LIMIT 1 and the rn = 1 join return no row without history
        out[f"last_{cur}_rate"] = (
            [{f"last_{cur}": r["last"], "exchangedate": r["last_date"]}] if r else []
        )
        out[f"{cur}_range_year"] = [{f"min_{cur}": g["min_year"], f"max_{cur}": g["max_year"]}]
        out[f"{cur}_days"] = [{f"days_{cur}": g["days"], f"first_{cur}_date": g["first_date"],
                               f"last_{cur}_date": g["last_date"]}]
        out[f"{cur}_change_month"] = [{f"diff_{cur}": r["diff"]}] if r else []
    out["unique_currencies"] = [{"num_currencies": sum(cc is not None for cc in per_cc)}]
    return out
