"""The reference's 11 analyze queries as Spark SQL (src/analyze.py:20-109,
SURVEY.md §2.5–§2.8): the oracle for `currency_queries.run_queries`,
which answers the same 11 questions with one grouped query.

The queries port nearly verbatim; the dialect shim is exactly the deltas
listed in SURVEY §3.2:
    NOW()                      → a pinned `today` date parameter
    INTERVAL '365 days'        → INTERVAL 365 DAYS
Everything else (CTEs, ROW_NUMBER() OVER, LEAST, comma joins) is valid
Spark SQL as-is.
"""

from __future__ import annotations

import math
from typing import Any

VIEW = "exchange_rates"


def query_catalog(today: str) -> dict[str, str]:
    """The 11 queries keyed like analyze.py:20-109, parameterized on `today`."""
    q: dict[str, str] = {}
    for cur in ("usd", "eur"):
        cc = cur.upper()
        q[f"avg_{cur}_rate"] = (
            f"SELECT AVG(rate) AS avg_{cur} FROM {VIEW} WHERE cc='{cc}'"
        )
        q[f"last_{cur}_rate"] = f"""
            SELECT rate AS last_{cur}, exchangedate
            FROM {VIEW}
            WHERE cc='{cc}'
            ORDER BY exchangedate DESC
            LIMIT 1
        """
        q[f"{cur}_range_year"] = f"""
            SELECT MIN(rate) AS min_{cur}, MAX(rate) AS max_{cur}
            FROM {VIEW}
            WHERE cc='{cc}' AND exchangedate >= DATE'{today}' - INTERVAL 365 DAYS
        """
        q[f"{cur}_days"] = f"""
            SELECT COUNT(*) AS days_{cur},
                   MIN(exchangedate) AS first_{cur}_date,
                   MAX(exchangedate) AS last_{cur}_date
            FROM {VIEW} WHERE cc='{cc}'
        """
        # ROW_NUMBER + LEAST(cnt, 31) clamp: with <31 days of history,
        # "a month ago" degrades to the oldest available row (analyze.py:77-81).
        q[f"{cur}_change_month"] = f"""
            WITH days_info AS (
                SELECT COUNT(*) AS cnt FROM {VIEW} WHERE cc='{cc}'
            ),
            ordered AS (
                SELECT rate,
                       ROW_NUMBER() OVER (ORDER BY exchangedate DESC) AS rn
                FROM {VIEW}
                WHERE cc='{cc}'
            ),
            last AS (SELECT rate FROM ordered WHERE rn = 1),
            ago AS (
                SELECT o.rate
                FROM ordered o, days_info d
                WHERE o.rn = LEAST(d.cnt, 31)
            )
            SELECT last.rate - ago.rate AS diff_{cur}
            FROM last, ago
        """
    q["unique_currencies"] = f"SELECT COUNT(DISTINCT cc) AS num_currencies FROM {VIEW}"
    return q


def oracle_queries(spark, rates, today: str) -> dict[str, list[dict[str, Any]]]:
    """Run the 11 queries one action each, like analyze.py:123-133."""
    rates.createOrReplaceTempView(VIEW)
    return {
        name: [row.asDict() for row in spark.sql(sql).collect()]
        for name, sql in query_catalog(str(today)).items()
    }


def assert_same_answers(got: dict, want: dict) -> None:
    """Keys, key order, row counts, field names and value types exact;
    values exact except `avg_*`, compared at 1e-9 relative (the fused
    query sums in a different order)."""
    assert list(got) == list(want)
    for name, want_rows in want.items():
        assert len(got[name]) == len(want_rows), (name, got[name], want_rows)
        for g, w in zip(got[name], want_rows):
            assert list(g) == list(w), (name, g, w)
            for k, wv in w.items():
                gv = g[k]
                assert type(gv) is type(wv), (name, k, gv, wv)
                if name.startswith("avg_") and wv is not None:
                    assert math.isclose(gv, wv, rel_tol=1e-9), (name, gv, wv)
                else:
                    assert gv == wv, (name, k, gv, wv)
