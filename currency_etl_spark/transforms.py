"""Transform stage: the reference's pandas chain re-expressed declaratively.

Reference semantics (src/transform.py:17-30, SURVEY.md §2.3):
  P1 project [cc, rate, txt, exchangedate] — drop unknown upstream fields
  P2 strict dd.MM.yyyy date parse (pandas raises on mismatch)
  P3 derive rate_per_100 = rate * 100
  P4 keep cc ∈ allowed set (default USD/EUR)

All four are Catalyst expressions: the projection prunes columns at the
scan, the IN-filter pushes down, the derivation folds into codegen, and
the result is a plan with no job of its own. A row that fails P2 carries
a NULL exchangedate; the load's NOT NULL key (cc, exchangedate) rejects
it with `StrictParseError` and the count of such rows, before the
warehouse changes (warehouse.ParquetUpsertTable.merge_upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from currency_etl_spark.warehouse import NullKeyError

DEFAULT_CURRENCIES = ("USD", "EUR")
DATE_FMT = "dd.MM.yyyy"

#: Raised when exchangedate does not match dd.MM.yyyy — parity with the
#: reference's pandas `pd.to_datetime(..., format=...)` raising behavior
#: (src/transform.py:25). A failed parse is a NULL key, so the load raises it.
StrictParseError = NullKeyError


def transform_rates(
    raw: DataFrame,
    currencies: tuple[str, ...] = DEFAULT_CURRENCIES,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """raw NBU records → processed rates table.

    Output schema: (cc, rate, txt, exchangedate: date, rate_per_100 [, *keep]).
    `keep` carries pipeline bookkeeping columns (e.g. ingest ordering)
    through the projection.
    """
    return (
        # P2 uses try_to_date: under Spark 4's default ANSI mode a plain
        # to_date throws mid-task on the first bad row; try_to_date yields
        # null, so the load can count and report all bad rows.
        raw.select("cc", "rate", "txt", "exchangedate", *keep)  # P1
        .withColumn("exchangedate", F.try_to_date("exchangedate", DATE_FMT))  # P2
        .withColumn("rate_per_100", F.col("rate") * F.lit(100))  # P3
        .filter(F.col("cc").isin(*currencies))  # P4
    )
