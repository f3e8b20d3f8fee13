"""Reference-parity queries (SURVEY.md §2.3–§2.8, §2.11) over the corpus.

The reference's analytics (src/analyze.py:20-109) run over a time series
keyed by (entity, date) — `exchange_rates(cc, exchangedate, rate)`. The
driver's `events(event_type, ts, value)` table has the same shape, so each
of the reference's query semantics is declared here over `events`, keyed by
`event_type`:

  ref_avg_value      — AVG per entity              (analyze.py:22-23, A1)
  ref_last_value     — ORDER BY ts DESC LIMIT 1    (analyze.py:26-39, O1/W1)
  ref_range_window   — MIN/MAX in trailing window  (analyze.py:42-51, A2/P6)
  ref_days_available — COUNT/MIN/MAX in one pass   (analyze.py:54-61, A3/A4)
  ref_change_month   — ROW_NUMBER + LEAST clamp + 1-row cross joins
                       (analyze.py:64-105, W1/W2/J1/J2 — the hard one)
  ref_num_types      — COUNT(DISTINCT)             (analyze.py:108, A5)
  ref_rolling_avg7   — 7-row trailing mean         (dags/currency_etl.py:41, A6/W3)
  ref_forecast5      — flat 5-day forecast         (dags/currency_etl.py:20-68, §2.11)

Scale notes: every query is a single shuffle on the entity key (or none);
windows share one (partitionBy, orderBy) spec so WindowExec sorts once.
At 100 TB the entity key is the natural partition key; skewed entities are
handled by AQE skew-join and by the partial aggregate Spark plans before
every grouping shuffle, and the top-k forms avoid full sorts
(Catalyst plans TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


# Deterministic total order for "newest first" — ts ties broken by event_id.
def _w_desc():
    return W.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))


def _exact_avg(col: F.Column) -> F.Column:
    """Exact decimal sum / count, emitted as double — bit-identical to the
    DuckDB oracle regardless of partition/summation order."""
    return F.sum(col.cast("decimal(18,4)")).cast("double") / F.count("*")


@register(
    "ref_avg_value",
    oracle="""
        SELECT event_type,
               round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_value,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("reference", "aggregate"),
    doc="AVG(rate) per entity — analyze.py:22-23 generalized to GROUP BY.",
)
def ref_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(_exact_avg(F.col("value")), 6).alias("avg_value"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "ref_last_value",
    oracle="""
        SELECT event_type, ts AS last_ts, value AS last_value
        FROM (
            SELECT event_type, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY event_type
    """,
    tags=("reference", "window", "topk"),
    doc="Latest rate + its date — analyze.py:26-39 (ORDER BY DESC LIMIT 1 → per-group top-1).",
)
def ref_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(_w_desc()))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("ts").alias("last_ts"), F.col("value").alias("last_value"))
    )


@register(
    "ref_range_window",
    oracle="""
        WITH mx AS (SELECT max(ts) AS mts FROM events)
        SELECT event_type,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events, mx
        WHERE ts >= mts - INTERVAL 14 DAYS
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("reference", "aggregate", "interval"),
    doc=(
        "MIN/MAX in a trailing interval — analyze.py:42-51. 'Now' anchors to "
        "max(ts) for determinism (SURVEY §7.3); 14 days because events span 30."
    ),
)
def ref_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    # 1-row aggregate broadcast into a nested-loop join — same plan Catalyst
    # gives the reference's scalar subquery (SURVEY §2.4 J1).
    mx = e.agg(F.max("ts").alias("mts"))
    return (
        e.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("mts") - F.expr("INTERVAL 14 DAYS"))
        .groupBy("event_type")
        .agg(F.min("value").alias("min_value"), F.max("value").alias("max_value"))
    )


@register(
    "ref_days_available",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS first_day,
               strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS last_day
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("reference", "aggregate"),
    doc="COUNT(*), MIN(date), MAX(date) in one pass — analyze.py:54-61 (A3/A4).",
)
def ref_days_available(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .withColumn("d", F.col("ts").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("d").alias("n_days"),
            # dates serialize as ISO strings so both engines' clients agree
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_day"),
        )
    )


@register(
    "ref_change_month",
    oracle="""
        WITH days_info AS (
            SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
        ),
        ordered AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ),
        last AS (SELECT event_type, value AS last_value FROM ordered WHERE rn = 1),
        ago AS (
            SELECT o.event_type, o.value AS ago_value
            FROM ordered o JOIN days_info d USING (event_type)
            WHERE o.rn = LEAST(d.cnt, 31)
        )
        SELECT l.event_type, round(l.last_value - a.ago_value, 6) AS change
        FROM last l JOIN ago a USING (event_type)
        ORDER BY event_type
    """,
    tags=("reference", "window", "join"),
    doc=(
        "Month-over-month change with the LEAST(cnt,31) clamp — analyze.py:64-105. "
        "The clamp semantics (short history degrades to oldest row) are reproduced "
        "exactly; the reference's 1-row comma joins become broadcast joins."
    ),
)
def ref_change_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    ordered = e.withColumn("rn", F.row_number().over(_w_desc()))
    days_info = e.groupBy("event_type").agg(F.count("*").alias("cnt"))
    last = ordered.filter(F.col("rn") == 1).select("event_type", F.col("value").alias("last_value"))
    ago = (
        ordered.join(F.broadcast(days_info), "event_type")
        .filter(F.col("rn") == F.least(F.col("cnt"), F.lit(31)))
        .select("event_type", F.col("value").alias("ago_value"))
    )
    return (
        last.join(ago, "event_type")
        .select("event_type", F.round(F.col("last_value") - F.col("ago_value"), 6).alias("change"))
    )


@register(
    "ref_num_types",
    oracle="""
        SELECT count(DISTINCT event_type) AS num_types,
               count(DISTINCT user_id) AS num_users
        FROM events
    """,
    tags=("reference", "aggregate"),
    doc="COUNT(DISTINCT cc) — analyze.py:108 (A5). Exact; approx_count_distinct is the 100 TB path.",
)
def ref_num_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).agg(
        F.countDistinct("event_type").alias("num_types"),
        F.countDistinct("user_id").alias("num_users"),
    )


@register(
    "ref_rolling_avg7",
    oracle="""
        SELECT event_id, event_type, ts, value,
               round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     / count(*) OVER w, 6) AS avg7
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, ts, event_id
    """,
    tags=("reference", "window", "rolling"),
    doc=(
        "7-row trailing mean per entity — dags/currency_etl.py:41 "
        "(rolling(7, min_periods=1): short leading frames just average fewer "
        "rows, which the row frame reproduces natively). Decimal-exact sum "
        "so sliding-frame accumulation order can't perturb the double."
    ),
)
def ref_rolling_avg7(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double")
                / F.count("*").over(w),
                6,
            ).alias("avg7"),
        )
    )


@register(
    "ref_forecast5",
    oracle="""
        WITH ordered AS (
            SELECT event_type, value, CAST(ts AS DATE) AS d,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ),
        last7 AS (
            SELECT event_type,
                   round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS forecast_value,
                   max(CASE WHEN rn = 1 THEN d END) AS last_day
            FROM ordered WHERE rn <= 7 GROUP BY event_type
        )
        SELECT event_type,
               day_offset,
               strftime(last_day + CAST(day_offset AS INTEGER), '%Y-%m-%d') AS forecast_date,
               forecast_value
        FROM last7, (SELECT unnest(generate_series(1, 5)) AS day_offset)
        ORDER BY event_type, day_offset
    """,
    tags=("reference", "forecast", "generator"),
    doc=(
        "Flat 5-day forecast — dags/currency_etl.py:20-68 (§2.11): trailing "
        "7-row mean projected onto 5 generated future dates. The 'model' is a "
        "literal; sequence+explode replaces the pandas date loop."
    ),
)
def ref_forecast5(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    ordered = e.select(
        "event_type",
        "value",
        F.col("ts").cast("date").alias("d"),
        F.row_number().over(_w_desc()).alias("rn"),
    )
    last7 = (
        ordered.filter(F.col("rn") <= 7)
        .groupBy("event_type")
        .agg(
            F.round(_exact_avg(F.col("value")), 6).alias("forecast_value"),
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("last_day"),
        )
    )
    return (
        last7.select(
            "event_type",
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("day_offset"),
            "forecast_value",
            "last_day",
        )
        .select(
            "event_type",
            F.col("day_offset").cast("long").alias("day_offset"),
            F.date_format(F.date_add(F.col("last_day"), F.col("day_offset")), "yyyy-MM-dd").alias(
                "forecast_date"
            ),
            "forecast_value",
        )
    )
