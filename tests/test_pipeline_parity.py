"""Reference-pipeline parity tests (SURVEY.md §5.2): transform semantics,
upsert idempotence/modes, the 11 analytics queries vs Python-computed
goldens (including the LEAST(cnt,31) clamp edges), rolling/forecast vs
pandas, report shapes, and the end-to-end pipeline run-twice property."""

from __future__ import annotations

import datetime as _dt
import json
import os
import re

import pandas as pd
import pytest

from currency_etl_spark.currency_queries import run_queries
from currency_etl_spark.forecast import forecast_rates, rolling_avg
from currency_etl_spark.pipeline import backfill, run_pipeline
from currency_etl_spark.reports import structure_report, text_report
from currency_etl_spark.sources import read_nbu_json
from currency_etl_spark.transforms import StrictParseError, transform_rates
from currency_etl_spark.warehouse import ParquetUpsertTable
from tests.analyze_oracle import assert_same_answers, oracle_queries
from tests.fixtures import START, nbu_records, rate_for, write_raw_json

TODAY = str(START + _dt.timedelta(days=45))  # pinned "now" for interval queries


@pytest.fixture()
def raw_df(spark, tmp_path):
    path = write_raw_json(nbu_records(days=40), str(tmp_path / "raw" / "response.json"))
    return read_nbu_json(spark, path)


# -- transform (P1-P4) -------------------------------------------------------


def test_transform_projects_derives_filters(raw_df):
    out = transform_rates(raw_df)
    assert out.columns == ["cc", "rate", "txt", "exchangedate", "rate_per_100"]
    rows = out.collect()
    assert {r["cc"] for r in rows} == {"USD", "EUR"}  # IN-filter
    assert len(rows) == 40 * 2
    r0 = next(r for r in rows if r["cc"] == "USD" and r["exchangedate"] == START)
    assert r0["rate"] == rate_for("USD", 0)
    assert r0["rate_per_100"] == pytest.approx(rate_for("USD", 0) * 100)
    assert isinstance(r0["exchangedate"], _dt.date)


def test_transform_strict_parse_raises(spark, tmp_path):
    recs = nbu_records(days=2)
    recs[0]["exchangedate"] = "2024-01-01"  # wrong format (ISO, not dd.MM.yyyy)
    path = write_raw_json(recs, str(tmp_path / "bad" / "response.json"))
    raw = read_nbu_json(spark, path)
    with pytest.raises(StrictParseError):
        transform_rates(raw)
    # non-strict mirrors Spark's ANSI-off null behavior
    lax = transform_rates(raw, strict=False)
    assert lax.filter("exchangedate IS NULL").count() == 1


# -- warehouse upsert (K3) ---------------------------------------------------


def test_upsert_idempotent_and_last_write_wins(spark, raw_df, tmp_path):
    wh = str(tmp_path / "wh")
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"])
    processed = transform_rates(raw_df)
    t.merge_upsert(processed)
    n1 = t.read().count()
    t.merge_upsert(processed)  # run-twice property
    assert t.read().count() == n1 == 80

    # corrected record beats stored one (ON CONFLICT DO UPDATE)
    fix = processed.limit(1).withColumn("rate", processed.rate * 0 + 99.99)
    key = fix.collect()[0]
    t.merge_upsert(fix)
    cur = t.read()
    assert cur.count() == n1
    got = cur.filter((cur.cc == key["cc"]) & (cur.exchangedate == key["exchangedate"])).collect()[0]
    assert got["rate"] == 99.99


def test_upsert_ignore_mode_first_wins(spark, raw_df, tmp_path):
    wh = str(tmp_path / "wh_ignore")
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"])
    processed = transform_rates(raw_df)
    t.merge_upsert(processed)
    orig = t.read().orderBy("cc", "exchangedate").collect()
    clash = processed.withColumn("rate", processed.rate * 0 - 1.0)
    t.merge_upsert(clash, mode="ignore")  # DO NOTHING semantics
    assert t.read().orderBy("cc", "exchangedate").collect() == orig


# -- the 11 analytics queries vs Python goldens ------------------------------


_SCHEMA = "cc string, rate double, txt string, exchangedate date, rate_per_100 double"


def _rates_df(spark, days_per_cc: dict[str, int]):
    rows = []
    for cc, n in days_per_cc.items():
        for d in range(n):
            rows.append(
                (cc, rate_for(cc, d), "x", START + _dt.timedelta(days=d), rate_for(cc, d) * 100)
            )
    return spark.createDataFrame(rows, _SCHEMA)


def test_queries_match_python_golden(spark):
    days = {"USD": 40, "EUR": 40, "GBP": 40}
    df = _rates_df(spark, days)
    res = run_queries(spark, df, today=TODAY)

    usd = [rate_for("USD", d) for d in range(40)]
    assert res["avg_usd_rate"][0]["avg_usd"] == pytest.approx(sum(usd) / 40)
    assert res["last_usd_rate"][0]["last_usd"] == usd[-1]
    assert res["usd_range_year"][0]["min_usd"] == min(usd)
    assert res["usd_range_year"][0]["max_usd"] == max(usd)
    assert res["usd_days"][0]["days_usd"] == 40
    assert res["usd_days"][0]["first_usd_date"] == START
    # 40 days of history → rn=31 exists → change vs 30 days before last
    assert res["usd_change_month"][0]["diff_usd"] == pytest.approx(usd[-1] - usd[40 - 31])
    assert res["unique_currencies"][0]["num_currencies"] == 3


@pytest.mark.parametrize("n,expect_idx", [(1, 0), (30, 0), (31, 0), (32, 1), (40, 9)])
def test_change_month_clamp_edges(spark, n, expect_idx):
    """LEAST(cnt,31): short history degrades to the oldest row (analyze.py:77-81)."""
    df = _rates_df(spark, {"USD": n, "EUR": 3})
    res = run_queries(spark, df, today=TODAY)
    usd = [rate_for("USD", d) for d in range(n)]
    assert res["usd_change_month"][0]["diff_usd"] == pytest.approx(usd[-1] - usd[expect_idx])


def test_range_year_window_excludes_old(spark):
    # 400 days of history: the interval filter must drop the first 35 days
    n = 400
    df = _rates_df(spark, {"USD": n})
    today = str(START + _dt.timedelta(days=n - 1))  # last data day
    res = run_queries(spark, df, today=today)
    usd = [rate_for("USD", d) for d in range(n)]
    in_window = usd[n - 1 - 365 :]
    assert res["usd_range_year"][0]["min_usd"] == min(in_window)
    assert res["usd_range_year"][0]["max_usd"] == max(in_window)


def test_queries_match_reference_sql_on_null_and_empty_warehouses(spark):
    """NULL cc is not a currency, a NULL rate on the newest row makes the
    last rate and the month change NULL, a NULL date sorts after every
    day, and an empty warehouse gives NULL/0 rows and empty lists — all as
    the reference's 11 SQL strings answer them."""
    d = [START + _dt.timedelta(days=i) for i in range(4)]
    nulls = [
        (None, 1.0, "x", d[0], 100.0),
        ("USD", 2.0, "x", d[0], 200.0),
        ("USD", None, "x", d[3], None),
        ("USD", 3.0, "x", None, 300.0),
        ("EUR", 4.0, "x", d[1], 400.0),
    ]
    for rows in (nulls, []):
        df = spark.createDataFrame(rows, _SCHEMA)
        assert_same_answers(
            run_queries(spark, df, today=TODAY), oracle_queries(spark, df, TODAY)
        )


def test_run_queries_is_one_grouped_scan(spark):
    """After a warm call, answering the 11 questions runs at most 3 Spark
    jobs (one scan and its shuffle), not one scan per question."""
    df = _rates_df(spark, {"USD": 40, "EUR": 40, "GBP": 40})
    run_queries(spark, df, today=TODAY)
    sc = spark.sparkContext
    group = "test-run-queries-jobs"
    sc.setJobGroup(group, group)
    try:
        res = run_queries(spark, df, today=TODAY)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 3, jobs
    assert res["unique_currencies"] == [{"num_currencies": 3}]


# -- forecast (§2.11) --------------------------------------------------------


def test_rolling_avg_matches_pandas(spark):
    df = _rates_df(spark, {"USD": 10, "EUR": 3})
    got = (
        rolling_avg(df).filter("cc='USD'").orderBy("exchangedate").select("avg_rate").toPandas()
    )
    expect = (
        pd.Series([rate_for("USD", d) for d in range(10)])
        .rolling(window=7, min_periods=1)
        .mean()
    )
    assert got["avg_rate"].tolist() == pytest.approx(expect.tolist())


def test_forecast_flat_five_days(spark):
    df = _rates_df(spark, {"USD": 10})
    fc = forecast_rates(df).filter("is_forecast").orderBy("exchangedate").collect()
    assert len(fc) == 5
    last_avg = (
        pd.Series([rate_for("USD", d) for d in range(10)]).rolling(7, min_periods=1).mean().iloc[-1]
    )
    assert all(r["avg_rate"] == pytest.approx(last_avg) for r in fc)
    dates = [r["exchangedate"] for r in fc]
    assert dates == [START + _dt.timedelta(days=9 + i) for i in range(1, 6)]


# -- reports (K5-K7) ---------------------------------------------------------


def test_report_structure_and_text(spark):
    df = _rates_df(spark, {"USD": 12, "EUR": 40})
    res = run_queries(spark, df, today=TODAY)
    rep = structure_report(res)
    assert set(rep) == {"usd", "eur", "general"}
    assert set(rep["usd"]) == {"last", "change_month", "range_year", "avg_all_time", "days"}
    assert rep["usd"]["days"] == 12
    txt = text_report(rep)
    # min(days,30) clamp in the change line (analyze.py:176)
    assert "USD change in 12 days" in txt
    assert "EUR change in 30 days" in txt
    # signed {:+.2f} formatting
    changes = [ln for ln in txt.splitlines() if " change in " in ln]
    assert len(changes) == 2
    for ln in changes:
        assert re.fullmatch(r"(USD|EUR) change in \d+ days: [+-]\d+\.\d{2} UAH", ln), ln
    assert any(s in txt for s in ("+", "-"))
    json.dumps(rep)  # JSON-safe


# -- end-to-end pipeline -----------------------------------------------------


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    raw = write_raw_json(nbu_records(days=40), str(tmp_path / "raw" / "response.json"))
    wh = str(tmp_path / "wh")
    reports = str(tmp_path / "reports")
    out1 = run_pipeline(spark, raw, wh, reports_dir=reports, today=TODAY)
    assert out1["report"]["general"]["num_currencies"] == 2  # post-filter USD/EUR
    assert out1["report"]["usd"]["days"] == 40
    assert os.path.exists(out1["paths"]["json"])
    assert os.path.exists(out1["paths"]["txt"])
    with open(out1["paths"]["json"], encoding="utf-8") as f:
        assert json.load(f)["usd"]["last"] == rate_for("USD", 39)

    out2 = run_pipeline(spark, raw, wh, reports_dir=reports, today=TODAY)  # rerun
    assert out2["report"] == out1["report"]


def test_backfill_glob_later_file_wins(spark, tmp_path):
    d1 = nbu_records(days=10)
    # second file overlaps days 5-9 with corrected rates
    d2 = [dict(r, rate=round(r["rate"] + 5.0, 2)) for r in nbu_records(days=10)[5 * 4 :]]
    write_raw_json(d1, str(tmp_path / "hist" / "exchange_2024-01-01.json"))
    write_raw_json(d2, str(tmp_path / "hist" / "exchange_2024-01-02.json"))
    wh = str(tmp_path / "wh_bf")
    n = backfill(spark, str(tmp_path / "hist" / "exchange_*.json"), wh)
    assert n == 10 * 2  # 10 days × USD/EUR, deduped
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"])
    cur = t.read()
    day7 = cur.filter(
        (cur.cc == "USD") & (cur.exchangedate == START + _dt.timedelta(days=7))
    ).collect()[0]
    assert day7["rate"] == pytest.approx(rate_for("USD", 7) + 5.0)  # later file won
