"""Property-based tests (SURVEY.md §5.2) for the semantics that are easy to
break silently: upsert last-write-wins convergence over arbitrary batch
sequences, rolling-mean parity with pandas on arbitrary series, and the
LEAST(cnt,31) clamp at arbitrary history lengths. Example counts are small
— each example runs real Spark jobs."""

from __future__ import annotations

import datetime as _dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from currency_etl_spark.currency_queries import run_queries
from currency_etl_spark.forecast import rolling_avg
from currency_etl_spark.warehouse import ParquetUpsertTable
from tests.analyze_oracle import assert_same_answers, oracle_queries

START = _dt.date(2024, 1, 1)

_PROP_SETTINGS = settings(
    derandomize=True,
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 5), st.floats(1, 100, allow_nan=False)),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@_PROP_SETTINGS
def test_upsert_converges_to_last_write(spark, tmp_path_factory, batches):
    """Applying any sequence of keyed batches leaves exactly the last-written
    value per key — the ON CONFLICT DO UPDATE contract (load.py:38-41)."""
    path = str(tmp_path_factory.mktemp("prop_upsert") / "t")
    t = ParquetUpsertTable(spark, path, ["k"])
    expect: dict[int, float] = {}
    for batch in batches:
        rows = [(k, float(v), i) for i, (k, v) in enumerate(batch)]
        df = spark.createDataFrame(rows, "k int, v double, __seq long")
        t.merge_upsert(df)
        for k, v in batch:  # in-batch: later row wins, like the row loop
            expect[k] = float(v)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == pytest.approx(expect)


@given(
    values=st.lists(st.floats(0.125, 1000, allow_nan=False, width=32), min_size=1, max_size=40)
)
@_PROP_SETTINGS
def test_rolling_mean_matches_pandas(spark, values):
    """Window rowsBetween(-6, 0) == pandas rolling(7, min_periods=1).mean()
    for every series shape (currency_etl.py:41)."""
    rows = [
        ("USD", float(v), "x", START + _dt.timedelta(days=i), float(v) * 100)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "cc string, rate double, txt string, exchangedate date, rate_per_100 double"
    )
    got = [
        r["avg_rate"]
        for r in rolling_avg(df).orderBy("exchangedate").select("avg_rate").collect()
    ]
    want = pd.Series([float(v) for v in values]).rolling(7, min_periods=1).mean().tolist()
    assert got == pytest.approx(want)


@given(n=st.integers(1, 45))
@_PROP_SETTINGS
def test_change_month_clamp_any_history_length(spark, n):
    """diff == last - history[-min(cnt, 31)] for every history length —
    the LEAST(cnt,31) clamp (analyze.py:77-81)."""
    vals = [round(40 + 0.37 * i, 2) for i in range(n)]
    rows = [
        ("USD", v, "x", START + _dt.timedelta(days=i), v * 100)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "cc string, rate double, txt string, exchangedate date, rate_per_100 double"
    )
    res = run_queries(spark, df, today=str(START + _dt.timedelta(days=n)))
    expect = vals[-1] - vals[len(vals) - min(n, 31)]
    assert res["usd_change_month"][0]["diff_usd"] == pytest.approx(expect)


@given(
    lengths=st.fixed_dictionaries({cc: st.integers(0, 45) for cc in ("USD", "EUR", "GBP")}),
    cut=st.integers(0, 61),
    rnd=st.randoms(use_true_random=False),
)
@_PROP_SETTINGS
def test_fused_queries_match_reference_sql(spark, lengths, cut, rnd):
    """run_queries' one grouped scan gives the 11 reference SQL strings'
    answers on any warehouse: 0-3 currencies, empty and under-31-day
    histories with gaps, and a `today` whose 365-day window drops the
    first `cut` days."""
    rows = [
        (cc, v, "x", START + _dt.timedelta(days=day), v * 100)
        for cc, n in lengths.items()
        for day in rnd.sample(range(61), n)
        for v in [rnd.uniform(1, 100)]
    ]
    df = spark.createDataFrame(
        rows, "cc string, rate double, txt string, exchangedate date, rate_per_100 double"
    )
    today = str(START + _dt.timedelta(days=365 + cut))
    assert_same_answers(run_queries(spark, df, today=today), oracle_queries(spark, df, today))


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe searches a strict superset of the single-probe bucket,
    so its best hit is at least as similar as single-probe's best."""
    from currency_etl_spark.queries.vectors import knn_lsh, knn_lsh_multiprobe

    single = knn_lsh(spark, sf_dir).collect()
    multi = knn_lsh_multiprobe(spark, sf_dir).collect()
    assert multi and single
    assert multi[0]["cos_sim"] >= single[0]["cos_sim"]
    # and the probe distances are only 0 (same bucket) or 1 (one bit away)
    assert {r["probe_dist"] for r in multi} <= {0, 1}


def test_repetition_score_bounds(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import docs_repetition_score

    rows = docs_repetition_score(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["rep_ratio"] <= 1.0
        assert r["n_distinct"] <= r["n_shingles"]


def test_pii_scrub_masks_are_stable(spark, sf_dir):
    """Scrubbing is idempotent: mask tokens themselves never match the
    patterns, so a second pass changes nothing (no double-masking)."""
    import re

    from currency_etl_spark.queries.llm_ops import PII_EMAIL, PII_LONGNUM

    for mask in ("<EMAIL>", "<NUM>"):
        assert not re.search(PII_EMAIL, mask)
        assert not re.search(PII_LONGNUM, mask)
    # spot-check on real masked output: re-masking is a fixpoint
    sample = "contact a@b.com or 1234567 twice: c.d@e.org 7654321"
    once = re.sub(PII_LONGNUM, "<NUM>", re.sub(PII_EMAIL, "<EMAIL>", sample))
    twice = re.sub(PII_LONGNUM, "<NUM>", re.sub(PII_EMAIL, "<EMAIL>", once))
    assert once == twice and "<EMAIL>" in once and "<NUM>" in once


def test_scd2_history_time_travel_reconstruction(spark, sf_dir):
    """State-at-T from the SCD2 history (the open interval covering T) must
    equal the event_type of the user's last event at-or-before T — for any
    probe instant. Compression (dropping no-op changes) must not lose
    information."""
    from currency_etl_spark.queries.extras import events_scd2_history
    from currency_etl_spark.sources import table

    hist = events_scd2_history(spark, sf_dir).cache()
    events = table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = hi - lo
    for frac in (0.25, 0.5, 0.9):
        t = lo + span * frac
        from_hist = (
            hist.filter((F.col("valid_from") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t)))
            .select("user_id", "event_type")
        )
        from_events = (
            events.filter(F.col("ts") <= t)
            .groupBy("user_id")
            .agg(F.max_by("event_type", F.struct("ts", "event_id")).alias("event_type"))
        )
        diff = from_hist.exceptAll(from_events).union(from_events.exceptAll(from_hist))
        assert diff.count() == 0, f"state mismatch at {t}"
    hist.unpersist()


def test_scd2_history_intervals_are_well_formed(spark, sf_dir):
    """Per user: exactly one open row, versions contiguous from 1, each
    interval's valid_to equals the next version's valid_from, and no
    consecutive intervals share an event_type (maximal compression)."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.extras import events_scd2_history

    hist = events_scd2_history(spark, sf_dir).cache()
    per_user = hist.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_open"),
        F.count("*").alias("n"),
        F.max("version").alias("vmax"),
        F.min("version").alias("vmin"),
    )
    bad = per_user.filter(
        (F.col("n_open") != 1) | (F.col("vmin") != 1) | (F.col("vmax") != F.col("n"))
    )
    assert bad.count() == 0
    w = W.partitionBy("user_id").orderBy("version")
    chained = hist.select(
        "user_id", "event_type", "valid_from", "valid_to",
        F.lead("valid_from").over(w).alias("next_from"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_from").isNotNull())
    assert chained.filter(F.col("valid_to") != F.col("next_from")).count() == 0
    assert chained.filter(F.col("event_type") == F.col("next_type")).count() == 0
    hist.unpersist()


def test_snapshot_diff_counts_reconcile(spark, sf_dir):
    """added + removed + changed + unchanged must reconcile with the two
    snapshot cardinalities: |new| = added + changed + unchanged and
    |old| = removed + changed + unchanged."""
    from currency_etl_spark.queries.extras import orders_snapshot_diff
    from currency_etl_spark.sources import table

    rows = {r["change_type"]: r["n_rows"] for r in orders_snapshot_diff(spark, sf_dir).collect()}
    o = table(spark, sf_dir, "orders").select(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 7), 16, 10)
        .cast("long")
        .alias("k")
    )
    n_old = o.filter(F.col("k") % 19 != 0).count()
    n_new = o.filter(F.col("k") % 17 != 0).count()
    assert n_new == rows.get("added", 0) + rows.get("changed", 0) + rows.get("unchanged", 0)
    assert n_old == rows.get("removed", 0) + rows.get("changed", 0) + rows.get("unchanged", 0)


@given(
    vals=st.lists(
        st.integers(-(2**40), 2**40), min_size=2, max_size=60
    )
)
@_PROP_SETTINGS
def test_distributed_rank_property(spark, vals):
    """distributed_global_rank == sorted-position rank for any value list
    (duplicates allowed; tiebreak by id)."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, k long")
    got = {
        r["event_id"]: r["rank"]
        for r in distributed_global_rank(df, "k", "event_id").collect()
    }
    want = {
        eid: i + 1
        for i, (eid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == want


@given(
    vals=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=60),
    k=st.integers(1, 7),
)
@_PROP_SETTINGS
def test_distributed_ntile_property(spark, vals, k):
    """distributed_ntile == SQL NTILE(k) over (key, tiebreak) for any
    value list and tile count — including n < k, exact-multiple n, and
    duplicate keys. Reference semantics: base = n div k rows per tile,
    the first n mod k tiles one row larger."""
    from currency_etl_spark.queries.extras import distributed_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, k long")
    got = {
        r["event_id"]: r["tile"]
        for r in distributed_ntile(df, k, F.col("k"), "event_id", "tile").collect()
    }
    n = len(rows)
    base, rem = n // k, n % k
    want = {}
    for pos, (eid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0]))):
        if pos < rem * (base + 1):
            want[eid] = pos // (base + 1) + 1
        else:
            want[eid] = rem + (pos - rem * (base + 1)) // base + 1
    assert got == want
