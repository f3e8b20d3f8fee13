"""Behaviour invariants of extras entries beyond their oracle rows: the
mergeable quantile rollup, the bigram surprisal score, the distributed
rank, the z-order layout, the row checksum, the hourly interpolation, the
type correlation, the RFM segments and the Pareto curve. (Value-vs-oracle
coverage lives in test_oracle.py like every entry.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from currency_etl_spark.sources import table


def test_quantile_rollup_bins_contain_kth_order_stat(spark, sf_dir):
    """The merged-histogram p50/p95 bin must contain the exact ceil(q*n)-th
    order statistic — the guarantee that makes bin-resolution quantiles
    usable: error ≤ one bin width, never a wrong bin."""
    from currency_etl_spark.queries.extras import HIST_BIN_WIDTH, events_quantile_rollup

    got = events_quantile_rollup(spark, sf_dir).toPandas().set_index("event_type")
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    for etype, grp in ev.groupby("event_type"):
        vals = sorted(grp["value"])
        n = len(vals)
        for q, col in ((50, "p50_bin_lo"), (95, "p95_bin_lo")):
            kth = vals[(q * n + 99) // 100 - 1]  # ceil(q%·n)-th order stat
            lo = got.loc[etype, col]
            assert lo <= kth < lo + HIST_BIN_WIDTH, (etype, q, kth, lo)


def test_quantile_rollup_merge_is_lossless(spark, sf_dir):
    """Summing the daily summaries reproduces direct whole-period binning."""
    from currency_etl_spark.queries.extras import HIST_BIN_WIDTH

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
    )
    two_level = (
        e.groupBy("d", "event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("event_type", "bin")
        .agg(F.sum("n").alias("n"))
    )
    direct = e.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, two_level.collect())) == sorted(map(tuple, direct.collect()))


def test_bigram_surprisal_python_reference(spark, sf_dir):
    """Recompute a handful of docs' scores from raw text in pure Python."""
    from currency_etl_spark.queries.llm_ops import docs_bigram_surprisal

    got = docs_bigram_surprisal(spark, sf_dir).toPandas().set_index("doc_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()

    def bigrams(text):
        t = text.split(" ")
        return {f"{a} {b}" for a, b in zip(t, t[1:])}

    per_doc = {row.doc_id: bigrams(row.text) for row in docs.itertuples()}
    per_doc = {d: bg for d, bg in per_doc.items() if bg}
    df_counts: dict[str, int] = {}
    for bg in per_doc.values():
        for g in bg:
            df_counts[g] = df_counts.get(g, 0) + 1
    n_docs = len(per_doc)
    ilog2 = lambda x: x.bit_length() - 1  # noqa: E731
    for doc_id in list(per_doc)[:10]:
        bg = per_doc[doc_id]
        ssum = sum(ilog2(n_docs) - ilog2(df_counts[g]) for g in bg)
        novel = sum(1 for g in bg if df_counts[g] == 1)
        row = got.loc[doc_id]
        assert row["n_bigrams"] == len(bg)
        assert row["novel_cnt"] == novel
        assert row["surprisal_sum"] == ssum
        assert math.isclose(row["mean_surprisal"], round(ssum / len(bg), 6), abs_tol=1e-9)


def test_distributed_rank_equals_global_window(spark, sf_dir):
    """The value-range-split rank must equal a plain global ROW_NUMBER —
    the property that lets the z-order audit (and any fixed-size file
    packing) avoid a single-task global window."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.extras import distributed_global_rank

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", F.unix_micros("ts").alias("us"))
    )
    got = distributed_global_rank(e, "us", "event_id").select("event_id", "rank")
    want = e.select(
        "event_id",
        F.row_number().over(W.orderBy("us", "event_id")).cast("long").alias("rank"),
    )
    assert got.join(want, ["event_id", "rank"], "inner").count() == e.count()


def test_zorder_narrows_user_span(spark):
    """At a corpus big enough for multi-user buckets, the Morton layout
    must narrow per-file user spans vs arrival order — the property the
    2-D skipping win rests on. (sf0.001's 4 buckets are too few to
    differentiate layouts, so this test pins sf0.01.)"""
    import os

    import pytest

    from currency_etl_spark.queries.extras import events_zorder_audit

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 corpus not present")
    m = events_zorder_audit(spark, sf01).toPandas().set_index("layout")
    assert m.loc["zorder", "avg_user_span"] < m.loc["linear", "avg_user_span"]
    assert m.loc["zorder", "n_buckets"] == m.loc["linear", "n_buckets"]


def test_row_checksum_is_partition_invariant_and_mutation_sensitive(spark, sf_dir):
    """The fold must be invariant to physical layout (any repartitioning
    gives the same checksum) and sensitive to a single-row change — the
    two properties replica validation rests on."""
    from currency_etl_spark.queries.extras import CHECKSUM_MOD

    def checksum(df, cols):
        sig = (
            F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10)
            .cast("long")
            % CHECKSUM_MOD
        )
        return df.agg((F.sum(sig) % CHECKSUM_MOD).cast("long")).collect()[0][0]

    orders = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    base = checksum(orders, cols)
    assert checksum(orders.repartition(17), cols) == base
    assert checksum(orders.repartition(3, "o_orderstatus"), cols) == base
    # flip one row's status → different fingerprint
    mutated = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") == orders.agg(F.min("o_orderkey")).collect()[0][0],
               F.lit("__corrupt__")).otherwise(F.col("o_orderstatus")),
    )
    assert checksum(mutated, cols) != base


def test_hourly_interpolate_matches_python_reference(spark, sf_dir):
    """Interior gaps get exact linear interpolation; edges stay absent."""
    from currency_etl_spark.queries.extras import events_hourly_interpolate

    got = events_hourly_interpolate(spark, sf_dir).toPandas()
    assert got["is_interpolated"].sum() > 0  # non-vacuous at this SF
    import pandas as pd

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", "ts", "value")
        .toPandas()
    )
    ts = ev["ts"]
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    ev["h"] = ts.astype("datetime64[us]").dt.floor("h")
    etype = sorted(ev["event_type"].unique())[0]
    series = (
        ev[ev["event_type"] == etype]
        .groupby("h")["value"]
        .apply(lambda s: float(sum(round(v * 10000) for v in s)) / 10000)
    )
    sub = got[got["event_type"] == etype].set_index("hour")
    lo, hi = series.index.min(), series.index.max()
    hours = pd.date_range(lo, hi, freq="h")
    known = sorted(series.index)
    import bisect

    for h in hours:
        key = h.strftime("%Y-%m-%d %H:%M:%S")
        if h in series.index:
            assert abs(sub.loc[key, "value"] - series[h]) < 1e-6
            assert not sub.loc[key, "is_interpolated"]
        else:
            i = bisect.bisect_left(known, h)
            if i == 0 or i == len(known):
                assert key not in sub.index  # edge gaps absent
                continue
            ph, nh = known[i - 1], known[i]
            frac = (h - ph) / (nh - ph)
            want = series[ph] + (series[nh] - series[ph]) * frac
            assert abs(sub.loc[key, "value"] - round(want, 6)) < 1e-6, (key, want)
            assert sub.loc[key, "is_interpolated"]


def test_type_correlation_matches_numpy(spark, sf_dir):
    from currency_etl_spark.queries.extras import events_type_correlation

    import numpy as np
    import pandas as pd

    got = events_type_correlation(spark, sf_dir).toPandas()
    assert len(got) > 0
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", "ts", "value")
        .toPandas()
    )
    ts = ev["ts"]
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    ev["d"] = ts.astype("datetime64[us]").dt.floor("D")
    daily = ev.groupby(["event_type", "d"])["value"].sum().unstack(fill_value=0.0)
    days = pd.date_range(daily.columns.min(), daily.columns.max(), freq="D")
    daily = daily.reindex(columns=days, fill_value=0.0)
    for row in got.itertuples():
        r = np.corrcoef(daily.loc[row.type_a], daily.loc[row.type_b])[0, 1]
        assert abs(row.corr - r) < 1e-4, (row.type_a, row.type_b, row.corr, r)
        assert row.n_days == len(days)


def test_rfm_segments_partition_all_customers(spark, sf_dir):
    from currency_etl_spark.queries.extras import customers_rfm_segments

    got = customers_rfm_segments(spark, sf_dir).toPandas()
    orders = table(spark, sf_dir, "orders")
    assert got["n_customers"].sum() == orders.select("o_custkey").distinct().count()
    assert got["n_orders"].sum() == orders.count()
    assert set(got["segment"]).issubset(
        {"champion", "loyal", "at_risk", "hibernating", "regular"}
    )


def test_pareto_curve_monotone_and_complete(spark, sf_dir):
    from currency_etl_spark.queries.extras import parts_revenue_pareto

    got = parts_revenue_pareto(spark, sf_dir).toPandas().sort_values("decile")
    li = table(spark, sf_dir, "lineitem")
    assert got["n_parts_in_decile"].sum() == li.select("l_partkey").distinct().count()
    shares = list(got["cum_share"])
    assert all(a <= b for a, b in zip(shares, shares[1:]))  # monotone
    assert abs(shares[-1] - 1.0) < 1e-9  # the full curve covers all revenue
    # concentration: the top decile out-earns the bottom decile
    top = got[got["decile"] == 0]["decile_revenue"].iloc[0]
    bot = got[got["decile"] == got["decile"].max()]["decile_revenue"].iloc[0]
    assert top > bot
