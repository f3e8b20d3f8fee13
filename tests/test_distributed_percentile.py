"""_exact_percentiles_distributed must be BIT-IDENTICAL to Spark's builtin
percentile() — it exists purely so the exact interpolated boundaries can be
computed without the builtin's single-node value-map merge (the 100 TB
bottleneck lineitem_equidepth_histogram avoids). Bit-identity is
the whole contract: the histogram entry compares rows against the boundary
doubles, so an ulp of drift could flip a row's bucket and break the DuckDB
oracle hash."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from currency_etl_spark.queries.extras import (
    EQUIDEPTH_BUCKETS,
    _exact_percentiles_distributed,
)
from currency_etl_spark.sources import table


def _bits(xs):
    return [struct.pack("<d", float(x)) for x in xs]


def _builtin(df, col, qs):
    arr = F.array(*[F.lit(q) for q in qs])
    return df.agg(F.percentile(col, arr)).collect()[0][0]


def test_matches_builtin_on_lineitem(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price")
    )
    qs = [i / EQUIDEPTH_BUCKETS for i in range(1, EQUIDEPTH_BUCKETS)]
    mine = _exact_percentiles_distributed(li, "price", qs)
    want = _builtin(li, "price", qs)
    assert _bits(mine) == _bits(want)


def test_matches_builtin_small_and_tied(spark):
    # n=1 (every position collapses to the single row), heavy ties (local
    # rank among equal keys must not change the selected value), and a
    # 2-decimal grid where interpolation lands exactly between cents
    cases = [
        [7.25],
        [1.00, 1.00, 1.00, 1.00],
        [0.01, 0.02, 0.02, 0.02, 99.99, 100.00],
        [float(x) / 4 for x in range(17)],
    ]
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "price double").repartition(4)
        mine = _exact_percentiles_distributed(df, "price", qs)
        want = _builtin(df, "price", qs)
        assert _bits(mine) == _bits(want), vals


def test_empty_input_yields_nans(spark):
    df = spark.createDataFrame([], "price double")
    out = _exact_percentiles_distributed(df, "price", [0.5, 0.9])
    assert len(out) == 2 and all(x != x for x in out)


def test_skewed_split_recursion_matches_builtin(spark):
    """Force the skew path: 95% of rows sit in a band 1/1000th of the key
    range, so the first-level histogram routes the median ranks into one
    bloated split; with max_window_rows far below its count the helper
    must re-split that split's subrange (several levels) and still return
    the builtin's exact doubles. Also covers the unsplittable floor: a
    one-key run larger than max_window_rows terminates via width == 1."""
    rows = [(round(100.0 + (i % 50) * 0.01, 2),) for i in range(9500)]
    rows += [(round(float(1 + i * 997 % 100000) / 100, 2),) for i in range(500)]
    df = spark.createDataFrame(rows, "price double").repartition(8)
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    mine = _exact_percentiles_distributed(df, "price", qs, max_window_rows=64)
    want = _builtin(df, "price", qs)
    assert _bits(mine) == _bits(want)

    # degenerate: every row one key — the single split can't range-split
    # and must resolve as the width-1 terminal despite exceeding the cap
    const = spark.createDataFrame([(7.25,)] * 300, "price double").repartition(4)
    mine_c = _exact_percentiles_distributed(const, "price", qs, max_window_rows=10)
    want_c = _builtin(const, "price", qs)
    assert _bits(mine_c) == _bits(want_c)


def _row_number(df, key="k", tiebreak="tb"):
    """The semantic spec: ROW_NUMBER() OVER (ORDER BY key, tiebreak) —
    one unpartitioned window, fine at test sizes."""
    from pyspark.sql import Window as W

    return df.withColumn(
        "rank", F.row_number().over(W.orderBy(key, tiebreak)).cast("long")
    )


def _ranks(df, key="k", tiebreak="tb"):
    """(key, tiebreak, rank) rows sorted by rank — NULL-safe, unlike a
    plain tuple sort."""
    return sorted(
        (tuple(r) for r in df.select(key, tiebreak, "rank").collect()),
        key=lambda r: r[2],
    )


def _assert_rank_is_row_number(df, key="k", tiebreak="tb"):
    from currency_etl_spark.queries.extras import distributed_global_rank

    got = _ranks(distributed_global_rank(df, key, tiebreak), key, tiebreak)
    assert got == _ranks(_row_number(df, key, tiebreak), key, tiebreak)
    return got


def _partitions_by_key(df, key="k", tiebreak="tb"):
    """{key: set of range partitions its ranked rows sit in}, read at 4
    shuffle partitions with AQE's post-shuffle coalescing off, so the
    sort's range partitions are the partitions observed (coalescing only
    ever merges small ones)."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    spark = df.sparkSession
    confs = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {c: spark.conf.get(c) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        rows = (
            distributed_global_rank(df, key, tiebreak)
            .select(key, F.spark_partition_id().alias("pid"))
            .collect()
        )
    finally:
        for c, v in old.items():
            spark.conf.set(c, v)
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], set()).add(r["pid"])
    return out


def test_adaptive_global_rank_matches_plain_row_number(spark):
    """distributed_global_rank assigns exactly the ranks of ROW_NUMBER()
    OVER (ORDER BY key, tiebreak) on a skewed key: 90% of keys jammed into
    [1000, 1049], a 500-row single-key spike at 1020 and a sparse tail out
    to 10^9."""
    rows = [(1000 + (i * 7) % 50, i) for i in range(4000)]
    rows += [(1020, 100000 + i) for i in range(500)]
    rows += [((i * 997) % 1000000000, 200000 + i) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)
    got = _assert_rank_is_row_number(df)
    assert [r[2] for r in got] == list(range(1, len(rows) + 1))


def test_adaptive_rank_extreme_span_segmented_path(spark):
    """Keys AND tiebreaks spanning both int64 ends rank exactly: the
    sort compares values, it never subtracts them, so no span can
    overflow. Covers a hot key whose ties spread over the whole int64
    tiebreak domain and a NULL-key block with tiebreaks at both ends."""
    lo, hi = -(2**63), 2**63 - 1
    rows = [(lo, 0), (lo + 1, 1), (hi, 2), (hi - 1, 3), (0, 4), (-1, 5)]
    rows += [(2**62 + i * (2**56), 100 + i) for i in range(40)]
    rows += [(2**62, 1000 + i) for i in range(20)]
    # hot key 5: ties across the whole int64 tiebreak domain
    rows += [(5, lo + i * (hi // 12)) for i in range(24)]
    rows += [(5, hi - i) for i in range(4)]
    # NULL-key block with tiebreaks at both extremes
    rows += [(None, lo + i * (hi // 9)) for i in range(18)]
    rows += [(None, hi), (None, hi - 7)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    _assert_rank_is_row_number(df)


def test_adaptive_rank_property_random_keys(spark):
    """Property: for arbitrary key multisets — negative keys, huge gaps,
    heavy ties — the rank is exactly ROW_NUMBER() OVER (ORDER BY key,
    tiebreak). Hypothesis drives the key distribution and the input
    partition count; example count is small because each example runs
    real Spark jobs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        keys=st.lists(
            st.integers(min_value=-(10**12), max_value=10**12),
            min_size=1,
            max_size=60,
        ),
        parts=st.integers(min_value=1, max_value=8),
    )
    @settings(derandomize=True, max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def check(keys, parts):
        df = spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)], "k long, tb long"
        ).repartition(parts)
        _assert_rank_is_row_number(df)

    check()


def test_global_rank_null_keys_rank_first_both_paths(spark):
    """NULL keys must not vanish: ROW_NUMBER semantics under Spark's ASC
    default put NULLs FIRST, ordered by tiebreak. A mixed relation and
    an all-NULL one both equal the plain global ROW_NUMBER and keep every
    row."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(k, i) for i, k in enumerate([5, None, 17, None, 5, 1000, None, -3])]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    got = _assert_rank_is_row_number(df)
    assert [r[0] for r in got[:3]] == [None, None, None]
    all_null = spark.createDataFrame(
        [(None, i) for i in range(6)], "k long, tb long"
    ).repartition(3)
    got = sorted(
        (r["tb"], r["rank"])
        for r in distributed_global_rank(all_null, "k", "tb").collect()
    )
    assert got == [(i, i + 1) for i in range(6)]


def test_distributed_ntile_null_keys_and_total(spark):
    """distributed_ntile must keep NULL-key rows (tile 1 first — Spark
    NTILE over ASC NULLS FIRST) and compute tile boundaries against the
    TRUE row count. Pin against Spark's own ntile."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.extras import distributed_ntile

    rows = [(k, i) for i, k in enumerate([9, None, 3, 7, None, 42, 0, 11, 5, 2])]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(3)
    by_tb = lambda r: r["tb"]  # noqa: E731 — None keys break tuple sort
    want = sorted(
        df.withColumn("q", F.ntile(4).over(W.orderBy("k", "tb")))
        .select("k", "tb", "q")
        .collect(),
        key=by_tb,
    )
    got = sorted(
        distributed_ntile(df, 4, F.col("k"), "tb", "q").select("k", "tb", "q").collect(),
        key=by_tb,
    )
    assert got == want
    assert len(got) == len(rows)  # every input row present exactly once


def test_hot_key_tie_run_splits_on_tiebreak(spark):
    """A hot key's tie run is not one task's sort: the range partitioner
    samples the composite (key, tiebreak) order, so the run of key 7
    (900 of 910 rows) spreads over several range partitions by its
    tiebreak — and the ranks still equal plain ROW_NUMBER."""
    rows = [(7, i) for i in range(900)]
    rows += [(3, 10000 + i) for i in range(5)]
    rows += [(9, 20000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)
    _assert_rank_is_row_number(df)
    assert len(_partitions_by_key(df)[7]) >= 2


def test_rank_leaves_no_persisted_rdd(spark):
    """The sequence id caches the sorted RDD while it counts partition
    sizes; the cache must be released when the query ends, so repeated
    rank calls (collect, count, a noop write, a downstream aggregate)
    leave the context's persistent RDDs unchanged."""
    from currency_etl_spark.queries.extras import distributed_global_rank, distributed_ntile

    df = spark.createDataFrame(
        [(i % 13, i) for i in range(2000)], "k long, tb long"
    ).repartition(4)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for _ in range(2):
        distributed_global_rank(df, "k", "tb").collect()
        distributed_global_rank(df, "k", "tb", with_total=True).count()
        distributed_global_rank(df, "k", "tb").write.format("noop").mode("overwrite").save()
        distributed_ntile(df, 4, F.col("k"), "tb", "q").groupBy("q").count().collect()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before


def test_hot_key_null_tiebreaks_fall_back_without_row_drop(spark):
    """A hot key whose ties include NULL tiebreaks loses no row: every
    input row appears exactly once with plain ROW_NUMBER's rank (NULLS
    FIRST tiebreak order)."""
    rows = [(7, i) for i in range(200)] + [(7, None), (7, None), (2, 1), (11, 1)]
    from currency_etl_spark.queries.extras import distributed_global_rank

    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    got = _ranks(distributed_global_rank(df, "k", "tb"))
    want = _ranks(_row_number(df))
    assert len(got) == len(rows)
    # the two (7, NULL) rows tie on (key, tiebreak): either may take
    # either rank, so compare the (key, tiebreak) at each rank
    assert [r[:2] for r in got] == [r[:2] for r in want]


def test_hot_key_single_tiebreak_value_is_terminal(spark):
    """Degenerate: a hot key whose ties also tie on the tiebreak — ranks
    within the run are then arbitrary but must be a permutation of the
    ROW_NUMBER range, and the other keys' ranks must be exact."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(5, 42)] * 100 + [(1, 1), (9, 9)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    got = distributed_global_rank(df, "k", "tb")
    by_key = {}
    for r in got.collect():
        by_key.setdefault(r["k"], []).append(r["rank"])
    assert by_key[1] == [1]
    assert sorted(by_key[5]) == list(range(2, 102))
    assert by_key[9] == [102]


def test_hot_key_string_tiebreak_falls_back(spark):
    """A STRING tiebreak orders a hot key's ties bytewise, exactly as
    ROW_NUMBER over (key, string tiebreak) does."""
    rows = [(7, f"u{i:04d}") for i in range(120)] + [(1, "a"), (9, "z")]
    df = spark.createDataFrame(rows, "k long, tb string").repartition(4)
    _assert_rank_is_row_number(df)


def test_tb_split_property_small_domain_keys(spark):
    """Property: tiny key domains make every key hot — the rank must
    still equal ROW_NUMBER() OVER (ORDER BY key, tiebreak) for arbitrary
    key multisets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        keys=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=50),
        parts=st.integers(min_value=1, max_value=6),
    )
    @settings(derandomize=True, max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    def check(keys, parts):
        df = spark.createDataFrame(
            [(k, i * 7 % 1000) for i, k in enumerate(keys)], "k long, tb long"
        ).repartition(parts)
        _assert_rank_is_row_number(df)

    check()


def test_corpus_scale_skewed_ntile_matches_builtin(spark, sf_dir):
    """Corpus skew rehearsal: per-customer order counts are a
    small-domain, low-end-heavy key (many customers share frequency
    1-3). The distributed ntile must equal SQL NTILE over (key, custkey)
    on the actual corpus."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.extras import distributed_ntile
    from currency_etl_spark.sources import table

    freq = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    got = {
        r["o_custkey"]: r["q"]
        for r in distributed_ntile(freq, 4, F.col("f"), "o_custkey", "q").collect()
    }
    want = {
        r["o_custkey"]: r["q"]
        for r in freq.withColumn(
            "q", F.ntile(4).over(W.orderBy("f", "o_custkey"))
        ).collect()
    }
    assert got == want and len(got) > 0
    # the corpus really is skewed: some frequency is shared by many
    # customers (sf0.001: ~20 share one)
    n_max = freq.groupBy("f").count().agg(F.max("count")).collect()[0][0]
    assert n_max > 8, n_max


def test_adaptive_rank_null_block_segments_on_tiebreak(spark):
    """A majority-NULL key ranks first, ordered by its tiebreak, and the
    NULL block is no single task's sort: it spreads over several range
    partitions by the tiebreak. A DOUBLE tiebreak ranks the same."""
    rows = [(None, i) for i in range(900)]
    rows += [(int(i % 37), 1000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)
    got = _assert_rank_is_row_number(df)
    assert len(_partitions_by_key(df)[None]) >= 2
    dfd = df.withColumn("tb", F.col("tb").cast("double"))
    gotd = _assert_rank_is_row_number(dfd)
    assert [(k, int(t), r) for k, t, r in gotd] == got


def test_deciles_telescoping_matches_per_row_lag(spark):
    """r8 telescoping claim, pinned independently of the DuckDB oracle:
    on random 2-decimal prices (including exact ties and a tiny relation)
    the telescoped order_value_deciles result must equal a literal
    per-row ntile/lag/lead computation in Spark itself."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rnd = random.Random(8)
    for n in (1, 7, 400):
        prices = [round(rnd.uniform(1.0, 600000.0), 2) for _ in range(n)]
        # force tie runs: every 5th price repeats the previous one
        for i in range(5, n, 5):
            prices[i] = prices[i - 1]
        rows = [(i + 1, p) for i, p in enumerate(prices)]
        df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
        import tempfile, os

        d = tempfile.mkdtemp(prefix="deciles_prop_")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        from currency_etl_spark.queries.extras import order_value_deciles

        got = sorted(map(tuple, order_value_deciles(spark, d).collect()))
        w = W.orderBy("o_totalprice", "o_orderkey")
        t = df.select(
            "o_orderkey",
            "o_totalprice",
            F.ntile(10).over(w).alias("decile"),
            F.round(
                F.coalesce(F.col("o_totalprice") - F.lag("o_totalprice").over(w), F.lit(0.0)), 6
            ).alias("step_up"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        want = sorted(
            map(
                tuple,
                t.groupBy("decile")
                .agg(
                    F.count("*").alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
                    F.round(F.sum(F.col("step_up").cast("decimal(18,6)")).cast("double"), 6).alias("sum_steps"),
                    F.count("next_orderkey").alias("n_with_next"),
                )
                .collect(),
            )
        )
        assert got == want, (n, got[:3], want[:3])


def test_adaptive_rank_string_tiebreak_splits(spark):
    """STRING tiebreaks: a majority-NULL key block and a hot non-null key
    with unique string ties rank exactly as ROW_NUMBER() OVER (ORDER BY
    k, tb), and both runs spread over several range partitions; NULL
    string tiebreaks lose no row."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(None, f"n{i:05d}x") for i in range(900)]
    rows += [(7, f"h{i:05d}") for i in range(500)]
    rows += [(int(i % 11) + 100, f"c{i:04d}") for i in range(50)]
    df = spark.createDataFrame(rows, "k long, tb string").repartition(8)
    _assert_rank_is_row_number(df)
    parts = _partitions_by_key(df)
    assert len(parts[None]) >= 2 and len(parts[7]) >= 2, parts
    df2 = spark.createDataFrame(
        [(None, None), (None, "a"), (1, "b")], "k long, tb string"
    )
    got2 = distributed_global_rank(df2, "k", "tb").collect()
    assert sorted(r["rank"] for r in got2) == [1, 2, 3]
