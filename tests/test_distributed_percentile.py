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
    bloated split; with max_split_rows far below its count the helper
    must re-split that split's subrange (several levels) and still return
    the builtin's exact doubles. Also covers the unsplittable floor: a
    one-key run larger than max_split_rows terminates via width == 1."""
    rows = [(round(100.0 + (i % 50) * 0.01, 2),) for i in range(9500)]
    rows += [(round(float(1 + i * 997 % 100000) / 100, 2),) for i in range(500)]
    df = spark.createDataFrame(rows, "price double").repartition(8)
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    mine = _exact_percentiles_distributed(df, "price", qs, max_split_rows=64)
    want = _builtin(df, "price", qs)
    assert _bits(mine) == _bits(want)

    # degenerate: every row one key — the single split can't range-split
    # and must resolve as the width-1 terminal despite exceeding the cap
    const = spark.createDataFrame([(7.25,)] * 300, "price double").repartition(4)
    mine_c = _exact_percentiles_distributed(const, "price", qs, max_split_rows=10)
    want_c = _builtin(const, "price", qs)
    assert _bits(mine_c) == _bits(want_c)


def test_adaptive_global_rank_matches_plain_row_number(spark):
    """distributed_global_rank under a low max_split_rows must
    assign exactly the ranks of ROW_NUMBER() OVER (ORDER BY key, tiebreak)
    while bounding every segment to the cap (single-key runs excepted)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import (
        _refine_segments,
        distributed_global_rank,
    )

    # 90% of keys jammed into [1000, 1049], a 500-row single-key spike at
    # 1020, and a sparse tail out to 10^9 — level-0 even splits put nearly
    # everything in one split
    rows = [(1000 + (i * 7) % 50, i) for i in range(4000)]
    rows += [(1020, 100000 + i) for i in range(500)]
    rows += [((i * 997) % 1000000000, 200000 + i) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)

    got = distributed_global_rank(df, "k", "tb", max_split_rows=256)
    want = df.withColumn(
        "rank", F.row_number().over(W.orderBy("k", "tb")).cast("long")
    )
    assert sorted(got.select("k", "tb", "rank").collect()) == sorted(
        want.select("k", "tb", "rank").collect()
    )

    ext = df.agg(F.min("k"), F.max("k")).collect()[0]
    segs = _refine_segments(df, "k", [(ext[0], ext[1])], [], 256)
    # every multi-key segment respects the cap; only the 1020 spike's
    # single-key segment may exceed it
    for lo, hi, c in segs:
        assert c <= 256 or lo == hi, (lo, hi, c)
    assert sum(c for _, _, c in segs) == df.count()


def test_log_bucket_sql_matches_python_at_int64_edges(spark):
    """_log_bucket (driver-side, routes segments to their hash-join
    bucket) and _log_bucket_sql (per-row, the join key and the fast
    path's window partition) MUST agree on every int64 — a divergence
    silently drops rows from the rank join. Pin the edges the hypothesis
    property test (±1e12) never reaches, monotonicity across sign
    boundaries, and the full bucket-id range claim (1..128)."""
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import _log_bucket, _log_bucket_sql

    edges = [
        -(2**63), -(2**63) + 1, -(2**62), -(2**32), -3, -2, -1,
        0, 1, 2, 3, 2**32, 2**62, 2**63 - 1,
    ]
    df = spark.createDataFrame([(v,) for v in edges], "k long")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", F.expr(_log_bucket_sql("k")).alias("b")).collect()
    }
    for v in edges:
        assert got[v] == _log_bucket(v), (v, got[v], _log_bucket(v))
        assert 1 <= got[v] <= 128, (v, got[v])
    # monotone non-decreasing in key order => bucket ranges are disjoint
    buckets = [_log_bucket(v) for v in sorted(edges)]
    assert buckets == sorted(buckets)
    # NULL keys map to the NULL bucket (they take the sentinel segment)
    nb = (
        spark.createDataFrame([(None,)], "k long")
        .select(F.expr(_log_bucket_sql("k")).alias("b"))
        .collect()[0]["b"]
    )
    assert nb is None


def test_adaptive_rank_extreme_span_segmented_path(spark):
    """Force the SEGMENTED path (cap smaller than a bucket's population)
    on keys spanning both int64 extremes: refinement intervals nest
    inside single log-buckets (same sign, bounded span), so the
    `(key - lo) div w` split arithmetic can never overflow int64 even
    though kmax - kmin would. Ranks must equal the plain ROW_NUMBER."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    lo, hi = -(2**63), 2**63 - 1
    rows = [(lo, 0), (lo + 1, 1), (hi, 2), (hi - 1, 3), (0, 4), (-1, 5)]
    # populate one bucket past the cap so refinement actually runs:
    # bucket of [2^62, 2^63-1] gets 40 spread keys (cap=8 below)
    rows += [(2**62 + i * (2**56), 100 + i) for i in range(40)]
    # and a hot single key beyond the cap to cross tb-splitting with
    # the extreme-span layout
    rows += [(2**62, 1000 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)

    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=8)
        .select("k", "tb", "rank")
        .collect()
    )
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect()
    )
    assert got == want


def test_adaptive_rank_property_random_keys(spark):
    """Property: for arbitrary key multisets — negative keys, huge gaps,
    heavy ties — the adaptive path assigns exactly ROW_NUMBER() OVER
    (ORDER BY key, tiebreak). Hypothesis drives the key distribution;
    example count is small because each example runs real Spark jobs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    @given(
        keys=st.lists(
            st.integers(min_value=-(10**12), max_value=10**12),
            min_size=1,
            max_size=60,
        ),
        cap=st.integers(min_value=1, max_value=8),
    )
    @settings(derandomize=True, max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def check(keys, cap):
        df = spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)], "k long, tb long"
        )
        got = sorted(
            distributed_global_rank(df, "k", "tb", max_split_rows=cap)
            .select("k", "tb", "rank")
            .collect()
        )
        want = sorted(
            df.withColumn(
                "rank", F.row_number().over(W.orderBy("k", "tb")).cast("long")
            )
            .select("k", "tb", "rank")
            .collect()
        )
        assert got == want

    check()


def test_global_rank_null_keys_rank_first_both_paths(spark):
    """NULL keys must not vanish: ROW_NUMBER semantics under Spark's ASC
    default put NULLs FIRST (ordered by tiebreak), ranked as their own
    leading block (a NULL key would fall out of the segment equi-join —
    the silent row-drop this pins). Both paths — the default cap, where
    every log-bucket fits and ranks by its own window, and a tiny cap,
    which forces the segmented join and a split NULL block — must equal
    the plain global ROW_NUMBER and preserve the row count; the all-NULL
    degenerate relation must also survive."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(k, i) for i, k in enumerate([5, None, 17, None, 5, 1000, None, -3])]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    by_tb = lambda r: r["tb"]  # noqa: E731 — None keys break tuple sort
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    for kwargs in ({}, {"max_split_rows": 2}):
        got = sorted(
            distributed_global_rank(df, "k", "tb", **kwargs)
            .select("k", "tb", "rank")
            .collect(),
            key=by_tb,
        )
        assert got == want, kwargs
    # all-NULL keys: the null block IS the relation (the no-buckets
    # branch)
    all_null = spark.createDataFrame(
        [(None, i) for i in range(6)], "k long, tb long"
    )
    for kwargs in ({}, {"max_split_rows": 3}):
        got = sorted(
            (r["tb"], r["rank"])
            for r in distributed_global_rank(all_null, "k", "tb", **kwargs).collect()
        )
        assert got == [(i, i + 1) for i in range(6)], kwargs


def test_distributed_ntile_null_keys_and_total(spark):
    """distributed_ntile must keep NULL-key rows (tile 1 first — Spark
    NTILE over ASC NULLS FIRST) and compute tile boundaries against the
    TRUE row count. Before the with_total rewiring the NULL rows were
    dropped by the rank join while still inflating the count — every
    boundary shifted. Pin against Spark's own ntile."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

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
    """A single-key run larger than the cap — the old unsplittable floor
    — must re-split on the integer tiebreak: every resulting segment
    holds <= cap rows, and the end-to-end ranks still equal plain
    ROW_NUMBER. This is the skew case that matters for small-domain ntile
    keys (frequency=1 holding half the customers)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import (
        _tb_subsegments,
        distributed_global_rank,
    )

    # one hot key (7) with 900 tied rows, two cold keys around it
    rows = [(7, i) for i in range(900)]
    rows += [(3, 10000 + i) for i in range(5)]
    rows += [(9, 20000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)

    segs = _tb_subsegments(df, "k", "tb", [7], 64)
    assert list(segs) == [7]
    assert sum(c for _, _, c in segs[7]) == 900
    assert all(c <= 64 for _, _, c in segs[7]), segs[7]
    # intervals tile the tiebreak range in order without overlap
    bounds = [(lo, hi) for lo, hi, _ in segs[7]]
    assert bounds == sorted(bounds)
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(bounds, bounds[1:]))

    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=64)
        .select("k", "tb", "rank")
        .collect()
    )
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect()
    )
    assert got == want


def test_hot_key_null_tiebreaks_fall_back_without_row_drop(spark):
    """A hot key whose ties include NULL tiebreaks keeps the unsplittable
    floor (a NULL never passes a between-range join), and no row drops:
    every input row appears exactly once with plain ROW_NUMBER's rank
    (NULLS FIRST tiebreak order)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(7, i) for i in range(200)] + [(7, None), (7, None), (2, 1), (11, 1)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    got = distributed_global_rank(df, "k", "tb", max_split_rows=32)
    assert got.count() == len(rows)
    want = df.withColumn(
        "rank", F.row_number().over(W.orderBy("k", "tb")).cast("long")
    )
    key = lambda r: (r["k"], -1 if r["tb"] is None else 0, r["tb"] or 0)  # noqa: E731
    assert sorted(got.select("k", "tb", "rank").collect(), key=key) == sorted(
        want.select("k", "tb", "rank").collect(), key=key
    )


def test_hot_key_single_tiebreak_value_is_terminal(spark):
    """Degenerate: a hot key whose ties also tie on the tiebreak cannot
    split at all (width-1 terminal) — ranks within the run are then
    arbitrary but must still be a permutation of the ROW_NUMBER range,
    and the cold keys' ranks must be exact."""
    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(5, 42)] * 100 + [(1, 1), (9, 9)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    got = distributed_global_rank(df, "k", "tb", max_split_rows=10)
    by_key = {}
    for r in got.collect():
        by_key.setdefault(r["k"], []).append(r["rank"])
    assert by_key[1] == [1]
    assert sorted(by_key[5]) == list(range(2, 102))
    assert by_key[9] == [102]


def test_hot_key_string_tiebreak_falls_back(spark):
    """Non-integral tiebreaks can't range-split, so a hot key keeps the
    floor — and the join must not build a tiebreak-vs-bounds comparison
    at all (a string tiebreak would need a cross-type coercion there).
    Ranks must equal plain ROW_NUMBER over (key, string tiebreak)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    rows = [(7, f"u{i:04d}") for i in range(120)] + [(1, "a"), (9, "z")]
    df = spark.createDataFrame(rows, "k long, tb string").repartition(4)
    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=16)
        .select("k", "tb", "rank")
        .collect()
    )
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect()
    )
    assert got == want


def test_tb_split_property_small_domain_keys(spark):
    """Property: tiny key domains force every key hot at small caps —
    the tb-split path must still assign exactly ROW_NUMBER() OVER
    (ORDER BY key, tiebreak) for arbitrary key multisets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    @given(
        keys=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=50),
        cap=st.integers(min_value=1, max_value=6),
    )
    @settings(derandomize=True, max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    def check(keys, cap):
        df = spark.createDataFrame(
            [(k, i * 7 % 1000) for i, k in enumerate(keys)], "k long, tb long"
        )
        got = sorted(
            distributed_global_rank(df, "k", "tb", max_split_rows=cap)
            .select("k", "tb", "rank")
            .collect()
        )
        want = sorted(
            df.withColumn(
                "rank", F.row_number().over(W.orderBy("k", "tb")).cast("long")
            )
            .select("k", "tb", "rank")
            .collect()
        )
        assert got == want

    check()


def test_corpus_scale_skewed_ntile_matches_builtin(spark, sf_dir):
    """Full-corpus skew rehearsal: per-customer order counts are a
    small-domain, low-end-heavy key (many customers share frequency
    1-3), so a small cap forces real tiebreak sub-splits. The
    distributed ntile must equal SQL NTILE over (key, custkey) on the
    actual corpus, and every tb segment must respect the cap."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import (
        _tb_subsegments,
        distributed_ntile,
    )
    from currency_etl_spark.sources import table

    freq = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    cap = 8
    got = {
        r["o_custkey"]: r["q"]
        for r in distributed_ntile(
            freq, 4, F.col("f"), "o_custkey", "q", max_split_rows=cap
        ).collect()
    }
    want = {
        r["o_custkey"]: r["q"]
        for r in freq.withColumn(
            "q", F.ntile(4).over(W.orderBy("f", "o_custkey"))
        ).collect()
    }
    assert got == want and len(got) > 0

    # at least one frequency value is hot at this cap (sf0.001: ~20 customers share a frequency), and its tb
    # segments are all within bounds
    counts = {r["f"]: r["n"] for r in freq.groupBy("f").agg(F.count(F.lit(1)).alias("n")).collect()}
    hot = [k for k, n in counts.items() if n > cap]
    assert hot, f"corpus not skewed at cap={cap}? counts={counts}"
    segs = _tb_subsegments(freq.withColumn("__k", F.col("f")), "__k", "o_custkey", hot, cap)
    for k in hot:
        assert sum(c for _, _, c in segs[k]) == counts[k]
        assert all(c <= cap for _, _, c in segs[k])


def test_adaptive_rank_null_block_segments_on_tiebreak(spark):
    """A majority-NULL key whose block
    exceeds the cap must range-split on the integer TIEBREAK through
    _tb_subsegments — the rank path's last single-task floor — while
    assigning exactly the ranks of ROW_NUMBER() OVER (ORDER BY k, tb)
    (NULL keys first). A non-integral tiebreak keeps the documented
    single-task fallback with no row loss."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import (
        _tb_subsegments,
        distributed_global_rank,
    )

    rows = [(None, i) for i in range(900)]
    rows += [(int(i % 37), 1000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(8)
    by_tb = lambda r: r["tb"]  # noqa: E731 — None keys break tuple sort
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=128)
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    assert got == want
    # the device really splits: every NULL segment is cap-bounded and the
    # partition covers the whole block
    segs = _tb_subsegments(df.filter(F.col("k").isNull()), "k", "tb", [None], 128)[None]
    assert len(segs) >= 2, "NULL block did not split"
    assert all(c <= 128 for _, _, c in segs), segs
    assert sum(c for _, _, c in segs) == 900
    # non-integral tiebreak: single-task fallback, ranks still exact
    dfd = df.withColumn("tb", F.col("tb").cast("double"))
    gotd = sorted(
        distributed_global_rank(dfd, "k", "tb", max_split_rows=128)
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    assert [(r["k"], int(r["tb"]), r["rank"]) for r in gotd] == [
        (r["k"], r["tb"], r["rank"]) for r in want
    ]


def test_tb_subsegments_extreme_tiebreak_span(spark):
    """r8 overflow armor: a hot key (and the NULL-key block) whose
    TIEBREAK values span both int64 ends must still split and rank
    exactly — `tb - lo` in the split expression would overflow int64
    without the driver-side sign-halving of oversized intervals."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import distributed_global_rank

    lo, hi = -(2**63), 2**63 - 1
    # hot key 5: 24 ties spread across the whole int64 tiebreak domain
    rows = [(5, lo + i * (hi // 12)) for i in range(24)]
    rows += [(5, hi - i) for i in range(4)]
    # NULL-key block: 20 rows, tiebreaks at both extremes
    rows += [(None, lo + i * (hi // 9)) for i in range(18)]
    rows += [(None, hi), (None, hi - 7)]
    # background keys so buckets exist
    rows += [(i, 10**6 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "k long, tb long").repartition(4)
    by_tb = lambda r: (r["tb"], r["rank"])  # noqa: E731
    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=8)
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    assert got == want


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


def test_string_tiebreak_prefix_is_order_preserving(spark):
    """The 60-bit byte-prefix order image (_tb_order_expr) must be
    MONOTONE in Spark's bytewise string order — including the short-
    string pad case ('az' < 'b' must survive the mapping) and multibyte
    UTF-8 — since segment boundaries in the image must never split a
    string-ordered run out of order."""
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import _tb_order_expr

    vals = ["", "a", "az", "b", "ba", "zzzzzzzzzzzzzzzz", "zzzzzzzzzzzzzzzz!",
            "Ω", "é", "~", "0", "00", "0a", "aaaaaaaa", "aaaaaaab"]
    df = spark.createDataFrame([(v,) for v in vals], "tb string")
    tbx = _tb_order_expr(df, "tb")
    rows = df.select("tb", F.expr(tbx).alias("p")).collect()
    by_str = [r["p"] for r in sorted(rows, key=lambda r: r["tb"].encode("utf-8"))]
    assert by_str == sorted(by_str), list(zip(sorted(v.encode() for v in vals), by_str))
    # non-splittable types still return None (the documented floor)
    dfd = df.select(F.lit(1.5).alias("tb"))
    assert _tb_order_expr(dfd, "tb") is None


def test_adaptive_rank_string_tiebreak_splits(spark):
    """A majority-NULL key with a STRING
    tiebreak under the cap must range-split on the tiebreak's byte-prefix
    order image — no partitionBy(lit(0)) single-task fallback — while
    assigning exactly ROW_NUMBER() OVER (ORDER BY k, tb)'s ranks; the
    same applies to a hot non-null key with string ties."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from currency_etl_spark.queries.extras import (
        _tb_order_expr,
        _tb_subsegments,
        distributed_global_rank,
    )

    # majority-NULL key block (900 rows) + a hot non-null key (500 rows
    # of key 7) + cold keys, all with unique string tiebreaks
    rows = [(None, f"n{i:05d}x") for i in range(900)]
    rows += [(7, f"h{i:05d}") for i in range(500)]
    rows += [(int(i % 11) + 100, f"c{i:04d}") for i in range(50)]
    df = spark.createDataFrame(rows, "k long, tb string").repartition(8)
    by_tb = lambda r: r["tb"]  # noqa: E731 — None keys break tuple sort
    want = sorted(
        df.withColumn("rank", F.row_number().over(W.orderBy("k", "tb")).cast("long"))
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    got = sorted(
        distributed_global_rank(df, "k", "tb", max_split_rows=128)
        .select("k", "tb", "rank")
        .collect(),
        key=by_tb,
    )
    assert got == want
    # both the NULL block and the hot key really split, cap-bounded
    tbx = _tb_order_expr(df, "tb")
    nsegs = _tb_subsegments(
        df.filter(F.col("k").isNull()), "k", "tb", [None], 128, order_expr=tbx
    )[None]
    hsegs = _tb_subsegments(df, "k", "tb", [7], 128, order_expr=tbx)[7]
    for segs, n in ((nsegs, 900), (hsegs, 500)):
        assert len(segs) >= 2, "string tiebreak block did not split"
        assert all(c <= 128 for _, _, c in segs), segs
        assert sum(c for _, _, c in segs) == n
    # NULL-tiebreak ties keep the fallback with no row loss
    df2 = spark.createDataFrame(
        [(None, None), (None, "a"), (1, "b")], "k long, tb string"
    )
    got2 = distributed_global_rank(df2, "k", "tb", max_split_rows=1).collect()
    assert sorted(r["rank"] for r in got2) == [1, 2, 3]


def test_string_prefix_monotone_property(spark):
    """Hypothesis sweep of the r9 byte-prefix mapping: for ANY pair of
    strings, Spark-order(s1, s2) must never contradict prefix-order —
    the mapping is monotone (ties allowed when 7.5-byte prefixes agree).
    Checked in pure Python against the exact same arithmetic the SQL
    performs (hex, rpad to 15, base-16), which the engine-parity test
    above already ties to the Spark expression."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def prefix60(s: str) -> int:
        h = s.encode("utf-8").hex().upper()[:15]
        return int(h.ljust(15, "0"), 16)

    @given(st.text(max_size=24), st.text(max_size=24))
    @settings(derandomize=True, max_examples=300, deadline=None)
    def check(s1, s2):
        b1, b2 = s1.encode("utf-8"), s2.encode("utf-8")
        p1, p2 = prefix60(s1), prefix60(s2)
        if b1 < b2:
            assert p1 <= p2, (s1, s2)
        elif b1 > b2:
            assert p1 >= p2, (s1, s2)
        else:
            assert p1 == p2

    check()
