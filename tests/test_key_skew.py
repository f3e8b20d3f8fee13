"""events_key_skew invariants: a pure-python re-derivation (hashlib md5,
exact ints) must match bit-for-bit; the histogram must partition the
non-null-key rows and keys exactly; skew_ratio must be the max-over-ideal
multiplier (>= 1, == 1 at n_buckets=1); and the final plan must read the
checkpointed bucket histogram — zero parquet scans. The hot-key
aggregations (events_user_totals_salted, events_adaptive_salted_agg)
must equal the plain GROUP BY and combine each key map-side in the AQE
final plan."""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pandas as pd

from currency_etl_spark.queries.extras import SKEW_BUCKETS, events_key_skew
from tests.fixtures import final_plan_nodes, jobs_run_by, right_below_exchange

SF = "/root/testdata/sf0.001"


def _py_skew(pdf: pd.DataFrame, n_buckets: int = SKEW_BUCKETS) -> list[tuple]:
    keyed = Counter(int(u) for u in pdf.user_id.dropna())
    per: dict = defaultdict(lambda: [0, 0, 0])  # n_keys, n_rows, max_key
    for u, n in keyed.items():
        b = int(hashlib.md5(str(u).encode()).hexdigest()[:4], 16) % n_buckets
        acc = per[b]
        acc[0] += 1
        acc[1] += n
        acc[2] = max(acc[2], n)
    t = sum(a[1] for a in per.values())
    mx = max(a[1] for a in per.values())
    topk = max(a[2] for a in per.values())
    return [
        (
            b, a[0], a[1], a[2],
            round(a[1] / t, 6),
            round(mx * n_buckets / t, 6),
            round(topk / t, 6),
        )
        for b, a in sorted(per.items())
    ]


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_key_skew_matches_python(spark):
    pdf = pd.read_parquet(f"{SF}/events.parquet")
    assert _rows(events_key_skew(spark, SF)) == _py_skew(pdf)


def test_key_skew_partitions_exactly(spark):
    pdf = pd.read_parquet(f"{SF}/events.parquet")
    rows = events_key_skew(spark, SF).collect()
    nn = pdf.user_id.dropna()
    assert sum(r["n_rows"] for r in rows) == len(nn)
    assert sum(r["n_keys"] for r in rows) == nn.nunique()
    assert abs(sum(r["load_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["max_key_rows"] <= r["n_rows"]
        assert r["skew_ratio"] >= 1.0


def test_key_skew_n_buckets_is_a_real_parameter(spark):
    one = events_key_skew(spark, SF, n_buckets=1).collect()
    assert len(one) == 1
    assert one[0]["bucket"] == 0
    assert one[0]["skew_ratio"] == 1.0
    assert one[0]["load_share"] == 1.0
    # totals invariant across bucketings
    base = events_key_skew(spark, SF).collect()
    assert sum(r["n_rows"] for r in base) == one[0]["n_rows"]


def test_key_skew_reads_checkpointed_histogram(spark):
    """Plan pin: the bucket histogram is checkpointed (the one events
    scan happens inside its build), so the final plan reads only the
    checkpoint and broadcast 1-row globals."""
    events_key_skew(spark, SF).collect()  # checkpoint live; re-plan
    df = events_key_skew(spark, SF)
    jvm = df.sparkSession._jvm
    p = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, p
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_PROP = settings(
    derandomize=True,
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


@_PROP
@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=12),
    hot=st.integers(0, 200),
    n_nulls=st.integers(0, 5),
)
def test_key_skew_property(spark, tmp_path_factory, sizes, hot, n_nulls):
    """Every column agrees with the pure-python derivation on ARBITRARY
    key distributions — including one deliberately hot key and NULL
    user_ids (which the audit must exclude)."""
    from tests.fixtures import write_events

    rows, e = [], 0
    for u, n in enumerate(sizes):
        for _ in range(n):
            rows.append((e, u))
            e += 1
    for _ in range(3 * max(sizes)):  # the hot key: 3x the largest domain
        rows.append((e, hot))
        e += 1
    for _ in range(n_nulls):
        rows.append((e, None))
        e += 1
    d = str(tmp_path_factory.mktemp("prop_skew"))
    write_events(d, rows)
    pdf = pd.read_parquet(f"{d}/events.parquet")
    assert _rows(events_key_skew(spark, d)) == _py_skew(pdf)


# ---------------------------------------------------------------------------
# hot grouping keys: the planner's partial aggregate does the two-phase work
# ---------------------------------------------------------------------------


def _is_partial_agg(node) -> bool:
    return (
        node.getClass().getSimpleName() == "HashAggregateExec"
        and "partial_" in node.simpleString(25)
    )


def test_user_totals_hot_key_matches_plain_groupby(spark, tmp_path_factory):
    """events_user_totals_salted on one pathologically hot user plus a
    uniform tail equals the plain GROUP BY, recomputed here in exact
    decimals; n_events counts rows, so the hot user's NULL values still
    count. The hot user reaches its reducer as partial-aggregate rows."""
    from decimal import Decimal

    from tests.fixtures import write_events

    from currency_etl_spark.queries.extras import events_user_totals_salted

    rows = [(i, 1) for i in range(500)] + [(1000 + k, k) for k in range(2, 40)]
    vals = [None if i % 5 == 0 else float(i % 7) for i in range(500)] + [
        float(k) for k in range(2, 40)
    ]
    d = str(tmp_path_factory.mktemp("user_totals_hot"))
    write_events(d, rows, values=vals)
    tot: dict = defaultdict(lambda: [Decimal(0), 0])
    for (_, u), v in zip(rows, vals):
        tot[u][0] += Decimal(0) if v is None else Decimal(str(v))
        tot[u][1] += 1
    want = sorted(
        ((u, float(s), n) for u, (s, n) in tot.items()),
        key=lambda r: (-r[1], r[0]),
    )[:20]
    df = events_user_totals_salted(spark, d)
    assert _rows(df) == want
    assert right_below_exchange(df, _is_partial_agg)


def test_adaptive_graded_key_flags_salted(spark):
    """event_type (5 values, top share ~0.2 >> 1/64) trips the audit
    rule. Building the entry runs no Spark job (the verdict rides the
    plan, not a driver collect), and the final plan combines each key
    map-side: a partial HashAggregate feeds the key Exchange."""
    from currency_etl_spark.queries.extras import events_adaptive_salted_agg

    events_adaptive_salted_agg(spark, SF)  # warm the table cache
    df, jobs = jobs_run_by(spark, lambda: events_adaptive_salted_agg(spark, SF))
    assert jobs == []
    rows = df.collect()
    assert rows and all(r["salted"] for r in rows)
    assert all(r["top_key_share"] > 1.0 / SKEW_BUCKETS for r in rows)
    assert right_below_exchange(df, _is_partial_agg)
    names = {n.getClass().getSimpleName() for n, _ in final_plan_nodes(df)}
    assert "CartesianProductExec" not in names and "BatchEvalPythonExec" not in names


def test_adaptive_uniform_key_flags_plain(spark, tmp_path_factory):
    """At the decision boundary (64 keys x 2 rows: topk * 64 == t, NOT
    strictly greater) the audit says a hash shuffle balances fine:
    salted is False, from the same one-plan, no-collect entry."""
    from tests.fixtures import write_events

    from currency_etl_spark.queries.extras import events_adaptive_salted_agg

    d = str(tmp_path_factory.mktemp("adaptive_uniform"))
    write_events(d, [(e, e % 64) for e in range(128)])
    events_adaptive_salted_agg(spark, d, key="user_id")  # warm the table cache
    df, jobs = jobs_run_by(
        spark, lambda: events_adaptive_salted_agg(spark, d, key="user_id")
    )
    assert jobs == []
    rows = df.collect()
    assert len(rows) == 64
    assert all(r["salted"] is False for r in rows)
    assert right_below_exchange(df, _is_partial_agg)


def test_adaptive_both_plans_agree_with_direct_groupby(spark, tmp_path_factory):
    """Both sides of the verdict: a hot-key corpus (salted True) and a
    uniform corpus (salted False) must each reproduce the direct groupBy
    totals bit-for-bit — the verdict is an output column, not a
    different plan."""
    import pyspark.sql.functions as F

    from tests.fixtures import write_events

    from currency_etl_spark.queries.extras import events_adaptive_salted_agg
    from currency_etl_spark.sources import table

    cases = [
        ("hot", [(e, 7 if e % 4 else int(e)) for e in range(200)], True),
        # 100 keys x 1 row: topk * 64 = 64 <= 100 = t -> plain plan
        ("flat", [(e, e) for e in range(100)], False),
    ]
    for tag, rows, want_salted in cases:
        d = str(tmp_path_factory.mktemp(f"adaptive_{tag}"))
        write_events(d, rows)
        got = events_adaptive_salted_agg(spark, d, key="user_id")
        assert all(r["salted"] == want_salted for r in got.collect())
        direct = (
            table(spark, d, "events")
            .groupBy("user_id")
            .agg(
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
                F.count(F.lit(1)).cast("long").alias("n_events"),
            )
        )
        want = {
            r["user_id"]: (r["total_value"], r["n_events"])
            for r in direct.collect()
        }
        assert {
            r["user_id"]: (r["total_value"], r["n_events"])
            for r in got.collect()
        } == want


def test_adaptive_null_values_count_rows(spark, tmp_path_factory):
    """n_events is count(*) — rows, not non-NULL values — on both sides
    of the verdict (a count of v would count non-NULL values and diverge
    from the oracle on any corpus with NULL event values)."""
    from tests.fixtures import write_events

    from currency_etl_spark.queries.extras import events_adaptive_salted_agg

    # one hot key (salted) and a flat corpus (not salted), each with
    # NULL values sprinkled on the hot/first keys
    cases = [
        ("hot", [(e, 7 if e % 4 else e) for e in range(200)], True),
        ("flat", [(e, e) for e in range(100)], False),
    ]
    for tag, rows, want_salted in cases:
        vals = [None if e % 5 == 0 else float(e % 7) for e, _ in rows]
        d = str(tmp_path_factory.mktemp(f"adaptive_null_{tag}"))
        write_events(d, rows, values=vals)
        got = events_adaptive_salted_agg(spark, d, key="user_id").collect()
        assert got and all(r["salted"] == want_salted for r in got)
        from collections import Counter

        want_n = Counter(u for _, u in rows)
        assert {r["user_id"]: r["n_events"] for r in got} == dict(want_n)


def test_adaptive_empty_relation_is_empty_not_error(spark, tmp_path_factory):
    """All-NULL grouping key -> no per-key rows and a (NULL, NULL)
    verdict row; the entry must return the oracle's empty result, not
    raise."""
    from tests.fixtures import write_events

    from currency_etl_spark.queries.extras import events_adaptive_salted_agg

    d = str(tmp_path_factory.mktemp("adaptive_empty"))
    write_events(d, [(e, None) for e in range(10)])
    got = events_adaptive_salted_agg(spark, d, key="user_id")
    assert got.collect() == []
