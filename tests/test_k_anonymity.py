"""customers_k_anonymity invariants: a pandas re-derivation of the QI
grouping must match exactly, the histogram must partition the customer
table (every customer counted once), and the at_risk flag must be the
k-threshold indicator."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from currency_etl_spark.queries.curation import K_ANON_MIN, customers_k_anonymity

SF = "/root/testdata/sf0.001"


def test_k_anonymity_matches_pandas(spark):
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    qi = Counter(
        (r.c_nationkey, r.c_mktsegment, math.floor(r.c_acctbal / 1000))
        for r in cust.itertuples()
    )
    sizes = Counter(qi.values())
    want = {
        k: (n, k * n, int(k < K_ANON_MIN)) for k, n in sizes.items()
    }
    got = {
        r["group_size"]: (r["n_groups"], r["n_customers"], r["at_risk"])
        for r in customers_k_anonymity(spark, SF).collect()
    }
    assert got == want
    # the histogram partitions the table: every customer counted once
    assert sum(v[1] for v in got.values()) == len(cust)
    # the audit fires on this corpus: both risky and safe groups exist
    assert any(v[2] == 1 for v in got.values())
    assert any(v[2] == 0 for v in got.values()) or max(got) < K_ANON_MIN


def test_k_anonymity_k_is_a_real_parameter(spark):
    """k is a keyword parameter: at_risk rows
    are exactly the groups below k, so k=1 clears the flag everywhere and
    a huge k flags everything; the histogram itself never changes."""
    base = {r["group_size"]: r for r in customers_k_anonymity(spark, SF).collect()}
    none = {r["group_size"]: r for r in customers_k_anonymity(spark, SF, k=1).collect()}
    all_risky = {
        r["group_size"]: r
        for r in customers_k_anonymity(spark, SF, k=10**6).collect()
    }
    assert set(base) == set(none) == set(all_risky)
    for g, r in base.items():
        assert (r["n_groups"], r["n_customers"]) == (
            none[g]["n_groups"], none[g]["n_customers"]
        )
        assert none[g]["at_risk"] == 0
        assert all_risky[g]["at_risk"] == 1
        assert r["at_risk"] == int(g < K_ANON_MIN)


def _pd_l_diversity(sf: str):
    """Pure-pandas re-derivation of the l-diversity histogram."""
    from collections import defaultdict

    cust = pd.read_parquet(f"{sf}/customer.parquet")
    orders = pd.read_parquet(f"{sf}/orders.parquet")[
        ["o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"]
    ]
    latest = {}
    for r in orders.itertuples():
        cur = latest.get(r.o_custkey)
        key = (r.o_orderdate, r.o_orderkey)
        if cur is None or key > cur[0]:
            latest[r.o_custkey] = (key, r.o_orderpriority)
    groups = defaultdict(list)
    for r in cust.itertuples():
        sens = latest.get(r.c_custkey, (None, "NONE"))[1]
        groups[(r.c_nationkey, r.c_mktsegment, math.floor(r.c_acctbal / 1000))].append(
            sens
        )
    hist = Counter()
    custs = Counter()
    for members in groups.values():
        l = len(set(members))
        hist[l] += 1
        custs[l] += len(members)
    return hist, custs, len(cust)


def test_l_diversity_matches_pandas(spark):
    from currency_etl_spark.queries.curation import L_DIV_MIN, customers_l_diversity

    hist, custs, n_cust = _pd_l_diversity(SF)
    got = {
        r["l"]: (r["n_groups"], r["n_customers"], r["at_risk"])
        for r in customers_l_diversity(spark, SF).collect()
    }
    assert got == {
        l: (hist[l], custs[l], int(l < L_DIV_MIN)) for l in hist
    }
    # the histogram partitions the customer table
    assert sum(v[1] for v in got.values()) == n_cust
    # the audit fires: risky levels exist; safe ones too unless the whole
    # corpus sits below the bar (sf0.001's QI groups are 1-2 customers)
    assert any(v[2] == 1 for v in got.values())
    assert any(v[2] == 0 for v in got.values()) or max(got) < L_DIV_MIN


def test_l_diversity_l_min_is_a_real_parameter(spark):
    from currency_etl_spark.queries.curation import customers_l_diversity

    base = {r["l"]: r for r in customers_l_diversity(spark, SF).collect()}
    none = {r["l"]: r for r in customers_l_diversity(spark, SF, l_min=1).collect()}
    all_risky = {
        r["l"]: r for r in customers_l_diversity(spark, SF, l_min=10**6).collect()
    }
    assert set(base) == set(none) == set(all_risky)
    for l, r in base.items():
        assert (r["n_groups"], r["n_customers"]) == (
            none[l]["n_groups"], none[l]["n_customers"]
        )
        assert none[l]["at_risk"] == 0
        assert all_risky[l]["at_risk"] == 1


def test_l_diversity_orderless_customers_release_none(spark, tmp_path):
    """Customers with no orders release sensitive value 'NONE': a corpus
    where nobody ordered collapses every group to l = 1 (all at_risk) —
    the release-completeness edge the LEFT join exists for."""
    import pyarrow.parquet as pq

    from currency_etl_spark.queries.curation import customers_l_diversity

    cust = pd.read_parquet(f"{SF}/customer.parquet").head(40)
    cust.to_parquet(tmp_path / "customer.parquet")
    # slice(0, 0) keeps the real column types — pandas' empty head(0)
    # degrades object columns to the null type and breaks the schema
    pq.write_table(
        pq.read_table(f"{SF}/orders.parquet").slice(0, 0),
        tmp_path / "orders.parquet",
    )
    rows = customers_l_diversity(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["l"], r["at_risk"]) == (1, 1)
    assert r["n_customers"] == 40


def _pd_release(sf: str):
    """(QI -> sensitive list) of the released relation, pandas-derived:
    latest-order priority by (date, key) DESC, 'NONE' when orderless."""
    cust = pd.read_parquet(f"{sf}/customer.parquet")
    orders = pd.read_parquet(f"{sf}/orders.parquet")
    latest = (
        orders.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
        .groupby("o_custkey")
        .tail(1)
        .set_index("o_custkey")["o_orderpriority"]
    )
    rel: dict = {}
    for r in cust.itertuples():
        key = (r.c_nationkey, r.c_mktsegment, math.floor(r.c_acctbal / 1000))
        rel.setdefault(key, []).append(latest.get(r.c_custkey, "NONE"))
    return rel


def test_t_closeness_matches_pandas(spark):
    """Full re-derivation of the band histogram: per QI group, the
    total-variation distance to the global sensitive distribution via
    exact integer cross products, banded by integer division — the
    module's no-float-accumulation claim, recomputed independently."""
    from currency_etl_spark.queries.curation import (
        T_CLOSE_MAX,
        customers_t_closeness,
    )

    rel = _pd_release(SF)
    glob = Counter(s for vals in rel.values() for s in vals)
    n = sum(glob.values())
    bands: dict = {}
    for vals in rel.values():
        cg = Counter(vals)
        n_g = len(vals)
        num = sum(
            abs(cg.get(s, 0) * n - c_s * n_g) for s, c_s in glob.items()
        )
        band = (10 * num) // (2 * n_g * n)
        t = round(num / (2.0 * n_g * n), 6)
        b = bands.setdefault(band, [0, 0, []])
        b[0] += 1
        b[1] += n_g
        b[2].append(t)
    want = {
        band: (
            cnt,
            ncust,
            round(min(ts), 6),
            round(max(ts), 6),
            int(band >= int(round(T_CLOSE_MAX * 10))),
        )
        for band, (cnt, ncust, ts) in bands.items()
    }
    got = {
        r["t_band"]: (
            r["n_groups"],
            r["n_customers"],
            r["t_min"],
            r["t_max"],
            r["at_risk"],
        )
        for r in customers_t_closeness(spark, SF).collect()
    }
    assert got == want
    # the histogram partitions the customer table
    assert sum(v[1] for v in got.values()) == sum(len(v) for v in rel.values())


def test_t_closeness_band_is_the_exact_t_bucket(spark):
    """Band consistency: every band's [t_min, t_max] sits inside
    [band/10, (band+1)/10) — the integer-division band IS the bucket of
    the reported t, never off by an edge case."""
    from currency_etl_spark.queries.curation import customers_t_closeness

    rows = customers_t_closeness(spark, SF).collect()
    assert rows, "no bands?"
    for r in rows:
        assert 0 <= r["t_min"] <= r["t_max"] < 1.0
        assert r["t_band"] / 10 <= r["t_min"]
        assert r["t_max"] < (r["t_band"] + 1) / 10


def test_t_closeness_t_max_is_a_real_parameter(spark):
    """A zero bar flags every band; an impossible bar (>1) flags none."""
    from currency_etl_spark.queries.curation import customers_t_closeness

    strict = customers_t_closeness(spark, SF, t_max=0.0).collect()
    assert all(r["at_risk"] == 1 for r in strict)
    lax = customers_t_closeness(spark, SF, t_max=1.1).collect()
    assert all(r["at_risk"] == 0 for r in lax)


def test_privacy_ladder_shares_one_release(spark):
    """The l-diversity and t-closeness rungs must audit the SAME
    released relation: total customer mass agrees across both
    histograms (single _release_relation definition)."""
    from currency_etl_spark.queries.curation import (
        customers_l_diversity,
        customers_t_closeness,
    )

    l_mass = sum(
        r["n_customers"] for r in customers_l_diversity(spark, SF).collect()
    )
    t_mass = sum(
        r["n_customers"] for r in customers_t_closeness(spark, SF).collect()
    )
    cust = len(pd.read_parquet(f"{SF}/customer.parquet"))
    assert l_mass == t_mass == cust


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_PROP = settings(derandomize=True, max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))


def _write_release(d, custs, orders_rows):
    """customer/orders parquet pair shaped like the corpus tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([c[0] for c in custs], pa.int64()),
                "c_name": pa.array([f"c{c[0]}" for c in custs], pa.string()),
                "c_nationkey": pa.array([c[1] for c in custs], pa.int32()),
                "c_acctbal": pa.array([c[2] for c in custs], pa.float64()),
                "c_mktsegment": pa.array([c[3] for c in custs], pa.string()),
            }
        ),
        d / "customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders_rows], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders_rows], pa.int64()),
                "o_orderstatus": pa.array(["O"] * len(orders_rows), pa.string()),
                "o_totalprice": pa.array([1.0] * len(orders_rows), pa.float64()),
                "o_orderdate": pa.array(
                    [pd.Timestamp(o[2]) for o in orders_rows],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array([o[3] for o in orders_rows], pa.string()),
            }
        ),
        d / "orders.parquet",
    )


@_PROP
@given(
    n_cust=st.integers(1, 25),
    n_ord=st.integers(0, 40),
    seed=st.integers(0, 10**6),
)
def test_t_closeness_property(spark, tmp_path_factory, n_cust, n_ord, seed):
    """Property form of the pandas agreement: on ARBITRARY releases —
    orderless customers, tied order dates (broken by orderkey), negative
    balance bands, single-value sensitive domains, tiny groups — the
    Spark band histogram equals the pure-python derivation bit-for-bit
    (exact-integer numerators make ties real, not probabilistic)."""
    import numpy as np

    from currency_etl_spark.queries.curation import (
        T_CLOSE_MAX,
        customers_t_closeness,
    )

    rng = np.random.RandomState(seed)
    custkeys = rng.choice(np.arange(1, 60), size=n_cust, replace=False)
    custs = [
        (
            int(k),
            int(rng.randint(0, 3)),
            float(rng.randint(-2000, 3000)),
            ["AUTOMOBILE", "BUILDING"][rng.randint(0, 2)],
        )
        for k in custkeys
    ]
    dates = ["1995-01-01", "1995-06-15", "1996-03-03"]  # few → date ties
    prios = ["1-URGENT", "3-MEDIUM", "5-LOW"]
    orders_rows = [
        (
            i + 1,
            int(custkeys[rng.randint(0, len(custkeys))]),
            dates[rng.randint(0, 3)],
            prios[rng.randint(0, 3)],
        )
        for i in range(n_ord)
    ]
    d = tmp_path_factory.mktemp("prop_tclose")
    _write_release(d, custs, orders_rows)

    rel = _pd_release(str(d))
    glob = Counter(s for vals in rel.values() for s in vals)
    n = sum(glob.values())
    want = {}
    for vals in rel.values():
        cg = Counter(vals)
        n_g = len(vals)
        num = sum(abs(cg.get(s, 0) * n - c_s * n_g) for s, c_s in glob.items())
        band = (10 * num) // (2 * n_g * n)
        t = round(num / (2.0 * n_g * n), 6)
        g = want.setdefault(band, [0, 0, []])
        g[0] += 1
        g[1] += n_g
        g[2].append(t)
    want = {
        b: (c, m, round(min(ts), 6), round(max(ts), 6), int(b >= int(round(T_CLOSE_MAX * 10))))
        for b, (c, m, ts) in want.items()
    }
    got = {
        r["t_band"]: (r["n_groups"], r["n_customers"], r["t_min"], r["t_max"], r["at_risk"])
        for r in customers_t_closeness(spark, str(d)).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# erasure cascade (plan) + execute (action): exact reconciliation
# ---------------------------------------------------------------------------


def test_erasure_execute_reconciles_with_the_audit(spark, sf_dir):
    """Decision→action coherence: for every relation, the audit's
    affected count plus the execute's surviving count is the full table,
    and (value_affected + value_remaining) reconstructs the table's
    total business value EXACTLY (both sides are decimal-exact sums cast
    once to double, so the doubles add back bit-consistently after one
    rounding guard at the final ulp)."""
    from currency_etl_spark.catalog import load_catalog

    cat = load_catalog()
    audit = {
        r["relation"]: r
        for r in cat["customers_erasure_cascade"].spark_fn(spark, sf_dir).collect()
    }
    ex = {
        r["relation"]: r
        for r in cat["customers_erasure_execute"].spark_fn(spark, sf_dir).collect()
    }
    assert set(audit) == set(ex) == {"customer", "events", "lineitem", "orders"}
    for rel in audit:
        a, e = audit[rel], ex[rel]
        assert a["n_rows"] + e["n_rows_after"] == a["total_rows"], rel
        assert a["n_rows"] > 0 and e["n_rows_after"] > 0, rel
        total = a["value_affected"] + e["value_remaining"]
        # both terms are exact decimals (scale 4) cast to double: the sum
        # of the two doubles equals the decimal total within one ulp
        assert abs(total - round(total, 4)) < 1e-6, rel
    # the surviving key checksums are positive decimal strings
    for rel in ex:
        assert int(ex[rel]["key_checksum"]) > 0, rel
