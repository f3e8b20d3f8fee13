"""Generalized operator surface over the TPC-H-shaped corpus (SURVEY.md §7.2.6).

The reference's analytics are single-table; the engine still exposes the
full relational surface — multi-way joins (broadcast + shuffle), semi/anti
joins, grouping sets, set ops, pivot, per-group top-k, sessionization and
as-of joins — all as Catalyst-planned DataFrame ops.

Scale notes per query are inline. Common themes:
  * dimension tables (region/nation/supplier/customer at TPC-H ratios) are
    broadcast — no shuffle of the fact table on the dim key;
  * fact-fact joins shuffle once on the join key and reuse that
    partitioning for the following aggregate where possible;
  * per-group top-k uses rank-filter (WindowExec) instead of global sorts;
  * money sums run through DECIMAL so results are exact and reproducible
    across partition orders (catalog.py determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import table


def _dec_sum(col: F.Column, scale: str = "decimal(18,4)") -> F.Column:
    return F.sum(col.cast(scale)).cast("double")


# Money columns in the corpus are 2-decimal values, so casting the *inputs*
# to decimal is lossless and all downstream arithmetic is exact — the sums
# are bit-identical to the oracle regardless of partition/summation order.
# (Casting a double *product* to a high-scale decimal is NOT portable: Spark
# rounds the exact binary expansion, DuckDB scales in double first.)
def _disc_price_dec() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )


def _revenue_dec(df: DataFrame) -> F.Column:
    return F.sum(_disc_price_dec()).cast("double")


@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "aggregate"),
    doc=(
        "TPC-H Q1 pricing summary: scan-heavy groupBy with 8 aggregates in one "
        "pass. Partial (map-side) + final hash aggregation; the shipdate filter "
        "and 7-column projection push into the parquet scan."
    ),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(_disc_price_dec()).cast("double").alias("sum_disc_price"),
            F.sum(
                _disc_price_dec() * (F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(_dec_sum(F.col("l_quantity")) / F.count("*"), 6).alias("avg_qty"),
            F.round(_dec_sum(F.col("l_extendedprice")) / F.count("*"), 6).alias("avg_price"),
            F.round(_dec_sum(F.col("l_discount")) / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
        SELECT o_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
    doc=(
        "TPC-H Q3: 3-way join + agg + top-10. customer is a dimension at TPC-H "
        "ratios → broadcast (no shuffle of orders); orders⋈lineitem shuffles on "
        "orderkey, and the groupBy reuses that same key so no second shuffle. "
        "LIMIT plans as TakeOrderedAndProject — no global sort at scale."
    ),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp"))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_dec(li).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("tpch", "join", "aggregate"),
    doc=(
        "TPC-H Q5: 6-way join. region/nation/supplier/customer all broadcast — "
        "the only shuffle in the whole plan is orders⋈lineitem on orderkey. "
        "The local-supplier predicate (c_nationkey = s_nationkey) rides the "
        "broadcast join condition."
    ),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == supp.s_suppkey) & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_dec(li).alias("revenue"))
    )


@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("tpch", "semijoin"),
    doc=(
        "TPC-H Q4: EXISTS → left-semi join. The semi join deduplicates on the "
        "build side before probing, so no fact-side row multiplication."
    ),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "top_customers",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend,
               count(*) AS n_orders
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spend DESC, c_custkey
        LIMIT 10
    """,
    tags=("join", "topk"),
    doc=(
        "Aggregate-then-join top-k: orders aggregates on o_custkey first "
        "(shrinks the fact table to one row per customer) and only then joins "
        "the customer dim — the join input is |customers|, not |orders|."
    ),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        _dec_sum(F.col("o_totalprice")).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), "c_custkey")
        .limit(10)
    )


@register(
    "topk_orders_per_segment",
    oracle="""
        SELECT segment, o_orderkey, o_totalprice, rnk
        FROM (
            SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        WHERE rnk <= 3
        ORDER BY segment, rnk
    """,
    tags=("window", "topk"),
    doc=(
        "Per-group top-k via rank-filter: one shuffle on the group key, "
        "WindowExec keeps only k rows per group — never a global sort. The "
        "100 TB form of 'ORDER BY LIMIT k per group'."
    ),
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("segment").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "rollup_segment_nation",
    oracle="""
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (c_mktsegment, n_name)
        ORDER BY segment, nation
    """,
    tags=("aggregate", "groupingsets"),
    doc=(
        "ROLLUP grouping sets (reference has none — §2.5 notes they come free): "
        "one shuffle produces all three grouping levels via Expand."
    ),
)
def rollup_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("c_mktsegment", "n_name")
        .agg(F.count("*").alias("n_customers"), _dec_sum(F.col("c_acctbal")).alias("total_acctbal"))
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "set_customers_both_statuses",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY custkey
    """,
    tags=("setop",),
    doc="INTERSECT (SURVEY §2.8): customers with both finished and open orders.",
)
def set_customers_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(o)


@register(
    "set_customers_no_open_orders",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY custkey
    """,
    tags=("setop", "antijoin"),
    doc="EXCEPT (≡ distinct + left-anti join): finished-order customers with no open orders.",
)
def set_customers_no_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.subtract(o)  # subtract == EXCEPT DISTINCT


@register(
    "cust_above_nation_avg",
    oracle="""
        WITH nav AS (
            SELECT c_nationkey,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS nation_avg
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_custkey, c_name, c_acctbal, round(nation_avg, 6) AS nation_avg
        FROM customer JOIN nav USING (c_nationkey)
        WHERE c_acctbal > nation_avg
        ORDER BY c_custkey
    """,
    tags=("join", "subquery"),
    doc=(
        "Correlated-aggregate pattern (customers above their nation's average "
        "balance): decorrelated into agg + broadcast join — the form Catalyst "
        "rewrites correlated scalar subqueries into."
    ),
)
def cust_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nav = cust.groupBy("c_nationkey").agg(
        (_dec_sum(F.col("c_acctbal")) / F.count("*")).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(nav), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_acctbal", F.round("nation_avg", 6).alias("nation_avg"))
    )


@register(
    "events_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_bucket, event_type
    """,
    tags=("window", "time"),
    doc=(
        "Tumbling 1-hour aggregation — the batch twin of the Structured "
        "Streaming windowed agg (streaming/jobs.py); date_trunc keeps the "
        "bucket a plain column so it groups in one shuffle."
    ),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_bucket"), "event_type")
        .agg(F.count("*").alias("n_events"), _dec_sum(F.col("value")).alias("total_value"))
    )


@register(
    "events_pivot_by_type",
    oracle="""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_click,
               CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_view,
               CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_signup,
               CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_purchase
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("pivot",),
    doc=(
        "Pivot with an explicit value list (explicit list = single pass, no "
        "extra distinct-values job; required form at scale)."
    ),
)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = ["click", "view", "signup", "error", "purchase"]
    piv = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"))
    )
    return piv.select(
        "user_id", *[F.col(t).alias(f"value_{t}") for t in types]
    )


@register(
    "events_sessionize",
    oracle="""
        WITH g AS (
            -- >= not >: matches session_window's half-open [ts, ts+gap)
            -- windows, so the streaming twin agrees at exact-gap boundaries
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                             OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM g
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM s
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    tags=("window", "sessionization"),
    doc=(
        "Sessionization (30-min inactivity gap) via lag + running sum — one "
        "shuffle on user_id shared by both window specs and the final groupBy. "
        "The streaming twin is session_window() (streaming/jobs.py)."
    ),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.sessionize import sessionize

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # gap>=30min opens a session (operator's >= convention == session_window)
    s = sessionize(e, gap_s=30 * 60)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "asof_purchase_last_click",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               c.ts AS click_ts, c.value AS click_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id
    """,
    tags=("asof", "window"),
    doc=(
        "As-of join (Spark lacks a native one — SURVEY guide 'common OLAP "
        "patterns'): for each purchase, the most recent click of the same user "
        "at-or-before it. Implemented by the union-sort trick: tag both sides, "
        "union, one sort per user_id, carry the last click forward with "
        "last_value(ignorenulls). One shuffle total — no range-join explosion, "
        "no per-group pandas. Scales as a single sort, exactly how a 100 TB "
        "as-of must run."
    ),
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_seq"), "value"
    )
    # backward as-of, exact matches allowed; among same-instant clicks the
    # highest event_id wins (the operator's documented backward tie rule)
    out = asof_join(
        purchases,
        clicks,
        on="ts",
        by=["user_id"],
        value_cols=["value"],
        seq="c_seq",
        direction="backward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_right").alias("click_ts"),
        F.col("value_right").alias("click_value"),
    )


#: Tolerance for the bounded as-of variant (microseconds).
ASOF_TOLERANCE_US = 3_600_000_000  # 1 hour


@register(
    "asof_click_within_1h",
    oracle=f"""
        -- asof + tolerance: if the MOST RECENT click is outside the
        -- window, every older click is too — so post-filtering a plain
        -- as-of match is exactly bounded-as-of semantics
        WITH m AS (
            SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
                   c.ts AS click_ts, c.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND p.ts >= c.ts
        )
        SELECT event_id, user_id, purchase_ts,
               CASE WHEN click_ts IS NOT NULL
                         AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US}
                    THEN click_ts END AS click_ts,
               CASE WHEN click_ts IS NOT NULL
                         AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US}
                    THEN click_value END AS click_value,
               (click_ts IS NOT NULL
                    AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US}) AS attributed
        FROM m
        ORDER BY event_id
    """,
    tags=("asof", "window", "tolerance"),
    doc=(
        "Bounded as-of join — attribution with a 1-hour lookback window: "
        "each purchase matches its most recent same-user click only if it "
        "happened within the tolerance, else NULL (un-attributed). Runs on "
        "the same union-sort machinery as asof_purchase_last_click (one "
        "shuffle, no range-join explosion); the tolerance is a post-match "
        "predicate, valid because an out-of-window most-recent click "
        "implies every older click is out of window too. This is the "
        "kdb/pandas merge_asof(tolerance=...) surface at Spark scale."
    ),
)
def asof_click_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = asof_purchase_last_click(spark, sf_dir)
    in_window = F.col("click_ts").isNotNull() & (
        F.unix_micros("purchase_ts") - F.unix_micros("click_ts") <= ASOF_TOLERANCE_US
    )
    return base.select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.when(in_window, F.col("click_ts")).alias("click_ts"),
        F.when(in_window, F.col("click_value")).alias("click_value"),
        in_window.alias("attributed"),
    )


@register(
    "q7_nation_volume",
    oracle="""
        SELECT supp_nation, cust_nation, yr,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS yr,
                   l_extendedprice, l_discount
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        )
        GROUP BY supp_nation, cust_nation, yr
        ORDER BY supp_nation, cust_nation, yr
    """,
    tags=("tpch", "join", "aggregate"),
    doc=(
        "TPC-H Q7 shape: bidirectional nation-pair volume by year. Two "
        "aliases of the same broadcast nation dim with a symmetric OR "
        "predicate; the only shuffle is orders⋈lineitem."
    ),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1k"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2k"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1k"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2k"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("yr")
        )
        .agg(_revenue_dec(li).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    )


@register(
    "q10_returned_items",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
    doc=(
        "TPC-H Q10: returned-item revenue ranking — selective flag + date "
        "filters push to the scans, customer/nation broadcast, top-20 via "
        "TakeOrderedAndProject."
    ),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue_dec(li).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q18_large_orders",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 150
        )
        GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("tpch", "semijoin", "having"),
    doc=(
        "TPC-H Q18: large-volume orders — IN over a HAVING aggregate becomes "
        "aggregate → filter → left-semi join; the qualifying-key set is tiny "
        "so it broadcasts into the probe."
    ),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        # no broadcast hint on `big`: it is FACT-derived (orders passing a
        # data-dependent quantity threshold), so its size is unbounded at
        # scale — AQE broadcasts it at runtime when it actually fits
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(_dec_sum(F.col("l_quantity")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q8_market_share",
    oracle="""
        WITH all_rev AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS vol,
                   n_name
            FROM lineitem
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
        )
        SELECT yr,
               round(CAST(sum(CASE WHEN n_name = 'NATION_3' THEN vol END) AS DOUBLE)
                     / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share,
               CAST(sum(vol) AS DOUBLE) AS total_volume
        FROM all_rev
        GROUP BY yr
        ORDER BY yr
    """,
    tags=("tpch", "join", "ratio"),
    doc=(
        "TPC-H Q8 shape: one nation's market share of yearly volume — "
        "conditional decimal sum over total decimal sum, both exact, one "
        "shuffle; dims broadcast."
    ),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    vol = _disc_price_dec()
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol)).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
        .orderBy("yr")
    )


@register(
    "q14_promo_share",
    oracle="""
        SELECT round(
                 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                       THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                  END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
               6) AS promo_revenue_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    tags=("tpch", "join", "ratio"),
    doc=(
        "TPC-H Q14: promotion revenue percentage in a month — conditional/"
        "total exact-decimal ratio after a broadcast part join; the date "
        "filter prunes the fact scan."
    ),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    vol = _disc_price_dec()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol)).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q22_idle_customers",
    oracle="""
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS ab
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment AS segment,
               count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM customer, avg_bal
        WHERE c_acctbal > ab
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
        ORDER BY segment
    """,
    tags=("tpch", "antijoin", "subquery"),
    doc=(
        "TPC-H Q22 shape: above-average-balance customers who never ordered "
        "— a scalar aggregate broadcast into the filter plus a left-anti "
        "join against orders' key set."
    ),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            _dec_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .orderBy("segment")
    )


@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "outer", "distribution"),
    doc=(
        "TPC-H Q13: order-count distribution over customers — left outer "
        "join (zero-order customers count at c_count=0) then a second "
        "aggregation over the first's result."
    ),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    tags=("tpch", "subquery", "argmax"),
    doc=(
        "TPC-H Q15: top supplier by quarterly revenue — the view + scalar "
        "max subquery decorrelated to agg → broadcast max → equality filter "
        "(keeps ties, exact decimal revenue so ties are real ties)."
    ),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _revenue_dec(li).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        supp.join(F.broadcast(revenue), supp.s_suppkey == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13' AND p_size IN (5, 10, 15, 20, 25, 30)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "distinct-agg"),
    doc=(
        "TPC-H Q16 shape (partsupp approximated by observed lineitem "
        "supplier-part pairs): distinct-supplier counts per part group with "
        "negated/IN predicates on the broadcast dim."
    ),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        WITH part_avg AS (
            SELECT l_partkey AS pk,
                   0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS half_avg
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem JOIN part_avg ON l_partkey = pk
        WHERE l_quantity < half_avg
    """,
    tags=("tpch", "subquery", "correlated"),
    doc=(
        "TPC-H Q17: below-half-average-quantity revenue — the correlated "
        "per-part AVG subquery decorrelated into a per-part aggregate joined "
        "back on partkey (exact decimal average so the < comparison is "
        "engine-identical)."
    ),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.5)
            * F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("half_avg")
    )
    return (
        li.join(F.broadcast(part_avg), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(_dec_sum(F.col("l_extendedprice")) / 7.0, 6).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q9_product_profit",
    oracle="""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        - CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, yr
        ORDER BY nation, yr DESC
    """,
    tags=("tpch", "join", "aggregate"),
    doc=(
        "TPC-H Q9 shape (supply cost approximated as 10% of retail price — "
        "the corpus has no partsupp): product-line profit by supplier nation "
        "and year, LIKE predicate on the part dim, four broadcasts + the "
        "orders⋈lineitem shuffle."
    ),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    profit = _disc_price_dec() - (
        F.col("l_quantity").cast("decimal(18,2)")
        * F.col("p_retailprice").cast("decimal(18,2)")
        * F.lit(0.10).cast("decimal(3,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("yr"))
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("nation", F.desc("yr"))
    )


@register(
    "part_brand_revenue",
    oracle="""
        SELECT p_brand,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems,
               round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_retail
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY revenue DESC, p_brand
    """,
    tags=("join", "aggregate"),
    doc="Fact⋈dim revenue rollup: part broadcasts; lineitem never shuffles before the agg.",
)
def part_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _revenue_dec(li).alias("revenue"),
            F.count("*").alias("n_lineitems"),
            F.round(_dec_sum(F.col("p_retailprice")) / F.count("*"), 6).alias("avg_retail"),
        )
    )
