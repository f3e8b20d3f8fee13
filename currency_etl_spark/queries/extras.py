"""Breadth operators beyond the core corpus set: exact percentiles, JSON
scalar extraction, outer-join coverage, argmin subqueries, regex/string
functions, CUBE grouping sets — plus the behavioral-analytics family
(market basket, inter-order gaps, segment migration, click attribution,
transition dwell, protocol audit, A/B readout, autocorrelation), the
statistics family (grouped OLS, chi-square, HHI), governance
(pseudonymization), and ops diagnostics (AQP sample estimation, skew
reporting).

Parity notes:
  * exact `percentile` (Spark) and `quantile_cont` (DuckDB) use the same
    linear interpolation over sorted doubles — verified bit-identical on
    the corpus;
  * get_json_object / json_extract agree on simple paths;
  * regexp_extract group semantics agree (Java vs RE2-style for these
    simple patterns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_spark.catalog import CATALOG, register
from currency_etl_spark.operators.ckpt import swap_checkpoint
from currency_etl_spark.sources import table


@register(
    "events_value_percentiles",
    oracle="""
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25,
               quantile_cont(value, 0.50) AS p50,
               quantile_cont(value, 0.75) AS p75,
               quantile_cont(value, 0.90) AS p90
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregate", "percentile"),
    doc=(
        "Exact interpolated percentiles per entity. At 100 TB the exact sort-"
        "based form gives way to approx_percentile (t-digest) — the exact "
        "version is the correctness baseline the approximation is judged "
        "against."
    ),
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.50)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
        F.expr("percentile(value, 0.90)").alias("p90"),
    )


@register(
    "events_props_stats",
    oracle="""
        WITH parsed AS (
            SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, value
            FROM events
        )
        SELECT k % 10 AS k_bucket,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
               min(k) AS min_k,
               max(k) AS max_k
        FROM parsed
        GROUP BY k_bucket
        ORDER BY k_bucket
    """,
    tags=("json", "aggregate"),
    doc=(
        "JSON scalar extraction from the semi-structured props column "
        "(get_json_object — JVM-side, no UDF), bucketed aggregation over the "
        "extracted key. The schema-on-read path every event pipeline needs."
    ),
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    parsed = e.select(
        F.get_json_object("props", "$.k").cast("long").alias("k"), "value"
    )
    return parsed.groupBy((F.col("k") % 10).alias("k_bucket")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "customers_order_coverage",
    oracle="""
        SELECT n_name,
               count(*) AS n_customers,
               count(o.first_order) AS n_with_orders,
               round(count(o.first_order) / count(*), 6) AS coverage
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN (
            SELECT o_custkey, min(o_orderdate) AS first_order FROM orders GROUP BY o_custkey
        ) o ON o.o_custkey = c_custkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    tags=("join", "outer"),
    doc=(
        "LEFT OUTER join coverage: which customers have never ordered, per "
        "nation. Orders pre-aggregates to one row per customer before the "
        "join (no row multiplication); nation broadcasts."
    ),
)
def customers_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    first_orders = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_order"))
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(first_orders, cust.c_custkey == first_orders.o_custkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.count("first_order").alias("n_with_orders"),
            F.round(F.count("first_order") / F.count("*"), 6).alias("coverage"),
        )
    )


@register(
    "part_min_price_per_brand",
    oracle="""
        SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
        FROM part p
        JOIN (
            SELECT p_brand, min(p_retailprice) AS min_price FROM part GROUP BY p_brand
        ) m ON p.p_brand = m.p_brand AND p.p_retailprice = m.min_price
        ORDER BY p.p_brand, p.p_partkey
    """,
    tags=("subquery", "argmin"),
    doc=(
        "TPC-H Q2-style argmin: rows matching their group's minimum — the "
        "correlated-min subquery decorrelated into agg + broadcast join "
        "(keeps ties, exactly like the SQL form)."
    ),
)
def part_min_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    mins = (
        part.groupBy("p_brand")
        .agg(F.min("p_retailprice").alias("min_price"))
        .withColumnRenamed("p_brand", "mb")
    )
    return (
        part.join(
            F.broadcast(mins),
            (part.p_brand == mins.mb) & (part.p_retailprice == mins.min_price),
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


@register(
    "cust_name_parse",
    oracle="""
        SELECT c_custkey,
               upper(c_mktsegment) AS segment_uc,
               CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS parsed_id,
               length(c_name) AS name_len,
               concat_ws('|', c_mktsegment, substring(c_name, 1, 8)) AS tag,
               CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) = c_custkey AS id_matches
        FROM customer
        ORDER BY c_custkey
    """,
    tags=("string", "regex"),
    doc=(
        "String/regex scalar surface: regexp_extract with capture group, "
        "upper, substring, length, concat_ws — all codegen'd JVM expressions "
        "(the reference needs only date formatting; this is the generalized "
        "string toolkit)."
    ),
)
def cust_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    parsed = F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long")
    return cust.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("segment_uc"),
        parsed.alias("parsed_id"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws("|", "c_mktsegment", F.substring("c_name", 1, 8)).alias("tag"),
        (parsed == F.col("c_custkey")).alias("id_matches"),
    )


@register(
    "events_daily_gapfill",
    oracle="""
        WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        days AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS tv
            FROM events GROUP BY 1, 2
        ),
        grid AS (SELECT t.event_type, d.day FROM types t, days d)
        SELECT g.event_type,
               strftime(g.day, '%Y-%m-%d') AS day,
               coalesce(n, 0) AS n_events,
               coalesce(tv, 0.0) AS total_value,
               coalesce(last_value(tv IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled_value
        FROM grid g LEFT JOIN daily USING (event_type, day)
        ORDER BY event_type, day
    """,
    tags=("time", "gapfill", "generator"),
    doc=(
        "Time-series densification: generate the full (entity × day) grid "
        "with sequence(), left-join daily aggregates, zero-fill counts and "
        "forward-fill values (last_value ignorenulls). The resample/gap-fill "
        "operator every daily-rates pipeline (like the reference's) needs "
        "when upstream skips days."
    ),
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("tv"),
        )
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"), F.max(F.col("ts").cast("date")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(days))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("tv", F.lit(0.0)).alias("total_value"),
            F.coalesce(F.last("tv", ignorenulls=True).over(w), F.lit(0.0)).alias("filled_value"),
        )
    )


@register(
    "events_unpivot",
    oracle="""
        WITH wide AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase
            FROM events GROUP BY user_id
        )
        SELECT user_id, metric, amount FROM (
            SELECT user_id, 'click' AS metric, click AS amount FROM wide
            UNION ALL
            SELECT user_id, 'purchase' AS metric, purchase AS amount FROM wide
        )
        WHERE amount IS NOT NULL
        ORDER BY user_id, metric
    """,
    tags=("unpivot",),
    doc=(
        "Unpivot (melt) via stack(): wide per-user metric columns back to "
        "long form — the inverse of events_pivot_by_type, dropping null "
        "cells like the UNION ALL oracle."
    ),
)
def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"))
    )
    return (
        wide.select(
            "user_id",
            F.expr("stack(2, 'click', click, 'purchase', purchase) AS (metric, amount)"),
        )
        .filter(F.col("amount").isNotNull())
    )


@register(
    "approx_distinct_stats",
    oracle="""
        -- Sketch outputs aren't bit-portable across engines, so the graded
        -- columns are the EXACT answers plus booleans asserting the Spark
        -- sketches landed within tolerance; the oracle's TRUE literals make
        -- an out-of-tolerance sketch a hash mismatch, not a trust-me row.
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(*) AS n_events,
               quantile_cont(value, 0.5) AS exact_median,
               TRUE AS users_within_5pct,
               TRUE AS median_within_5pct
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregate", "approx"),
    doc=(
        "The 100 TB forms of the exact aggregates: approx_count_distinct "
        "(HyperLogLog++) and approx_percentile (t-digest-style sketch) per "
        "event_type. Sketches are mergeable, so partial aggregation works "
        "across any partitioning. Sketch values aren't bit-portable, so the "
        "graded output emits the exact answers plus within-5% booleans "
        "computed from the sketches — the oracle asserts TRUE, turning the "
        "sketch error bound itself into a hash-checked result. (Exact "
        "percentile() matches DuckDB quantile_cont bit-for-bit on doubles.)"
    ),
)
def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.sources import spread

    e = spread(table(spark, sf_dir, "events"))
    # Two single-purpose aggregations instead of one combined: mixing
    # COUNT(DISTINCT) with other aggregates forces an Expand that
    # duplicates every input row per distinct-column set; separate passes
    # each scan only their own column (user_id vs value) after pruning,
    # then meet in a tiny per-group broadcast join.
    #
    # The users pass dedups (type, user) FIRST, then counts and sketches
    # the deduped relation: countDistinct's rewrite otherwise keys the
    # PARTIAL aggregate by (type, user) and drags the co-grouped
    # approx_count_distinct's ~400-column HLL buffer through every one
    # of those groups (a 412-column intermediate row per (type, user) in
    # the plan — measured 1.53 → 0.85 s standalone min-of-3). The
    # sketch is duplicate-insensitive (each register keeps the max over
    # hashed values, and duplicates hash identically), so HLL over the
    # deduped relation is bit-identical to HLL over the raw stream.
    users = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("exact_users"),
        )
    )
    vals = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_median"),
        F.expr("percentile(value, 0.5)").alias("exact_median"),
        F.count("*").alias("n_events"),
    )
    agg = users.join(F.broadcast(vals), "event_type")
    within = lambda a, x: (F.abs(F.col(a) - F.col(x)) / F.col(x) <= 0.05)  # noqa: E731
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        "exact_median",
        within("approx_users", "exact_users").alias("users_within_5pct"),
        within("approx_median", "exact_median").alias("median_within_5pct"),
    )


@register(
    "events_trend",
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
                   CAST(value AS DECIMAL(18,4)) AS y
            FROM events
        ),
        s AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(y * x) AS DOUBLE) AS sxy
            FROM d GROUP BY event_type
        )
        SELECT event_type, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
        FROM s
        ORDER BY event_type
    """,
    tags=("aggregate", "regression"),
    doc=(
        "Per-entity linear trend (least-squares slope/intercept of value "
        "over day index) from decimal-exact moment sums — one aggregation "
        "pass, closed-form solve, no iteration and no UDF. The manual-"
        "moments form is used instead of regr_slope so both engines compute "
        "from identical exact sums."
    ),
)
def events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    d = e.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("x")).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
    """,
    tags=("tpch", "filter"),
    doc=(
        "TPC-H Q6: pure filter + aggregate — every predicate pushes into the "
        "parquet scan; the whole query is one codegen'd scan stage plus a "
        "1-row aggregate."
    ),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q12_shipmode_priority",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    tags=("tpch", "join", "conditional-agg"),
    doc=(
        "TPC-H Q12 shape: join + conditional aggregation (CASE inside SUM) — "
        "the branchy-counting pattern, one shuffle."
    ),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q19_disjunctive_filter",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
           OR (p_brand = 'Brand#5'  AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10)
           OR (p_type  = 'ECONOMY'  AND l_quantity < 5)
    """,
    tags=("tpch", "join", "disjunction"),
    doc=(
        "TPC-H Q19 shape: disjunctive multi-column predicates across both "
        "join sides — exercises Catalyst's OR-predicate handling and "
        "post-join filtering; part broadcasts."
    ),
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 10))
        | ((F.col("p_type") == "ECONOMY") & (F.col("l_quantity") < 5))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "order_value_deciles",
    oracle="""
        WITH t AS (
            SELECT o_orderkey, o_totalprice,
                   ntile(10) OVER w AS decile,
                   round(coalesce(o_totalprice - lag(o_totalprice) OVER w, 0.0), 6) AS step_up,
                   lead(o_orderkey) OVER w AS next_orderkey
            FROM orders
            WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
        )
        SELECT decile,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
               round(CAST(sum(CAST(step_up AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_steps,
               CAST(count(next_orderkey) AS BIGINT) AS n_with_next
        FROM t
        GROUP BY decile
        ORDER BY decile
    """,
    tags=("window", "ntile"),
    doc=(
        "ntile/lag/lead surface: global deciles of order value with "
        "neighbor deltas, rolled up per decile — WITHOUT the single-task "
        "global window the oracle spells (its plain ntile/lag/lead is "
        "the semantic spec). The distributed form: the exact global rank "
        "comes from distributed_global_rank on the 1e2-quantized price "
        "(injective on distinct prices, so the key orders identically "
        "to the double; a range-partitioned sort numbered by the "
        "distributed sequence id), the decile is NTILE's closed form "
        "(n div 10 per tile, first n mod 10 tiles one larger), and "
        "lag/lead need no per-row window or join: the rank is exact and "
        "DENSE, so a decile's summed steps telescope to its last price "
        "minus the previous decile's last price (min_by/max_by over the "
        "rank), and only the decile holding the global last rank lacks "
        "a lead. At 100 TB every |orders|-sized stage stays parallel."
    ),
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    keyed = orders.withColumn("__k", F.round(F.col("o_totalprice") * 100).cast("long"))
    # The lag/lead surface needs NO
    # neighbor joins and NO checkpoint. Per-row steps over a rank-
    # CONTIGUOUS decile telescope: every step is an exact ≤2-decimal
    # value (o_totalprice carries cents; a double difference of two
    # 2-decimal values rounds to 6 dp exactly), so the oracle's
    # sum(round(price_r - price_{r-1}, 6)) over decile d equals
    # round(last_price_d - last_price_{d-1}, 6) (decile 1: last - first,
    # its first step is COALESCE'd to 0), and count(lead(...)) equals
    # n_orders minus one for the decile holding the global last rank.
    # One |orders|-sized pass (the rank's sort + a min_by/max_by
    # aggregate), then a ≤10-row finishing window.
    ranked = distributed_global_rank(keyed, "__k", "o_orderkey", with_total=True)
    t = ranked.select(
        "o_totalprice",
        F.col("rank").alias("__gr"),
        "__ntot",
        F.expr(
            "CASE WHEN rank <= (__ntot % 10) * ((__ntot div 10) + 1) "
            "THEN (rank - 1) div ((__ntot div 10) + 1) + 1 "
            "ELSE (__ntot % 10) "
            "+ (rank - 1 - (__ntot % 10) * ((__ntot div 10) + 1)) div (__ntot div 10) "
            "+ 1 END"
        )
        .cast("int")
        .alias("decile"),
    )
    per = t.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
        F.min_by("o_totalprice", "__gr").alias("__first"),
        F.max_by("o_totalprice", "__gr").alias("__last"),
        F.max("__gr").alias("__maxr"),
        F.max("__ntot").alias("__ntot"),
    )
    # ≤10 rows from here: the single-task window is a fixed-size floor
    w = W.orderBy("decile")
    return (
        per.select(
            "decile",
            "n_orders",
            "total_price",
            F.round(
                F.col("__last") - F.coalesce(F.lag("__last").over(w), F.col("__first")),
                6,
            ).alias("sum_steps"),
            (
                F.col("n_orders")
                - F.when(F.col("__maxr") == F.col("__ntot"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_with_next"),
        )
        .orderBy("decile")
    )


@register(
    "events_rolling_24h",
    oracle="""
        SELECT event_id, user_id, ts,
               CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS value_24h,
               CAST(count(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_24h
        FROM events
        ORDER BY user_id, ts, event_id
    """,
    tags=("window", "range-frame", "time"),
    doc=(
        "True RANGE window frame (not rows): per-user trailing-24-hour sum/"
        "count over microsecond epochs — the time-based sliding aggregate "
        "rows-frames can't express when events are irregularly spaced. One "
        "shuffle on user_id; the range frame evaluates incrementally."
    ),
)
def events_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    day_us = 24 * 3600 * 1_000_000
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-day_us, 0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("value_24h"),
        F.count("*").over(w).alias("n_24h"),
    )


@register(
    "docs_deterministic_sample",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE ('0x' || substring(md5(text), 1, 4))::BIGINT % 10 = 0
        ORDER BY doc_id
    """,
    tags=("llm", "sampling"),
    doc=(
        "Reproducible ~10% sampling by content hash (md5 prefix mod k) — "
        "unlike TABLESAMPLE/rand(), the sample is stable across engines, "
        "runs, partitionings, and cluster sizes, which is what a training-"
        "data ablation needs. Filter pushes to the scan; no shuffle."
    ),
)
def docs_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 10
    return docs.filter(bucket == 0).select("doc_id", "lang", "n_chars")


@register(
    "profile_lineitem",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty,
               CAST(min(l_shipdate) AS TIMESTAMP) AS min_shipdate,
               CAST(max(l_shipdate) AS TIMESTAMP) AS max_shipdate,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS mean_discount
        FROM lineitem
    """,
    tags=("quality", "profile"),
    doc=(
        "Single-pass table profiling: row/distinct/null counts, ranges, and "
        "means for the fact table in ONE aggregation (no per-column jobs). "
        "The data-quality gate that runs before a 100 TB pipeline stage "
        "commits; every stat is a partial-aggregable expression."
    ),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).alias("null_returnflag"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double") / F.count("*"), 6
        ).alias("mean_discount"),
    )


@register(
    "integrity_checks",
    oracle="""
        SELECT 'lineitem_orphan_orders' AS check_name,
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'orders_orphan_customers',
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        UNION ALL
        SELECT 'customer_orphan_nations',
               CAST((SELECT count(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
        ORDER BY check_name
    """,
    tags=("quality", "antijoin"),
    doc=(
        "Referential-integrity audit: orphan counts across the star "
        "schema's foreign keys via left-anti joins (NOT EXISTS). Each check "
        "is a broadcast anti join against the (smaller) referenced side, and "
        "the three checks union into ONE lazy plan — a single Spark job, not "
        "three eager .count() round-trips — the constraint validation a lake "
        "has to run itself, since parquet enforces nothing."
    ),
)
def integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")

    def orphans(name, child, parent, ckey, pkey):
        return (
            child.join(F.broadcast(parent.select(pkey)), child[ckey] == parent[pkey], "left_anti")
            .agg(F.count("*").cast("long").alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )

    checks = [
        orphans("lineitem_orphan_orders", li, orders, "l_orderkey", "o_orderkey"),
        orphans("orders_orphan_customers", orders, cust, "o_custkey", "c_custkey"),
        orphans("customer_orphan_nations", cust, nation, "c_nationkey", "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


def _rfm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customers-sized RFM aggregate BOTH customer_rfm and
    customers_rfm_segments score from: recency anchored to
    max(o_orderdate) (Spark's datediff casts its timestamp args to DATE,
    so this one expression serves both entries' oracles), frequency, and
    the exact-decimal monetary sum. Checkpointed once per (sf_dir) via
    memo_checkpoint — the two entries together previously paid this
    orders rollup (and its materialization) twice per bench pass."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        orders = table(spark, sf_dir, "orders")
        mx = orders.agg(F.max("o_orderdate").alias("mxd"))
        return (
            orders.crossJoin(F.broadcast(mx))
            .groupBy("o_custkey")
            .agg(
                F.datediff(F.max("mxd").cast("date"), F.max("o_orderdate").cast("date"))
                .cast("long")
                .alias("recency_days"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("monetary"),
            )
        )

    return memo_checkpoint("rfm_base", sf_dir, build)


@register(
    "customer_rfm",
    oracle="""
        WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
        base AS (
            SELECT o_custkey,
                   CAST(CAST(mxd AS DATE) - CAST(max(o_orderdate) AS DATE) AS BIGINT) AS recency_days,
                   count(*) AS frequency,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
            FROM orders, mx
            GROUP BY o_custkey, mxd
        ),
        scored AS (
            SELECT o_custkey AS c_custkey, recency_days, frequency, monetary,
                   ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
                   ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
                   ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
            FROM base
        )
        SELECT CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2 THEN 'champion'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'loyal'
                    WHEN r_score >= 3 AND m_score <= 2 THEN 'at_risk_big_spender'
                    ELSE 'other' END AS segment,
               count(*) AS n_customers,
               CAST(sum(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) AS total_monetary
        FROM scored
        GROUP BY segment
        ORDER BY segment
    """,
    tags=("analytics", "rfm", "window"),
    doc=(
        "RFM customer segmentation: recency anchored to max(o_orderdate) "
        "(no wall clock), frequency, exact-decimal monetary; quartile "
        "scores via distributed_ntile — a range-partitioned sort, the "
        "distributed sequence id and the closed-form NTILE bucket, never "
        "an unpartitioned ORDER BY window, so each score stays parallel at "
        "a billion customers (the oracle's plain ntile is the semantic "
        "spec the distributed form must and does reproduce). Monetary "
        "ranks on its exact 1e4-quantized int64 twin (the decimal sum is "
        "exact to 4 decimals, so quantization is injective on distinct "
        "values — ordering is unchanged); DESC scores negate the key. "
        "Rule-based segment rollup on top."
    ),
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized customers-sized base, shared with customers_rfm_segments:
    # each of the three ntile helpers reads its input for the range
    # sample, the sort and the row count, which would otherwise
    # re-execute the orders rollup lineage each time
    base = _rfm_base(spark, sf_dir)
    # three INDEPENDENT slim score relations off the checkpoint (chaining
    # the helpers would nest them — each would re-run the previous
    # helper's sort), joined back on the customer key
    r = distributed_ntile(
        base.select("o_custkey", "recency_days"), 4, F.col("recency_days"), "o_custkey", "r_score"
    ).select("o_custkey", "r_score")
    f = distributed_ntile(
        base.select("o_custkey", "frequency"), 4, -F.col("frequency"), "o_custkey", "f_score"
    ).select("o_custkey", "f_score")
    m = distributed_ntile(
        base.select("o_custkey", "monetary"),
        4,
        -F.round(F.col("monetary") * 10000),
        "o_custkey",
        "m_score",
    ).select("o_custkey", "m_score")
    scored = base.join(r, "o_custkey").join(f, "o_custkey").join(m, "o_custkey")
    scored = scored.select(
        F.col("o_custkey").alias("c_custkey"),
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )
    segment = (
        F.when((F.col("r_score") == 1) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2), "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "loyal")
        .when((F.col("r_score") >= 3) & (F.col("m_score") <= 2), "at_risk_big_spender")
        .otherwise("other")
    )
    return (
        scored.groupBy(segment.alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,4)")).cast("double").alias("total_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "orders_monthly_growth",
    oracle="""
        WITH monthly AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT month, n_orders, revenue,
               round(CASE WHEN lag(revenue) OVER w IS NOT NULL AND lag(revenue) OVER w <> 0
                          THEN 100.0 * (revenue - lag(revenue) OVER w) / lag(revenue) OVER w
                     END, 6) AS growth_pct
        FROM monthly
        WINDOW w AS (ORDER BY month)
        ORDER BY month
    """,
    tags=("analytics", "time", "window"),
    doc=(
        "Month-over-month revenue growth: monthly rollup (exact decimal "
        "sums) then lag-based percentage change — the KPI-dashboard shape; "
        "first month yields null growth."
    ),
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round(
            F.when(prev.isNotNull() & (prev != 0), F.lit(100.0) * (F.col("revenue") - prev) / prev),
            6,
        ).alias("growth_pct"),
    )


@register(
    "events_funnel",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_signup,
               CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS stage_click_after_signup,
               CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click
                             THEN 1 ELSE 0 END) AS BIGINT) AS stage_full_funnel
        FROM firsts
    """,
    tags=("analytics", "funnel", "events"),
    doc=(
        "Sequential conversion funnel (signup → click → purchase, in time "
        "order): one aggregation computes each user's first event per stage, "
        "ordering predicates gate each stage. No joins, no window sorts — "
        "the funnel is a conditional-min + conditional-count pass."
    ),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(signed, 1).otherwise(0)).alias("stage_signup"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("stage_click_after_signup"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("stage_full_funnel"),
    )


@register(
    "events_cohort_retention",
    oracle="""
        WITH cohorts AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
        )
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
               -- // is integer division; / on ints is float division in DuckDB
               CAST(active_day - cohort_day AS BIGINT) // 7 AS week_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
        FROM cohorts c JOIN activity a USING (user_id)
        WHERE active_day >= cohort_day
        GROUP BY cohort_day, week_offset
        ORDER BY cohort, week_offset
    """,
    tags=("analytics", "cohort", "events"),
    doc=(
        "Cohort retention: users grouped by first-seen day, distinct-active "
        "counts per week offset since the cohort day. Two aggregations and "
        "one join on user_id — the matrix every growth dashboard draws."
    ),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    activity = e.select("user_id", F.col("ts").cast("date").alias("active_day")).distinct()
    return (
        activity.join(cohorts, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            (F.datediff("active_day", "cohort_day").cast("long") / 7).cast("long").alias(
                "week_offset"
            ),
        )
        .filter(F.col("week_offset") >= 0)
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort", "week_offset")
    )


@register(
    "order_rank_metrics",
    oracle="""
        WITH t AS (
            SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume,
                   first_value(o_orderkey) OVER w AS cheapest_order
            FROM orders JOIN customer ON o_custkey = c_custkey
            WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey)
        )
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(pct_rank AS DECIMAL(12,6))) AS DOUBLE), 6) AS sum_pct_rank,
               round(CAST(sum(CAST(cume AS DECIMAL(12,6))) AS DOUBLE), 6) AS sum_cume,
               CAST(min(cheapest_order) AS BIGINT) AS cheapest_order
        FROM t
        GROUP BY segment
        ORDER BY segment
    """,
    tags=("window", "rank-metrics"),
    doc=(
        "Rank-metric window functions (percent_rank, cume_dist, first_value) "
        "over fully tie-broken per-segment orderings, rolled up through "
        "decimal-exact sums so both engines agree to the bit."
    ),
)
def order_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("segment").orderBy("o_totalprice", "o_orderkey")
    t = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice")
        .select(
            "segment",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("o_orderkey").over(w).alias("cheapest_order"),
        )
    )
    return (
        t.groupBy("segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("pct_rank").cast("decimal(12,6)")).cast("double"), 6).alias(
                "sum_pct_rank"
            ),
            F.round(F.sum(F.col("cume").cast("decimal(12,6)")).cast("double"), 6).alias("sum_cume"),
            F.min("cheapest_order").alias("cheapest_order"),
        )
        .orderBy("segment")
    )


@register(
    "grouping_sets_custom",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY status, priority
    """,
    tags=("aggregate", "groupingsets"),
    doc=(
        "Raw GROUPING SETS (neither rollup nor cube): two independent "
        "grouping levels in one Expand + shuffle — completes the grouping-"
        "sets trio alongside rollup_segment_nation and cube_status_priority."
    ),
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame API has rollup/cube but not raw grouping sets → Spark SQL
    orders = table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY status, priority
        """
    )


@register(
    "acctbal_dispersion",
    oracle="""
        WITH s AS (
            SELECT n_name,
                   count(*) AS n,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sxx
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, n,
               round(sx / n, 6) AS mean_bal,
               round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_bal
        FROM s
        WHERE n > 1
        ORDER BY n_name
    """,
    tags=("aggregate", "statistics"),
    doc=(
        "Per-nation balance dispersion from decimal-exact moment sums "
        "(sample stddev via the closed form) — built-in stddev_samp uses "
        "order-dependent streaming updates that differ across engines in "
        "the last ulp; exact moments make both engines agree to the bit."
    ),
)
def acctbal_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    bal = F.col("c_acctbal").cast("decimal(18,4)")
    s = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(bal).cast("double").alias("sx"),
            F.sum(bal * bal).cast("double").alias("sxx"),
        )
    )
    var = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) / (
        F.col("n") * (F.col("n") - F.lit(1.0))
    )
    return (
        s.filter(F.col("n") > 1)
        .select(
            "n_name",
            "n",
            F.round(F.col("sx") / F.col("n"), 6).alias("mean_bal"),
            F.round(F.sqrt(var), 6).alias("stddev_bal"),
        )
        .orderBy("n_name")
    )


@register(
    "events_type_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        FROM seq
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
        ORDER BY prev_type, next_type
    """,
    tags=("analytics", "sequence", "window"),
    doc=(
        "Event-type transition matrix (Markov counts): lag over each user's "
        "time-ordered stream, then a pair-count aggregation — the sequence-"
        "mining primitive behind next-action models; one shuffle on user_id "
        "plus one on the pair key."
    ),
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@register(
    "cube_status_priority",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority
    """,
    tags=("aggregate", "groupingsets"),
    doc="CUBE over (status, priority): all four grouping levels in one Expand + shuffle.",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "events_range_join_binned",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
        ),
        top3 AS (SELECT h FROM hourly ORDER BY n DESC, h LIMIT 3),
        win AS (
            SELECT h, h - INTERVAL 90 MINUTE AS ws, h + INTERVAL 90 MINUTE AS we
            FROM top3
        )
        SELECT strftime(w.h, '%Y-%m-%d %H:%M:%S') AS win_center,
               e.event_type,
               count(*) AS n_events
        FROM events e JOIN win w ON e.ts >= w.ws AND e.ts < w.we
        GROUP BY 1, 2
        ORDER BY win_center, event_type
    """,
    tags=("join", "range", "binned"),
    doc=(
        "Point-in-interval range join via BINNING — the scale pattern for "
        "inequality joins Spark would otherwise plan as a BroadcastNestedLoop "
        "scan of every point against every interval. Intervals here are the "
        "3-hour spans centered on the 3 busiest hours (derived from the data, "
        "no wall clock); each interval EXPLODES to the hour bins it covers and "
        "each event maps to its single bin, so the join is a plain equi-join "
        "on bin followed by the exact containment filter. Cost is "
        "O(|points| + |intervals| x bins_per_interval) regardless of interval "
        "count — at 100 TB the bin key is also the natural partition key. "
        "The oracle states the semantics with the naive inequality join."
    ),
)
def events_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(F.count("*").alias("n"))
    top3 = hourly.orderBy(F.desc("n"), "h").limit(3).select("h")
    win = top3.select(
        "h",
        (F.col("h") - F.expr("INTERVAL 90 MINUTES")).alias("ws"),
        (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("we"),
    )
    # bin granularity = 1 hour: every interval covers a handful of bins,
    # every point exactly one — the equi-join key
    bins = win.select(
        "h",
        "ws",
        "we",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("ws")),
                F.date_trunc("hour", F.col("we") - F.expr("INTERVAL 1 SECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
    )
    pts = e.select("event_type", "ts", F.date_trunc("hour", "ts").alias("bin"))
    joined = pts.join(F.broadcast(bins), "bin").filter(
        (F.col("ts") >= F.col("ws")) & (F.col("ts") < F.col("we"))
    )
    return joined.groupBy(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("win_center"), "event_type"
    ).agg(F.count("*").alias("n_events"))


@register(
    "events_user_totals_salted",
    oracle="""
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
               count(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY total_value DESC, user_id
        LIMIT 20
    """,
    tags=("skew", "aggregate"),
    doc=(
        "Hot-key aggregation, graded against the plain GROUP BY: top-20 "
        "users by decimal-exact total. The plan is the plain per-user "
        "GROUP BY: Spark plans it as a partial HashAggregate on the map "
        "side and a final one after the user_id Exchange, so a "
        "pathologically hot user ships one partial row per map task, "
        "not its raw rows, to its reducer. Decimal partials are closed "
        "under re-aggregation, so the result is bit-identical on any "
        "partitioning, which is exactly what this oracle asserts."
    ),
)
def events_user_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(20)
    )


#: Bucket count for the shuffle-key skew audit (events_key_skew below) —
#: stands in for the post-shuffle partition count whose load balance the
#: audit predicts, and the threshold denominator of its hot-key verdict
#: (one key holding > 1/SKEW_BUCKETS of the rows cannot be balanced by
#: more partitions).
SKEW_BUCKETS = 64


@register(
    "events_adaptive_salted_agg",
    oracle=f"""
        WITH k AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM events WHERE event_type IS NOT NULL
            GROUP BY event_type
        ),
        g AS (
            SELECT CAST(max(n) AS BIGINT) AS topk,
                   CAST(sum(n) AS BIGINT) AS t
            FROM k
        ),
        totals AS (
            SELECT event_type,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events WHERE event_type IS NOT NULL
            GROUP BY event_type
        )
        SELECT tt.event_type, tt.total_value, tt.n_events,
               round(CAST(g.topk AS DOUBLE) / g.t, 6) AS top_key_share,
               (g.topk * {SKEW_BUCKETS} > g.t) AS salted
        FROM totals tt, g
        ORDER BY tt.event_type
    """,
    tags=("events", "skew", "aggregate", "scale"),
    doc=(
        "Audit-graded hot-key aggregation — the loop events_key_skew only "
        "measures, closed: per-key decimal-exact totals plus the audit's "
        "verdict on the same grouping key. The totals are the plain "
        "GROUP BY, which Spark plans as a partial HashAggregate before "
        "the key Exchange and a final one after it, so a hot key ships "
        "one partial row per map task whatever its share. The verdict "
        "inputs — hottest-key rows (topk) and total rows (t), both over "
        "the non-NULL keys — are a max/sum over that same grouped "
        "relation, cross-joined back as one broadcast row, so the whole "
        "entry is one plan with no driver collect. The audit's published "
        f"rule — one key holding more than 1/{SKEW_BUCKETS} of the rows "
        "cannot be balanced by more partitions — travels in the output "
        f"as an exact integer compare (salted = topk x {SKEW_BUCKETS} > "
        "t) next to top_key_share (rounded to 6 decimals), so the "
        "verdict itself is graded. event_type is the graded key: 5 "
        f"values over the corpus (top share ~0.2 >> 1/{SKEW_BUCKETS}) — "
        "the classic low-cardinality hot-key aggregation. Scale shape: "
        "two events scans (the totals and a key-only count for the "
        "verdict row), each combined map-side before its key shuffle, "
        "and a 1-row broadcast; no data-sized relation crosses the "
        "driver."
    ),
)
def events_adaptive_salted_agg(
    spark: SparkSession, sf_dir: str, *, key: str = "event_type"
) -> DataFrame:
    totals = (
        table(spark, sf_dir, "events")
        .filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_dec"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # an empty grouped relation gives a (NULL, NULL) verdict row, and the
    # cross join with no totals rows is the oracle's empty result
    g = totals.agg(
        F.max("n_events").alias("topk"), F.sum("n_events").alias("t")
    )
    return (
        totals.crossJoin(F.broadcast(g))
        .select(
            key,
            F.col("total_dec").cast("double").alias("total_value"),
            "n_events",
            F.round(F.col("topk").cast("double") / F.col("t"), 6).alias(
                "top_key_share"
            ),
            (F.col("topk") * SKEW_BUCKETS > F.col("t")).alias("salted"),
        )
        .orderBy(key)
    )


@register(
    "events_scd2_history",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ),
        chg AS (
            SELECT user_id, event_type, ts AS valid_from, event_id
            FROM seq
            WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version,
               (lead(valid_from) OVER w IS NULL) AS is_current
        FROM chg
        WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        ORDER BY user_id, version
    """,
    tags=("scd2", "window", "changelog"),
    doc=(
        "SCD2 history derived from a changelog (gaps-and-islands change "
        "compression): collapse each user's event stream to the rows where "
        "event_type actually changes, then turn the change points into "
        "versioned [valid_from, valid_to) intervals with an open current "
        "row — the relational twin of the engine-level Scd2Table writer "
        "(currency_etl_spark/scd2.py), built from two window passes over "
        "ONE user_id shuffle (lag to detect changes, lead/row_number to "
        "close intervals — Catalyst reuses the exchange since both windows "
        "partition on the same key). At 100 TB this is the standard "
        "backfill path that rebuilds dimension history from an event log "
        "without any iterative processing; (ts, event_id) gives a total "
        "order so ties are deterministic in both engines."
    ),
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev"),
    )
    chg = seq.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))).select(
        "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    # unordered return: the correctness compare is order-insensitive, and a
    # presentation sort would add a range exchange to an otherwise
    # single-shuffle plan (both windows share the user_id partitioning)
    return chg.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


#: Equi-width histogram bucket count (profiling resolution).
HIST_BUCKETS = 20


@register(
    "lineitem_price_histogram",
    oracle=f"""
        WITH stats AS (
            SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
            FROM lineitem
        ),
        binned AS (
            SELECT CAST(least(floor(((l_extendedprice - lo) / (hi - lo)) * {HIST_BUCKETS}),
                              {HIST_BUCKETS - 1}) AS BIGINT) AS bucket,
                   lo, hi
            FROM lineitem, stats
        )
        SELECT bucket,
               lo + bucket * ((hi - lo) / {HIST_BUCKETS}.0) AS bucket_lo,
               lo + (bucket + 1) * ((hi - lo) / {HIST_BUCKETS}.0) AS bucket_hi,
               count(*) AS n_items
        FROM binned
        GROUP BY bucket, lo, hi
        ORDER BY bucket
    """,
    tags=("profile", "histogram", "aggregate"),
    doc=(
        f"Two-pass equi-width histogram over l_extendedprice ({HIST_BUCKETS} "
        "buckets): pass 1 is a 1-row min/max aggregate, broadcast back via "
        "crossJoin (stays in one lazy plan, no driver round-trip); pass 2 "
        "bins every row with pure arithmetic and aggregates per bucket. The "
        "data-profiling primitive at 100 TB: two scans, one tiny shuffle, "
        "no sort, no sample bias — and the max value clamps into the last "
        "bucket via least(). Bucket bounds are derived with the identical "
        "IEEE expression shape in both engines, so the doubles match "
        "bit-for-bit."
    ),
)
def lineitem_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    nb = HIST_BUCKETS
    bucket = F.least(
        F.floor(((F.col("l_extendedprice") - F.col("lo")) / (F.col("hi") - F.col("lo"))) * nb),
        F.lit(nb - 1),
    ).cast("long")
    width = (F.col("hi") - F.col("lo")) / F.lit(float(nb))
    return (
        li.crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n_items"))
        .select(
            "bucket",
            (F.col("lo") + F.col("bucket") * width).alias("bucket_lo"),
            (F.col("lo") + (F.col("bucket") + 1) * width).alias("bucket_hi"),
            "n_items",
        )
        .orderBy("bucket")
    )


@register(
    "sessions_concurrency_daily",
    oracle="""
        WITH g AS (
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
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM g
        ),
        sess AS (
            SELECT user_id, sid, min(ts) AS st, max(ts) AS en
            FROM s GROUP BY user_id, sid
        ),
        mins AS (
            SELECT unnest(generate_series(date_trunc('minute', st),
                                          date_trunc('minute', en),
                                          INTERVAL 1 MINUTE)) AS minute
            FROM sess
        ),
        per_min AS (SELECT minute, count(*) AS n FROM mins GROUP BY minute)
        SELECT strftime(date_trunc('day', minute), '%Y-%m-%d') AS day,
               CAST(max(n) AS BIGINT) AS peak_concurrent,
               count(*) AS active_minutes
        FROM per_min
        GROUP BY 1
        ORDER BY day
    """,
    tags=("analytics", "interval", "occupancy"),
    doc=(
        "Interval occupancy (peak concurrent sessions per day, minute "
        "resolution): sessionize (same lag+cumsum as events_sessionize), "
        "explode each session into the minutes it covers, count per "
        "minute, take the per-day max. The time-bucketed formulation is "
        "deliberately chosen over the classic +1/-1 running-sum sweep "
        "because the sweep needs ONE globally-ordered prefix sum (a "
        "single-task window at 100 TB), while this shape is embarrassingly "
        "parallel: the explode is bounded by session length (gap-capped), "
        "and both aggregations are ordinary hash shuffles on minute/day. "
        "Days are emitted as ISO strings (DATE serialization differs "
        "across engines)."
    ),
)
def sessions_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    )
    g = e.withColumn(
        "is_new",
        F.when(
            (F.col("us") - F.lag("us").over(w) >= gap_us) | F.lag("ts").over(w).isNull(), 1
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    sess = s.groupBy("user_id", "sid").agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
    mins = sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("minute", F.col("st")),
                F.date_trunc("minute", F.col("en")),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("minute")
    )
    per_min = mins.groupBy("minute").agg(F.count("*").alias("n"))
    return (
        per_min.groupBy(F.date_format(F.date_trunc("day", F.col("minute")), "yyyy-MM-dd").alias("day"))
        .agg(F.max("n").cast("long").alias("peak_concurrent"), F.count("*").alias("active_minutes"))
    )


@register(
    "orders_snapshot_diff",
    oracle="""
        -- Snapshot reconciliation: two deterministic hash-slices of orders
        -- stand in for consecutive table snapshots (md5-modulus, the same
        -- content-hash convention as docs_deterministic_sample). old has
        -- keys k%19 != 0; new has keys k%17 != 0, with o_totalprice bumped
        -- +10 on keys k%7 = 3 — so the diff exercises added, removed,
        -- changed, and unchanged classes in one full outer join.
        WITH keyed AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 7)) AS BIGINT) AS k
            FROM orders
        ),
        old AS (
            SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price
            FROM keyed WHERE k % 19 <> 0
        ),
        new AS (
            SELECT o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,4))
                       + CASE WHEN k % 7 = 3 THEN CAST(10 AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END AS price
            FROM keyed WHERE k % 17 <> 0
        )
        SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.price <> n.price THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               count(*) AS n_rows,
               CAST(sum(coalesce(n.price, CAST(0 AS DECIMAL(18,4)))
                        - coalesce(o.price, CAST(0 AS DECIMAL(18,4)))) AS DOUBLE) AS price_delta
        FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
        GROUP BY 1
        ORDER BY change_type
    """,
    tags=("diff", "setop", "quality"),
    doc=(
        "Table-snapshot reconciliation (the data-migration audit "
        "primitive): full outer join of two snapshots on the key, classify "
        "every row added / removed / changed / unchanged, and roll up "
        "counts plus a decimal-exact value delta per class. One shuffle on "
        "the join key, then a 4-group aggregate; at 100 TB the join "
        "co-locates if both snapshots share bucketing (operators/"
        "bucketing.py), making the diff shuffle-free. Snapshots are "
        "deterministic md5-modulus slices of orders so both engines "
        "derive identical inputs."
    ),
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price0"),
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 7), 16, 10)
        .cast("long")
        .alias("k"),
    )
    old = keyed.filter(F.col("k") % 19 != 0).select(
        F.col("o_orderkey").alias("key_old"), F.col("price0").alias("price_old")
    )
    new = keyed.filter(F.col("k") % 17 != 0).select(
        F.col("o_orderkey").alias("key_new"),
        (
            F.col("price0")
            + F.when(F.col("k") % 7 == 3, F.lit(10).cast("decimal(18,4)")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("price_new"),
    )
    zero = F.lit(0).cast("decimal(18,4)")
    joined = old.join(new, old["key_old"] == new["key_new"], "full_outer")
    return (
        joined.select(
            F.when(F.col("key_old").isNull(), "added")
            .when(F.col("key_new").isNull(), "removed")
            .when(F.col("price_old") != F.col("price_new"), "changed")
            .otherwise("unchanged")
            .alias("change_type"),
            (F.coalesce(F.col("price_new"), zero) - F.coalesce(F.col("price_old"), zero)).alias("d"),
        )
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"), F.sum("d").cast("double").alias("price_delta"))
    )


@register(
    "events_mv_incremental",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_bucket,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY hour_bucket, event_type
        ORDER BY hour_bucket, event_type
    """,
    tags=("events", "incremental", "mv"),
    doc=(
        "Incremental materialized-view maintenance — how a 100 TB hourly "
        "rollup absorbs late data without recomputing the world: a "
        "deterministic 10% of events (event_id % 10 = 0) plays the late "
        "batch that arrived AFTER the standing hourly aggregate was built. "
        "The maintenance plan keeps standing rows for hours the late batch "
        "never touched (left-anti join against the touched-hour list), and "
        "recomputes ONLY the touched hours from their full event set "
        "(broadcast semi-join — partition pruning when the MV and events "
        "are stored partitioned by hour). The oracle is the from-scratch "
        "rollup over all events: equality proves the merge logic loses "
        "nothing, double-counts nothing, and leaves no stale row. Cost "
        "scales with |touched partitions|, not |history| — the same "
        "contract as the warehouse MERGE's partition-pruned rewrite."
    ),
)
def events_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        "event_type",
        "value",
        (F.col("event_id") % 10 == 0).alias("is_late"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("hour_bucket", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )

    standing = rollup(ev.filter(~F.col("is_late")))  # the MV before the late batch
    touched = ev.filter(F.col("is_late")).select(F.col("hour_bucket").alias("t_hour")).distinct()
    # null-SAFE join keys: a NULL ts yields a NULL hour_bucket group that
    # the oracle's GROUP BY aggregates like any other; a non-null-safe
    # anti/semi join would neither retire nor recompute that group and the
    # merge would silently diverge on a corpus with missing timestamps
    kept = standing.join(
        F.broadcast(touched), standing["hour_bucket"].eqNullSafe(touched["t_hour"]), "left_anti"
    )
    # untouched hours contain no late events, so their standing rows are
    # already complete; touched hours recompute from their FULL event set
    recomputed = rollup(
        ev.join(F.broadcast(touched), ev["hour_bucket"].eqNullSafe(touched["t_hour"]), "left_semi")
    )
    return kept.unionByName(recomputed).orderBy("hour_bucket", "event_type")


@register(
    "events_sketch_rollup",
    oracle="""
        -- the two-level sketch pipeline must land within tolerance of the
        -- exact answer; the oracle's TRUE literal makes an out-of-tolerance
        -- merge a hash mismatch (the approx_distinct_stats convention)
        SELECT event_type,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS merged_within_2pct
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("aggregate", "approx", "sketch"),
    doc=(
        "Mergeable-sketch rollup: per-(day, type) HyperLogLog sketches "
        "(hll_sketch_agg) are UNIONED across days per type (hll_union_agg) "
        "and the merged estimate is graded against the exact distinct "
        "count. This is the re-aggregation property approx_distinct_stats "
        "doesn't exercise: at 100 TB the daily sketches are a few KB each "
        "in a rollup table, and any ad-hoc period (week, month, lifetime) "
        "aggregates by sketch union WITHOUT rescanning events — register "
        "maxima are commutative, so the merge is exact w.r.t. the sketch "
        "and deterministic under any partitioning."
    ),
)
def events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts rows are excluded in BOTH engines: Spark's groupBy would
    # otherwise create a d=NULL daily group that the oracle's
    # count(DISTINCT date) skips — a silent row-count drift between them
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("d"), "event_type", "user_id")
    )
    # level 1: the stored daily rollup — one sketch per (day, type)
    daily = e.groupBy("d", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # level 2: ad-hoc period = union of daily sketches, no events rescan
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.02
            ).alias("merged_within_2pct"),
        )
    )


@register(
    "events_anomaly_mad",
    oracle="""
        WITH m1 AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        d AS (
            SELECT e.event_type, abs(e.value - m1.med) AS dev, m1.med
            FROM events e JOIN m1 USING (event_type)
        ),
        m2 AS (
            SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM d GROUP BY event_type
        )
        SELECT d.event_type,
               count(*) AS n_events,
               round(min(d.med), 6) AS med,
               round(min(m2.mad), 6) AS mad,
               CAST(count(*) FILTER (WHERE d.dev > 3 * m2.mad) AS BIGINT) AS n_outliers,
               round(CAST(count(*) FILTER (WHERE d.dev > 3 * m2.mad) AS DOUBLE)
                     / count(*), 6) AS outlier_rate
        FROM d JOIN m2 USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    tags=("aggregate", "quality", "timeseries"),
    doc=(
        "Robust outlier detection per event type: median / MAD (median "
        "absolute deviation) with a 3-MAD fence — the data-quality gate "
        "that, unlike mean/stddev z-scores, outliers themselves cannot "
        "drag. Three passes, each a per-type aggregate with the tiny "
        "(|types|-row) stats broadcast back — at 100 TB the fact table is "
        "scanned, never shuffled, and exact percentile() can be swapped "
        "for approx_percentile when the tolerance budget allows "
        "(approx_distinct_stats shows that form). Exact percentile() "
        "matches DuckDB quantile_cont bit-for-bit on doubles, so the "
        "fence comparisons agree exactly."
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_type", "value")
    m1 = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    d = e.join(F.broadcast(m1), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    m2 = d.groupBy("event_type").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    j = d.join(F.broadcast(m2), "event_type")
    is_out = F.col("dev") > 3 * F.col("mad")
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count_if(is_out).alias("n_outliers"),
            F.round(F.count_if(is_out).cast("double") / F.count(F.lit(1)), 6).alias(
                "outlier_rate"
            ),
        )
    )


@register(
    "events_session_stats",
    oracle="""
        WITH g AS (
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
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM g
        ),
        sess AS (
            SELECT user_id, sid, count(*) AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS dur_s
            FROM s GROUP BY user_id, sid
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS singleton_sessions,
               round(quantile_cont(dur_s, 0.5), 6) AS med_duration_s,
               round(quantile_cont(dur_s, 0.9), 6) AS p90_duration_s,
               round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events_per_session
        FROM sess
    """,
    tags=("timeseries", "session", "aggregate"),
    doc=(
        "Session-duration distribution: gap-based sessionization (the "
        "events_sessionize / streaming_sessions convention, 30-min gap) "
        "rolled up to corpus-level health stats — session count, "
        "single-event bounce sessions, median/p90 duration, events per "
        "session. One window shuffle on user_id + one (user, sid) "
        "aggregate reusing the same partitioning, then a scalar collapse "
        "of session-count-sized data. Durations derive from integer "
        "epoch-µs diffs so both engines compute identical doubles; exact "
        "percentile() matches quantile_cont bit-for-bit."
    ),
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.sessionize import sessionize

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = sessionize(e, gap_s=1800, out_col="sid")
    sess = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1000000.0
        ).alias("dur_s"),
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(F.col("n_events") == 1).alias("singleton_sessions"),
        F.round(F.expr("percentile(dur_s, 0.5)"), 6).alias("med_duration_s"),
        F.round(F.expr("percentile(dur_s, 0.9)"), 6).alias("p90_duration_s"),
        F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_events_per_session"
        ),
    )


@register(
    "orders_weekday_seasonality",
    oracle="""
        SELECT CAST(date_part('isodow', o_orderdate) AS BIGINT) AS isodow,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS order_share
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("aggregate", "timeseries", "date"),
    doc=(
        "Order seasonality by ISO weekday (1=Mon..7=Sun): volume, exact-"
        "decimal revenue, and each weekday's share of orders. One partial/"
        "final aggregate to 7 groups plus a broadcast-sized share window — "
        "scan-bound at any scale. Spark's weekday() (0=Mon) + 1 equals "
        "DuckDB's isodow, pinned explicitly instead of relying on either "
        "engine's 1=Sunday dayofweek()."
    ),
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    o = table(spark, sf_dir, "orders").select(
        (F.weekday("o_orderdate") + 1).cast("long").alias("isodow"), "o_totalprice"
    )
    agg = o.groupBy("isodow").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
    )
    return agg.select(
        "isodow",
        "n_orders",
        "revenue",
        F.round(
            F.col("n_orders").cast("double") / F.sum("n_orders").over(_W.partitionBy()), 6
        ).alias("order_share"),
    )


@register(
    "events_scd2_asof",
    oracle=None,  # composed below from the events_scd2_history oracle
    tags=("scd2", "asof", "window"),
    doc=(
        "Point-in-time (time-travel) lookup over the SCD2 history — the "
        "query the versioned intervals exist to serve: each user's state "
        "valid AS OF an anchor instant (max event time minus 7 days — "
        "data-anchored, never wall-clock). Composes events_scd2_history; "
        "the anchor is a 1-row broadcast scalar, the validity predicate "
        "is a narrow filter over the history, so the whole lookup adds "
        "zero shuffles to the history's single user_id exchange. At "
        "100 TB the history is stored partitioned by valid_from date and "
        "the same predicate prunes to the anchor's partitions."
    ),
)
def events_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = events_scd2_history(spark, sf_dir)
    anchor = (
        table(spark, sf_dir, "events")
        .agg(F.expr("max(ts) - INTERVAL 7 DAYS").alias("t0"))
    )
    return (
        hist.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("valid_from") <= F.col("t0"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("t0")))
        )
        .select("user_id", "event_type", "valid_from", "version")
    )


CATALOG["events_scd2_asof"].oracle = f"""
    WITH hist AS ({CATALOG["events_scd2_history"].oracle}),
    anchor AS (SELECT max(ts) - INTERVAL 7 DAY AS t0 FROM events)
    SELECT h.user_id, h.event_type, h.valid_from, h.version
    FROM hist h, anchor
    WHERE h.valid_from <= anchor.t0
      AND (h.valid_to IS NULL OR h.valid_to > anchor.t0)
    ORDER BY h.user_id
"""


@register(
    "orders_benford",
    oracle="""
        WITH digits AS (
            SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
            FROM orders
            WHERE o_totalprice >= 1
        ),
        counted AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
        )
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share,
               round(log10(1.0 + 1.0 / digit), 6) AS benford,
               round(CAST(n AS DOUBLE) / sum(n) OVER () - log10(1.0 + 1.0 / digit), 6) AS delta
        FROM counted
        ORDER BY digit
    """,
    tags=("quality", "profiling"),
    doc=(
        "Benford's-law first-digit audit over order totals — the classic "
        "fabricated-data / unit-mixup detector a data-quality gate runs "
        "over monetary columns. The leading digit comes from exact integer "
        "formatting (floor -> bigint -> string), never floating log10 of "
        "the value, so the digit assignment is bit-identical across "
        "engines; shares and the Benford expectation log10(1+1/d) are "
        "computed from exact counts. One groupBy on a 9-value key + a "
        "1-partition window over 9 rows — at 100 TB the map-side partial "
        "agg reduces everything before the single tiny shuffle."
    ),
)
def orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    counted = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    total = F.sum("n").over(W.partitionBy())
    share = F.col("n").cast("double") / total
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counted.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(benford, 6).alias("benford"),
        F.round(share - benford, 6).alias("delta"),
    ).orderBy("digit")


@register(
    "events_sliding_wau",
    oracle="""
        WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        days AS (SELECT DISTINCT d AS day FROM pairs),
        agg AS (
            SELECT days.day,
                   CAST(count(DISTINCT CASE WHEN p.d = days.day THEN p.user_id END) AS BIGINT) AS dau,
                   CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau7
            FROM days JOIN pairs p
              ON p.d <= days.day AND p.d >= days.day - INTERVAL 6 DAY
            GROUP BY days.day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau7,
               round(CAST(dau AS DOUBLE) / wau7, 6) AS stickiness
        FROM agg
        ORDER BY day
    """,
    tags=("events", "window", "distinct"),
    doc=(
        "Sliding 7-day distinct active users (WAU) plus same-day DAU and "
        "the DAU/WAU stickiness ratio, per day. Sliding COUNT(DISTINCT) "
        "can't ride a window frame, so the scalable shape is: dedup the "
        "raw stream to (day, user) pairs FIRST (the one big shuffle — at "
        "100 TB this collapses billions of events to ~|users|x|days| "
        "rows), then fan each pair out to its <=7 window-end days as a "
        "NARROW explode of day offsets (never a nested-loop range join — "
        "that would test every pair against every day), keep only "
        "window ends that exist in the data via a broadcast semi-join "
        "against the tiny day dimension, and count distinct per day. DAU "
        "rides the same aggregation as a conditional distinct count — no "
        "second pass over the stream."
    ),
)
def events_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    pairs = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    # One events scan + distinct: a separate `days` dimension derived
    # from pairs would re-execute the whole scan + distinct subtree
    # (Catalyst does not dedupe common subplans), and the semi-join it
    # fed to drop window-end days with no data is HAVING dau >= 1 (a
    # day exists in the data iff some user has a pair exactly on it).
    # The two countDistincts (which planned
    # as an Expand, doubling every exploded row into the shuffle) become
    # an explicit two-level aggregate: dedup (day, user) first — carrying
    # a 0/1 "active on the window-end day itself" flag, duplicate-safe
    # under max() — then count rows (wau7) and sum flags (dau) per day.
    # Same relation, one fewer scan + distinct + Expand, and the wide
    # fanout crosses the wire once instead of twice.
    fan = pairs.select(
        "d",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
    ).withColumn("day", F.date_add(F.col("d"), F.col("off")))
    per_user = fan.groupBy("day", "user_id").agg(
        F.max((F.col("d") == F.col("day")).cast("int")).alias("is_today")
    )
    agg = (
        per_user.groupBy("day")
        .agg(
            F.sum("is_today").alias("dau"),
            F.count(F.lit(1)).alias("wau7"),
        )
        .where(F.col("dau") >= 1)
    )
    return agg.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau7",
        F.round(F.col("dau").cast("double") / F.col("wau7"), 6).alias("stickiness"),
    ).orderBy("day")


@register(
    "events_scd2_fact_version",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ),
        chg AS (
            SELECT user_id, ts, event_id FROM seq
            WHERE prev IS NULL OR prev <> event_type
        )
        SELECT e.event_id, e.user_id, e.ts, e.event_type,
               CAST((SELECT count(*) FROM chg c
                     WHERE c.user_id = e.user_id
                       AND (c.ts < e.ts OR (c.ts = e.ts AND c.event_id <= e.event_id))) AS BIGINT) AS version
        FROM events e
        ORDER BY e.user_id, e.ts, e.event_id
    """,
    tags=("scd2", "window", "temporal-join"),
    doc=(
        "Point-in-time dimension-version assignment for EVERY fact row — "
        "the bulk temporal join that stamps each event with the SCD2 "
        "version (events_scd2_history) active at its timestamp. Because "
        "the history derives from the same keyed stream, the interval "
        "join is eliminated entirely: version is a running count of "
        "change points within one (user_id) window pass — zero joins, one "
        "shuffle, and exact (ts, event_id) tie handling that an interval "
        "join on ts alone would get wrong for same-instant changes. The "
        "oracle proves the equivalence from the join side (an as-of count "
        "per fact row). At 100 TB this join elimination is the difference "
        "between a window over co-partitioned facts and a full "
        "fact-by-dimension range join."
    ),
)
def events_scd2_fact_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    )
    chg = (
        F.when(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1)
        .otherwise(0)
    )
    running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(running).cast("long").alias("version"),
    )


@register(
    "events_ewma_revenue",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
            FROM events GROUP BY 1
        ),
        idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS i FROM daily),
        ew AS (
            SELECT i, day, x, x AS ewma FROM idx WHERE i = 1
            UNION ALL
            SELECT idx.i, idx.day, idx.x, 0.3::DOUBLE * idx.x + 0.7::DOUBLE * ew.ewma
            FROM idx JOIN ew ON idx.i = ew.i + 1
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               x AS revenue,
               round(ewma, 6) AS ewma,
               round(x / lag(ewma) OVER (ORDER BY day), 6) AS ratio
        FROM ew
        ORDER BY day
    """,
    tags=("events", "timeseries", "anomaly", "iterative"),
    doc=(
        "EWMA control chart over daily event revenue (alpha = 0.3): "
        "e_d = 0.3 x_d + 0.7 e_(d-1), plus each day's revenue-to-prior-"
        "smoothed ratio — the classic monitoring gate for ingest-volume "
        "anomalies. The recurrence is inherently sequential, so the "
        "scalable decomposition is: the corpus-sized work is ONE "
        "map-side-combinable daily aggregation; the fold then runs over "
        "the days-sized relation (thousands of rows at any corpus size) "
        "as an ordered-prefix aggregate — sequential where the math "
        "demands it, parallel where the data is. Exact decimal daily "
        "sums enter the fold, and both engines execute the identical "
        "double operation sequence, so results match bit-for-bit against "
        "the recursive-CTE oracle."
    ),
)
def events_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("x")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    xs = F.collect_list("x").over(w)
    ewma = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, v: F.lit(0.3) * v + F.lit(0.7) * acc,
    )
    with_ewma = daily.select("day", "x", ewma.alias("ewma"))
    lagw = W.orderBy("day")
    return with_ewma.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("revenue"),
        F.round("ewma", 6).alias("ewma"),
        F.round(F.col("x") / F.lag("ewma").over(lagw), 6).alias("ratio"),
    ).orderBy("day")


@register(
    "orders_bloom_prefilter",
    oracle="""
        -- the selective-dimension join the planner filters on its own
        SELECT o.o_orderpriority,
               count(*) AS n_orders,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 9000
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("join", "bloom", "runtime-filter"),
    doc=(
        "Selective-dimension join with the row filtering left to the "
        "planner: orders joined to the ~10% customer subset with "
        "acctbal > 9000, then aggregated per priority. Below the "
        "broadcast threshold the planner broadcasts the filtered "
        "customers and the join drops non-matching orders inside the "
        "orders scan stage, before any exchange. Above it, Spark's "
        "built-in runtime Bloom filter "
        "(spark.sql.optimizer.runtime.bloomFilter.enabled, on by default) "
        "prunes the orders side of the shuffle join. Building the "
        "DataFrame runs no Spark job."
    ),
)
def orders_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    dim = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        orders.join(dim, orders["o_custkey"] == dim["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


#: Fixed bin width for the mergeable value-histogram rollup (events.value
#: spans ~[0, 500] in the corpus → ~20 bins).
HIST_BIN_WIDTH = 25.0


@register(
    "events_quantile_rollup",
    oracle=f"""
        -- one-level recompute of the two-level (daily → period) merge:
        -- equality proves the histogram merge loses/duplicates nothing
        WITH binned AS (
            SELECT event_type,
                   CAST(ts AS DATE) AS d,
                   CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        merged AS (
            SELECT event_type, bin, count(*) AS n
            FROM binned GROUP BY event_type, bin
        ),
        totals AS (
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT d) AS n_days
            FROM binned GROUP BY event_type
        ),
        cum AS (
            SELECT event_type, bin, n,
                   sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum_n
            FROM merged
        ),
        picked AS (
            SELECT t.event_type, t.n_events, t.n_days,
                   min(CASE WHEN c.cum_n >= (50 * t.n_events + 99) // 100
                            THEN c.bin END) AS p50_bin,
                   min(CASE WHEN c.cum_n >= (95 * t.n_events + 99) // 100
                            THEN c.bin END) AS p95_bin
            FROM totals t JOIN cum c USING (event_type)
            GROUP BY t.event_type, t.n_events, t.n_days
        ),
        exact AS (
            SELECT event_type,
                   quantile_cont(value, 0.50) AS e50,
                   quantile_cont(value, 0.95) AS e95
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY event_type
        )
        SELECT p.event_type,
               p.n_events,
               p.n_days,
               p.p50_bin * {HIST_BIN_WIDTH} AS p50_bin_lo,
               p.p95_bin * {HIST_BIN_WIDTH} AS p95_bin_lo,
               round(e.e50, 6) AS exact_p50,
               round(e.e95, 6) AS exact_p95
        FROM picked p JOIN exact e USING (event_type)
        ORDER BY p.event_type
    """,
    tags=("aggregate", "approx", "sketch", "timeseries"),
    doc=(
        "Mergeable quantile rollup — the fixed-width-histogram twin of "
        "events_sketch_rollup's HLL story: per-(day, type) bin counts are "
        "the stored daily summary (a few dozen ints each), and any ad-hoc "
        "period answers p50/p95 by SUMMING bins — integer-exact, "
        "commutative, no events rescan. The quantile picks the first bin "
        "whose cumulative count reaches ceil(q·n) (pure integer "
        "arithmetic, no float ceil). The oracle recomputes the merge in "
        "one level and the exact interpolated percentiles from raw "
        "values: equality proves the two-level merge is lossless and "
        "anchors the bin-resolution answer against the exact one. At "
        "100 TB the daily summary table is ~|days|·|types|·|bins| rows — "
        "the period query never touches the fact table."
    ),
)
def events_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
    )
    # level 1: the stored daily rollup — one row per (day, type, bin).
    # `merged` and `totals` below both re-aggregate daily, so the events
    # scan + (d, type, bin) shuffle execute twice. Checkpointing daily
    # eagerly measured slower (min-of-3 same-context 0.924 s vs 0.843 s):
    # the eager build serializes work that otherwise overlaps the `exact`
    # percentile branch on idle cores. On a saturated cluster the
    # checkpoint form wins (one fact scan instead of two); locally the
    # duplicate subtree is free parallelism.
    daily = e.groupBy("d", "event_type", "bin").agg(F.count(F.lit(1)).alias("n"))
    # level 2: ad-hoc period = sum of daily bin counts, no events rescan
    merged = daily.groupBy("event_type", "bin").agg(F.sum("n").alias("n"))
    totals = daily.groupBy("event_type").agg(
        F.sum("n").alias("n_events"), F.countDistinct("d").alias("n_days")
    )
    cum = merged.withColumn(
        "cum_n", F.sum("n").over(W.partitionBy("event_type").orderBy("bin"))
    )
    j = cum.join(F.broadcast(totals), "event_type")
    picked = j.groupBy("event_type", "n_events", "n_days").agg(
        F.min(
            F.when(F.col("cum_n") >= F.expr("(50 * n_events + 99) div 100"), F.col("bin"))
        ).alias("p50_bin"),
        F.min(
            F.when(F.col("cum_n") >= F.expr("(95 * n_events + 99) div 100"), F.col("bin"))
        ).alias("p95_bin"),
    )
    exact = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.50)").alias("e50"),
            F.expr("percentile(value, 0.95)").alias("e95"),
        )
    )
    return (
        picked.join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_days",
            (F.col("p50_bin") * HIST_BIN_WIDTH).alias("p50_bin_lo"),
            (F.col("p95_bin") * HIST_BIN_WIDTH).alias("p95_bin_lo"),
            F.round("e50", 6).alias("exact_p50"),
            F.round("e95", 6).alias("exact_p95"),
        )
        .orderBy("event_type")
    )


#: Z-order audit knobs: interleaved bits per dimension, rows per simulated
#: file, and the number of deterministic value-range splits per level of
#: the percentile selection (_values_at_ranks).
ZORDER_BITS = 16
ZORDER_BUCKET_ROWS = 256
ZORDER_RANGE_SPLITS = 32


def distributed_global_rank(
    df: DataFrame,
    key: str,
    tiebreak: str,
    with_total: bool = False,
) -> DataFrame:
    """Exact global ROW_NUMBER over (key, tiebreak) without a single-task
    global window. Returns df + a ``rank`` column (long, 1-based).

    One plan: ``orderBy(key, tiebreak)`` is Spark's range-partitioned
    sort — its RangePartitioner samples the composite (key, tiebreak)
    order, so a hot key's tie run spreads over several range partitions
    by its tiebreak, and NULL keys rank FIRST (ASC NULLS FIRST) ordered
    by the tiebreak, like any other key. The distributed sequence id
    then numbers the sorted rows by partition index and position
    (``AttachDistributedSequenceExec``: zipWithIndex over the sorted
    RDD). The sampled partition bounds decide only which task sorts a
    row, never its rank, so re-runs agree with the oracle's ROW_NUMBER
    wherever (key, tiebreak) is unique. Besides the query's own job this
    costs the range sample's job and one job counting the sorted
    partitions, which the sequence id caches for that count and releases
    when the query ends. ``with_total=True`` also
    attaches ``__ntot`` (the total row count, identical on every row)
    from a broadcast one-row count in the same plan — callers that need
    n (NTILE's closed form) read it instead of a driver round-trip."""
    # the internal function pandas-on-Spark's 'distributed-sequence'
    # default index attaches (InternalFrame.attach_distributed_sequence_column)
    from pyspark.sql.internal import InternalFunction

    out = df.orderBy(key, tiebreak).select(
        "*", (InternalFunction.distributed_sequence_id() + 1).alias("rank")
    )
    if with_total:
        out = out.crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("__ntot"))))
    return out


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    key,
    tiebreak: str,
    out_col: str,
) -> DataFrame:
    """Exact NTILE(n) OVER (ORDER BY key ASC, tiebreak ASC) without an
    unpartitioned window: distributed_global_rank supplies the global
    row number from a range-partitioned sort, and the tile index follows
    from the closed form both engines define NTILE by — base = n div k
    rows per tile, the first n mod k tiles one row larger. DESC orderings
    negate the key; double keys must be quantized to int64 by the caller
    (exactness rule). NULL keys rank first (Spark's ASC NULLS FIRST —
    note DuckDB defaults to NULLS LAST; the graded callers feed non-null
    keys). Adds ``out_col`` (int, 1-based) and preserves every input
    column — every input row appears exactly once.

    The row count NTILE's closed form needs rides in with the rank
    (``with_total=True``) as a broadcast one-row count, never a collected
    scalar."""
    d = df.withColumn("__ntile_key", key.cast("long"))
    ranked = distributed_global_rank(d, "__ntile_key", tiebreak, with_total=True)
    base = f"(__ntot div {n_tiles})"
    rem = f"(__ntot % {n_tiles})"
    tile = (
        f"CASE WHEN rank <= {rem} * ({base} + 1) "
        f"THEN (rank - 1) div ({base} + 1) + 1 "
        f"ELSE {rem} + (rank - 1 - {rem} * ({base} + 1)) div {base} + 1 END"
    )
    return ranked.withColumn(out_col, F.expr(tile).cast("int")).drop(
        "rank", "__ntile_key", "__ntot"
    )


#: A probed split holding more rows than this is re-split instead of
#: windowed (the skew path of _exact_percentiles_distributed). ~4M rows
#: is comfortably one task's sort; every graded SF sits far below it, so
#: the recursion is exercised by tests (which force it down), not by the
#: bench.
PERCENTILE_MAX_WINDOW_ROWS = 1 << 22


def _values_at_ranks(
    d: DataFrame,
    col: str,
    kmin: int,
    kmax: int,
    ranks: "list[int]",
    max_window_rows: int,
) -> dict:
    """Values at the given 1-based ranks of ``d`` ordered by
    (``__q_key``, ``col``) — distributed selection by recursive range
    splitting. One groupBy job collects the ≤ZORDER_RANGE_SPLITS-row
    split histogram for [kmin, kmax]; the driver routes each wanted rank
    to its (split, local index). Splits small enough (or one key wide —
    unsplittable) resolve together in ONE filtered window job; a split
    the histogram shows oversized recurses on ITS key subrange, whose
    width shrinks ×ZORDER_RANGE_SPLITS per level — so heavy skew costs
    O(log_splits(key range)) extra histogram jobs, never a full sort."""
    from pyspark.sql import Window as W

    width = ((kmax - kmin) // ZORDER_RANGE_SPLITS) + 1
    dd = d.withColumn("__pid", F.expr(f"(__q_key - {kmin}) div {width}"))
    hist = sorted(
        (r["__pid"], r["n"])
        for r in dd.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, cum = [], 0
    for pid, c in hist:
        offsets.append((pid, cum, cum + c, c))
        cum += c
    need: dict = {}
    for w in ranks:
        for pid, lo_off, hi_off, _c in offsets:
            if lo_off < w <= hi_off:
                need.setdefault(pid, set()).add(w - lo_off)
                break
    count_by_pid = {pid: c for pid, _lo, _hi, c in offsets}
    off_by_pid = {pid: lo for pid, lo, _hi, _c in offsets}
    terminal = {
        pid: lrs
        for pid, lrs in need.items()
        if count_by_pid[pid] <= max_window_rows or width == 1
    }
    got: dict = {}
    if terminal:
        local_rank = F.row_number().over(W.partitionBy("__pid").orderBy("__q_key", col))
        probe = None
        for pid, lrs in terminal.items():
            c = (F.col("__pid") == pid) & F.col("__lr").isin(sorted(lrs))
            probe = c if probe is None else (probe | c)
        rows = (
            dd.filter(F.col("__pid").isin(sorted(terminal)))
            .withColumn("__lr", local_rank)
            .filter(probe)
            .select("__pid", "__lr", col)
            .collect()
        )
        got.update({off_by_pid[r["__pid"]] + r["__lr"]: r[col] for r in rows})
    for pid, lrs in need.items():
        if pid in terminal:
            continue
        sub_kmin = kmin + pid * width
        sub_kmax = min(kmax, sub_kmin + width - 1)
        sub = dd.filter(F.col("__pid") == pid).drop("__pid")
        sub_vals = _values_at_ranks(
            sub, col, sub_kmin, sub_kmax, sorted(lrs), max_window_rows
        )
        got.update({off_by_pid[pid] + lr: v for lr, v in sub_vals.items()})
    return got


def _exact_percentiles_distributed(
    df: DataFrame,
    col: str,
    qs: "list[float]",
    scale: int = 100,
    max_window_rows: int = PERCENTILE_MAX_WINDOW_ROWS,
) -> "list[float]":
    """Exact interpolated percentiles of a 2-decimal ``col`` without the
    single-node value-map merge of Spark's builtin ``percentile()``
    (a TypedImperativeAggregate that ships every partition's distinct-
    value map to one reducer — the scale bottleneck AND 3.4 s of
    lineitem_equidepth_histogram's 3.9 s at sf0.1 before this).

    Shape: quantize ``col`` to an integer key (``round(col*scale)`` is
    monotone, so ordering by (key, col) IS ordering by col), then
    _values_at_ranks resolves the floor/ceil ranks of each interpolation
    position by recursive range splitting: a collected
    ≤ZORDER_RANGE_SPLITS-row split histogram routes each rank to its
    (split, local index); small splits window together in one job,
    skew-bloated splits (> ``max_window_rows``) re-split their own key
    subrange — width shrinks ×splits per level, so even a fully
    degenerate distribution resolves in O(log_splits(range)) histogram
    jobs with no task ever sorting more than ``max_window_rows`` rows
    (ties on ONE key are the floor: a single key can't range-split, and
    its run resolves in one window). Driver traffic is histograms plus
    ≤2·len(qs) probed rows at any data size. Interpolation mirrors
    Spark's Percentile.getPercentile formula
    ``(hi-pos)*v_lo + (pos-lo)*v_hi`` (weighted two-point form) so the
    returned doubles are bit-identical to the builtin's — asserted in
    tests/test_distributed_percentile.py, including with
    ``max_window_rows`` forced low enough to recurse."""
    import math

    vals = df.select(
        F.col(col), F.round(F.col(col) * scale).cast("long").alias("__q_key")
    )
    ext = vals.agg(
        F.min("__q_key").alias("kmin"),
        F.max("__q_key").alias("kmax"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    kmin, kmax, n = ext["kmin"], ext["kmax"], ext["n"]
    if kmin is None:
        return [float("nan")] * len(qs)
    positions = [(n - 1) * q for q in qs]
    want = sorted(
        {int(math.floor(p)) + 1 for p in positions}
        | {int(math.ceil(p)) + 1 for p in positions}
    )
    got = _values_at_ranks(vals, col, kmin, kmax, want, max_window_rows)
    out = []
    for p in positions:
        lo, hi = int(math.floor(p)), int(math.ceil(p))
        if lo == hi:
            out.append(float(got[lo + 1]))
        else:
            out.append((hi - p) * float(got[lo + 1]) + (p - lo) * float(got[hi + 1]))
    return out


def _morton_sql(u: str, h: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave expression (Morton/Z-value) shared VERBATIM by the
    Spark builder and the DuckDB oracle — both engines parse the same
    `>> & <<` integer arithmetic, so parity holds by construction."""
    terms = []
    for i in range(bits):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({h} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "events_zorder_audit",
    oracle=f"""
        WITH base AS (
            SELECT event_id, user_id AS u, epoch_us(ts) AS us
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        s AS (SELECT min(us) AS min_us, max(us) AS max_us,
                     min(u) AS min_u, max(u) AS max_u FROM base),
        m AS (
            SELECT event_id, u, us, (us - s.min_us) // 3600000000 AS h
            FROM base, s
        ),
        z AS (SELECT event_id, u, h, us, {_morton_sql('u', 'h')} AS zval FROM m),
        zr AS (SELECT u, h, (ROW_NUMBER() OVER (ORDER BY zval, event_id) - 1)
                            // {ZORDER_BUCKET_ROWS} AS bucket FROM z),
        lr AS (SELECT u, h, (ROW_NUMBER() OVER (ORDER BY us, event_id) - 1)
                            // {ZORDER_BUCKET_ROWS} AS bucket FROM z),
        zb AS (SELECT bucket, min(u) AS umin, max(u) AS umax,
                      min(h) AS hmin, max(h) AS hmax FROM zr GROUP BY bucket),
        lb AS (SELECT bucket, min(u) AS umin, max(u) AS umax,
                      min(h) AS hmin, max(h) AS hmax FROM lr GROUP BY bucket),
        box AS (
            SELECT s.min_u + ((s.max_u - s.min_u) * 7) // 16 AS u_lo,
                   s.min_u + ((s.max_u - s.min_u) * 8) // 16 AS u_hi,
                   (((s.max_us - s.min_us) // 3600000000) * 7) // 16 AS h_lo,
                   (((s.max_us - s.min_us) // 3600000000) * 8) // 16 AS h_hi
            FROM s
        )
        SELECT 'linear' AS layout, count(*) AS n_buckets,
               round(CAST(sum(umax - umin) AS DOUBLE) / count(*), 6) AS avg_user_span,
               round(CAST(sum(hmax - hmin) AS DOUBLE) / count(*), 6) AS avg_hour_span,
               CAST(count(*) FILTER (WHERE umax >= box.u_lo AND umin <= box.u_hi
                                       AND hmax >= box.h_lo AND hmin <= box.h_hi)
                    AS BIGINT) AS buckets_touched
        FROM lb, box
        UNION ALL
        SELECT 'zorder', count(*),
               round(CAST(sum(umax - umin) AS DOUBLE) / count(*), 6),
               round(CAST(sum(hmax - hmin) AS DOUBLE) / count(*), 6),
               CAST(count(*) FILTER (WHERE umax >= box.u_lo AND umin <= box.u_hi
                                       AND hmax >= box.h_lo AND hmin <= box.h_hi)
                    AS BIGINT)
        FROM zb, box
        ORDER BY layout
    """,
    tags=("layout", "zorder", "skipping", "timeseries"),
    doc=(
        "Z-order layout audit — quantifies what OPTIMIZE ZORDER BY "
        "(user_id, hour) buys for data skipping: events are packed into "
        "fixed-size simulated files under two layouts (arrival/time order "
        "vs Morton-interleaved (user, hour) order) and each layout "
        "reports per-file min/max spans of both dimensions plus how many "
        "files a 2-D box predicate must touch. Z-order trades a slightly "
        "wider time span per file for a dramatically narrower user span, "
        "so the 2-D probe touches a fraction of the files — min/max "
        "file-skipping is exactly what parquet/Delta stats give at "
        "100 TB. The global file rank is computed WITHOUT a single-task "
        "global window: distributed_global_rank's range-partitioned sort "
        "on (key, event_id) numbered by the distributed sequence id "
        "(zipWithIndex over the sorted partitions) — the sampled "
        "partition bounds pick which task sorts a row, never its rank, "
        "so it is oracle-proven equal to the plain global ROW_NUMBER."
    ),
)
def events_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("event_id", F.col("user_id").alias("u"), F.unix_micros("ts").alias("us"))
    )
    s = base.agg(
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
        F.min("u").alias("min_u"),
        F.max("u").alias("max_u"),
    )
    # checkpointed ONCE: each layout's rank reads its input for the range
    # sample and again for the sort, so without this the events scan +
    # Morton interleave runs ~4x; the materialized relation is exactly
    # what OPTIMIZE ZORDER would stage before rewriting files
    z = swap_checkpoint(
        "zorder_audit_z",
        base.crossJoin(F.broadcast(s))
        .withColumn("h", F.expr("(us - min_us) div 3600000000"))
        .withColumn("zval", F.expr(_morton_sql("u", "h"))),
    )

    def bucketed(df: DataFrame, key: str) -> DataFrame:
        return (
            # a range-partitioned sort: the rank runs in as many
            # parallel sort tasks as the shuffle has partitions, so the
            # task count scales with |events| at 100 TB
            distributed_global_rank(df, key, "event_id")
            .withColumn("bucket", F.expr(f"(rank - 1) div {ZORDER_BUCKET_ROWS}"))
            .groupBy("bucket")
            .agg(
                F.min("u").alias("umin"),
                F.max("u").alias("umax"),
                F.min("h").alias("hmin"),
                F.max("h").alias("hmax"),
            )
        )

    box = s.select(
        (F.col("min_u") + F.expr("((max_u - min_u) * 7) div 16")).alias("u_lo"),
        (F.col("min_u") + F.expr("((max_u - min_u) * 8) div 16")).alias("u_hi"),
        F.expr("(((max_us - min_us) div 3600000000) * 7) div 16").alias("h_lo"),
        F.expr("(((max_us - min_us) div 3600000000) * 8) div 16").alias("h_hi"),
    )

    def metrics(b: DataFrame, layout: str) -> DataFrame:
        touched = (
            (F.col("umax") >= F.col("u_lo"))
            & (F.col("umin") <= F.col("u_hi"))
            & (F.col("hmax") >= F.col("h_lo"))
            & (F.col("hmin") <= F.col("h_hi"))
        )
        return (
            b.crossJoin(F.broadcast(box))
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.round(
                    F.sum(F.col("umax") - F.col("umin")).cast("double") / F.count(F.lit(1)), 6
                ).alias("avg_user_span"),
                F.round(
                    F.sum(F.col("hmax") - F.col("hmin")).cast("double") / F.count(F.lit(1)), 6
                ).alias("avg_hour_span"),
                F.count_if(touched).alias("buckets_touched"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )

    return (
        metrics(bucketed(z, "us"), "linear")
        .unionByName(metrics(bucketed(z, "zval"), "zorder"))
        .orderBy("layout")
    )


#: Modulus for the order-invariant row-checksum fold (prime; keeps the
#: int64 running sum far from overflow under ANSI arithmetic).
CHECKSUM_MOD = 1_000_000_007


@register(
    "tables_row_checksum",
    oracle=f"""
        -- identical md5-projected fold on both engines: concat_ws of
        -- integer/string key columns formats identically, the first 15
        -- md5 hex chars parse to the same 60-bit int, and the summed
        -- residues are order-invariant
        SELECT 'customer' AS table_name,
               count(*) AS n_rows,
               CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                        c_custkey, c_nationkey, c_mktsegment)), 1, 15)) AS BIGINT)
                        % {CHECKSUM_MOD}) % {CHECKSUM_MOD} AS BIGINT) AS checksum
        FROM customer
        UNION ALL
        SELECT 'orders',
               count(*),
               CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                        o_orderkey, o_custkey, o_orderstatus)), 1, 15)) AS BIGINT)
                        % {CHECKSUM_MOD}) % {CHECKSUM_MOD} AS BIGINT)
        FROM orders
        ORDER BY table_name
    """,
    tags=("quality", "integrity", "checksum"),
    doc=(
        "Order-invariant table fingerprint — the anti-entropy primitive "
        "for replica/migration validation at 100 TB: each row's key "
        "columns fold to a 60-bit md5 projection, residues SUM modulo a "
        "prime (commutative, so any partitioning/ordering of the scan "
        "yields the same checksum), and two sides compare (n_rows, "
        "checksum) per table instead of shipping data. A narrow map + "
        "one 1-row aggregate per table — scan-speed verification; at "
        "scale run it per partition and compare partition manifests to "
        "localize divergence. Only integer/string columns join the "
        "digest (float/timestamp formatting is engine-specific — the "
        "decimal-exact convention elsewhere exists for the same reason)."
    ),
)
def tables_row_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    def folded(df: DataFrame, name: str, cols: list) -> DataFrame:
        sig = (
            F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10)
            .cast("long")
            % CHECKSUM_MOD
        )
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(sig) % CHECKSUM_MOD).cast("long").alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    cust = folded(
        table(spark, sf_dir, "customer"),
        "customer",
        ["c_custkey", "c_nationkey", "c_mktsegment"],
    )
    orders = folded(
        table(spark, sf_dir, "orders"),
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus"],
    )
    return cust.unionByName(orders).orderBy("table_name")


@register(
    "events_hourly_interpolate",
    oracle="""
        WITH totals AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
        ),
        span AS (SELECT min(h) AS lo, max(h) AS hi FROM totals),
        grid AS (
            SELECT t.event_type, g.h
            FROM (SELECT DISTINCT event_type FROM totals) t,
                 (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                  FROM span) g
        ),
        joined AS (
            SELECT g.event_type, g.h, tt.v FROM grid g
            LEFT JOIN totals tt ON g.event_type = tt.event_type AND g.h = tt.h
        ),
        ctx AS (
            SELECT event_type, h, v,
                   last_value(v IGNORE NULLS) OVER w_prev AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER w_prev AS ph,
                   first_value(v IGNORE NULLS) OVER w_next AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER w_next AS nh
            FROM joined
            WINDOW
              w_prev AS (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING),
              w_next AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type,
               strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
               round(CASE WHEN v IS NOT NULL THEN v
                          ELSE pv + (nv - pv)
                               * (CAST((epoch_us(h) - epoch_us(ph)) // 3600000000 AS DOUBLE)
                                  / CAST((epoch_us(nh) - epoch_us(ph)) // 3600000000 AS DOUBLE))
                     END, 6) AS value,
               (v IS NULL) AS is_interpolated
        FROM ctx
        WHERE v IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
        ORDER BY event_type, hour
    """,
    tags=("timeseries", "interpolation", "gapfill"),
    doc=(
        "Linear gap interpolation — the repair stage events_daily_gapfill "
        "(zero-fill) deliberately doesn't do: hourly per-type revenue "
        "series with interior gaps filled by linear interpolation between "
        "the nearest present hours (leading/trailing gaps stay absent — "
        "no data invented beyond the series). One shuffle builds the "
        "hourly rollup; the grid explode and both direction-scans "
        "(last/first IGNORE NULLS over mirrored frames) share the single "
        "per-type partition. Interpolation weights are integer hour "
        "offsets divided in double — identical IEEE ops in both engines. "
        "At 100 TB the grid is |types|·|hours| (tiny vs the fact table) "
        "and the window state is one value per direction."
    ),
)
def events_hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    totals = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    )
    span = totals.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = totals.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h"),
    )
    joined = grid.join(totals, ["event_type", "h"], "left")
    w_prev = W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.partitionBy("event_type").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    present_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = joined.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(present_h, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(present_h, ignorenulls=True).over(w_next).alias("nh"),
    )
    frac = (
        F.expr("(unix_micros(h) - unix_micros(ph)) div 3600000000").cast("double")
        / F.expr("(unix_micros(nh) - unix_micros(ph)) div 3600000000").cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return (
        ctx.filter(
            F.col("v").isNotNull() | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.round(filled, 6).alias("value"),
            F.col("v").isNull().alias("is_interpolated"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "events_type_correlation",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   sum(CAST(value AS DECIMAL(18,4))) AS v
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
        ),
        span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        grid AS (
            SELECT t.event_type, g.d,
                   COALESCE(dd.v, CAST(0 AS DECIMAL(18,4))) AS v
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
                        FROM span) g
            LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = g.d
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.v AS x, b.v AS y
            FROM grid a JOIN grid b ON a.d = b.d AND a.event_type < b.event_type
        ),
        moments AS (
            SELECT type_a, type_b,
                   count(*) AS n_days,
                   CAST(sum(x) AS DOUBLE) AS sx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x * y) AS DOUBLE) AS sxy,
                   CAST(sum(x * x) AS DOUBLE) AS sxx,
                   CAST(sum(y * y) AS DOUBLE) AS syy
            FROM pairs GROUP BY 1, 2
        )
        SELECT type_a, type_b, n_days,
               round((n_days * sxy - sx * sy)
                     / (sqrt(n_days * sxx - sx * sx) * sqrt(n_days * syy - sy * sy)),
                     6) AS corr
        FROM moments
        ORDER BY type_a, type_b
    """,
    tags=("analytics", "statistics", "timeseries"),
    doc=(
        "Pairwise Pearson correlation between event types' zero-filled "
        "daily revenue series — deterministic where a naive corr() is "
        "not: every moment (Sx, Sy, Sxy, Sxx, Syy) accumulates in exact "
        "DECIMAL (4-decimal inputs → 8-decimal products, no float "
        "summation order anywhere), casts to double once, and the closed "
        "form runs in correctly-rounded IEEE ops (sqrt IS exact-rounded "
        "per IEEE-754 — unlike log, it's safe cross-engine). The fact "
        "table aggregates once to |types|·|days| rows; the pair join and "
        "moment aggregation run on that tiny relation — at 100 TB this "
        "is the scan plus noise, and the same decimal-moment shape "
        "yields covariance matrices for feature stores."
    ),
)
def events_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the (type, day) rollup is tiny and feeds FOUR references (span,
    # the type list, and the gap-filled grid that self-joins) —
    # unmaterialized, each re-runs the events scan + daily aggregate
    # (6 parquet scans in the plan instead of 1)
    daily = swap_checkpoint(
        "typecorr_daily",
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("v")),
    )
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"))
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce(F.col("v"), F.lit(0).cast("decimal(18,4)")).alias("v"),
        )
    )
    a = grid.select(
        F.col("event_type").alias("type_a"), F.col("d").alias("d"), F.col("v").alias("x")
    )
    b = grid.select(
        F.col("event_type").alias("type_b"), F.col("d").alias("d2"), F.col("v").alias("y")
    )
    pairs = a.join(b, (F.col("d") == F.col("d2")) & (F.col("type_a") < F.col("type_b")))
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_days").cast("double")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("type_a", "type_b", "n_days", F.round(corr, 6).alias("corr")).orderBy(
        "type_a", "type_b"
    )


@register(
    "customers_rfm_segments",
    oracle="""
        WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
        base AS (
            SELECT o.o_custkey AS c_custkey,
                   date_diff('day', max(o.o_orderdate), a.mx) AS recency_days,
                   count(*) AS frequency,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
            FROM orders o, anchor a
            GROUP BY o.o_custkey, a.mx
        ),
        scored AS (
            SELECT c_custkey, recency_days, frequency, monetary,
                   CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS BIGINT) AS r_score,
                   CAST(ntile(5) OVER (ORDER BY frequency ASC, c_custkey) AS BIGINT) AS f_score,
                   CAST(ntile(5) OVER (ORDER BY monetary ASC, c_custkey) AS BIGINT) AS m_score
            FROM base
        )
        SELECT CASE
                 WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                 WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                 WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                 WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                 ELSE 'regular'
               END AS segment,
               count(*) AS n_customers,
               CAST(sum(frequency) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(round(monetary * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000, 4) AS total_monetary
        FROM scored
        GROUP BY 1
        ORDER BY segment
    """,
    tags=("analytics", "segmentation", "window"),
    doc=(
        "RFM customer segmentation — recency/frequency/monetary quintile "
        "scores (ties broken by custkey so both engines cut identically) "
        "folded into named segments. One orders aggregate per customer, "
        "then three distributed_ntile passes — range-partitioned sorts "
        "numbered by the distributed sequence id + closed-form NTILE "
        "buckets, never an unpartitioned ORDER BY window, so each score "
        "stays parallel "
        "at a billion customers while the oracle's plain ntile(5) "
        "remains the semantic spec. Monetary ranks on its exact 1e4-"
        "quantized int64 twin (injective on distinct values — ordering "
        "unchanged); the recency DESC score negates the key. Monetary "
        "sums fold decimal-exact (int64-quantized before the cross-"
        "customer re-sum — the float-sum determinism rule). The scores "
        "are the broadcast-able dimension a campaign join consumes."
    ),
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME once-materialized customers-sized base customer_rfm reads
    # (memo_checkpoint: built once per sf_dir, not once per entry)
    base = _rfm_base(spark, sf_dir).withColumnRenamed("o_custkey", "c_custkey")
    # independent slim score relations off the checkpoint, joined back
    # (see customer_rfm for why the helpers must not chain)
    r = distributed_ntile(
        base.select("c_custkey", "recency_days"), 5, -F.col("recency_days"), "c_custkey", "r_score"
    ).select("c_custkey", "r_score")
    f = distributed_ntile(
        base.select("c_custkey", "frequency"), 5, F.col("frequency"), "c_custkey", "f_score"
    ).select("c_custkey", "f_score")
    m = distributed_ntile(
        base.select("c_custkey", "monetary"),
        5,
        F.round(F.col("monetary") * 10000),
        "c_custkey",
        "m_score",
    ).select("c_custkey", "m_score")
    scored = base.join(r, "c_custkey").join(f, "c_custkey").join(m, "c_custkey")
    scored = scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return (
        scored.groupBy(segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("frequency").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("monetary") * 10000).cast("long")).cast("double") / 10000, 4
            ).alias("total_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "parts_revenue_pareto",
    oracle="""
        WITH rev AS (
            SELECT l_partkey AS p_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS revenue
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT p_partkey, revenue,
                   ROW_NUMBER() OVER (ORDER BY revenue DESC, p_partkey) AS rnk,
                   count(*) OVER () AS n_parts,
                   sum(revenue) OVER () AS total
            FROM rev
        ),
        bucketed AS (
            SELECT ((rnk - 1) * 10) // n_parts AS decile,
                   revenue, total, n_parts
            FROM ranked
        ),
        curve AS (
            SELECT decile,
                   count(*) AS n_parts_in_decile,
                   sum(revenue) AS decile_revenue,
                   max(total) AS total,
                   max(n_parts) AS n_parts
            FROM bucketed GROUP BY decile
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(n_parts_in_decile AS BIGINT) AS n_parts_in_decile,
               CAST(decile_revenue AS DOUBLE) AS decile_revenue,
               round(CAST(sum(decile_revenue) OVER (ORDER BY decile) AS DOUBLE)
                     / CAST(max(total) OVER () AS DOUBLE), 6) AS cum_share
        FROM curve
        ORDER BY decile
    """,
    tags=("analytics", "pareto", "window"),
    doc=(
        "Revenue-concentration (Pareto) curve: parts ranked by lineitem "
        "revenue, packed into rank deciles, each reporting its exact "
        "decimal revenue and the cumulative share — the 80/20 diagnostic "
        "behind assortment and capacity planning. The rank runs on the "
        "parts-sized AGGREGATE (|parts| rows, not |lineitem|) through "
        "distributed_global_rank — a range-partitioned sort numbered "
        "by the distributed sequence id, DESC via exact key negation — "
        "and the row count rides in with the rank as a broadcast "
        "one-row count (with_total); the only remaining ordered window "
        "touches the 10-row decile curve."
    ),
)
def parts_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    rev = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("revenue"))
    )
    # materialize the parts-sized rollup once: the distributed rank
    # reads its input for the range sample, the sort and the row count,
    # and the grand total once more — without this the lineitem scan +
    # groupBy would re-run each time
    rev = swap_checkpoint("parts_pareto_rev", rev)
    # revenue DESC == negated exact int64 key ASC (decimal(18,4)·10⁴ is
    # an exact integer), partkey tie-break unchanged
    keyed = rev.withColumn("__k", F.expr("CAST(-(revenue * 10000) AS BIGINT)"))
    ranked = distributed_global_rank(keyed, "__k", "p_partkey", with_total=True).select(
        "revenue",
        F.col("rank").alias("rnk"),
        F.col("__ntot").alias("n_parts"),
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    curve = (
        ranked.withColumn("decile", F.expr("((rnk - 1) * 10) div n_parts"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_parts_in_decile"),
            F.sum("revenue").alias("decile_revenue"),
        )
        .crossJoin(F.broadcast(tot))
    )
    cum = F.sum("decile_revenue").over(W.orderBy("decile"))
    return (
        curve.select(
            F.col("decile").cast("long").alias("decile"),
            "n_parts_in_decile",
            F.col("decile_revenue").cast("double").alias("decile_revenue"),
            F.round(cum.cast("double") / F.col("total").cast("double"), 6).alias(
                "cum_share"
            ),
        )
        .orderBy("decile")
    )


#: Market-basket frequent-part prefilter: pairs are only generated among the
#: BASKET_TOP_PARTS most order-frequent parts (ties broken by partkey, so
#: the cut is identical in both engines). This is the standard frequent-
#: itemset pruning (Apriori's first pass): at 100 TB the candidate-pair
#: space is |top|², never |parts|², and the top table broadcasts.
BASKET_TOP_PARTS = 200
BASKET_MIN_PAIR = 2


@register(
    "orders_market_basket",
    oracle=f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        freq AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY l_partkey),
        top AS (
            SELECT l_partkey, cnt FROM freq
            ORDER BY cnt DESC, l_partkey LIMIT {BASKET_TOP_PARTS}
        ),
        fli AS (
            SELECT li.l_orderkey, li.l_partkey, t.cnt
            FROM li JOIN top t USING (l_partkey)
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   max(a.cnt) AS cnt_a, max(b.cnt) AS cnt_b,
                   count(*) AS pair_count
            FROM fli a JOIN fli b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        ),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
        SELECT part_a, part_b, CAST(pair_count AS BIGINT) AS pair_count,
               round(CAST(pair_count * n_orders AS DOUBLE)
                     / (cnt_a * cnt_b), 6) AS lift
        FROM pairs, n
        WHERE pair_count >= {BASKET_MIN_PAIR}
        ORDER BY lift DESC, part_a, part_b
        LIMIT 25
    """,
    tags=("analytics", "join", "topk", "basket"),
    doc=(
        "Market-basket affinity: lift of part pairs co-purchased in the "
        "same order, restricted to the top-200 most frequent parts "
        "(Apriori-style candidate pruning). The plan is the scalable "
        "shape: a distinct (orderkey, partkey) projection, a broadcast "
        "semi-reduction against the frequent-part table, ONE shuffle on "
        "orderkey for the self-join (pairs materialize per order, never "
        "globally), and a TakeOrderedAndProject on rounded lift. "
        "lift = P(a,b)/(P(a)P(b)) from integer counts — both engines "
        "compute the identical double. At 100 TB the frequent-part pass "
        "is a partial-agg count, the pair space is capped at top², and "
        "the order-local pair fanout is bounded by basket size."
    ),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The distinct (orderkey, partkey) basket relation feeds FOUR
    # branches (frequent-part table, both self-join sides, the n_orders
    # scalar); Catalyst does not dedupe common subplans, so unmaterialized
    # it re-runs the lineitem scan + distinct shuffle five times (5 parquet
    # scans + 5 distinct HashAggregates in the plan instead of 1).
    # Materialize it once — at 100 TB this is the persist(MEMORY_AND_DISK)
    # a production basket job would put on its deduped fact anyway
    # (reused AND expensive to recompute).
    li = swap_checkpoint(
        "basket_li",
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct(),
    )
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), "l_partkey").limit(BASKET_TOP_PARTS)
    fli = li.join(F.broadcast(top), "l_partkey")
    a = fli.select(
        "l_orderkey", F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    b = fli.select(
        "l_orderkey", F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.max("cnt_a").alias("cnt_a"),
            F.max("cnt_b").alias("cnt_b"),
            F.count(F.lit(1)).alias("pair_count"),
        )
    )
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    lift = F.round(
        (F.col("pair_count") * F.col("n_orders")).cast("double")
        / (F.col("cnt_a") * F.col("cnt_b")),
        6,
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .where(F.col("pair_count") >= BASKET_MIN_PAIR)
        .select("part_a", "part_b", "pair_count", lift.alias("lift"))
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )


@register(
    "customers_interorder_gap",
    oracle="""
        WITH g AS (
            SELECT o_custkey,
                   date_diff('day',
                             lag(o_orderdate) OVER (
                                 PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap
            FROM orders
        ),
        per_cust AS (
            SELECT o_custkey, count(*) AS n_gaps,
                   sum(gap) AS sum_gap, max(gap) AS max_gap
            FROM g WHERE gap IS NOT NULL
            GROUP BY o_custkey
        )
        SELECT c.c_mktsegment AS mktsegment,
               count(*) AS n_repeat_customers,
               CAST(sum(p.n_gaps) AS BIGINT) AS n_gaps,
               round(CAST(sum(p.sum_gap) AS DOUBLE) / sum(p.n_gaps), 4)
                   AS avg_gap_days,
               CAST(max(p.max_gap) AS BIGINT) AS max_gap_days
        FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY mktsegment
    """,
    tags=("analytics", "window", "join"),
    doc=(
        "Inter-order gap (repurchase cadence) per market segment: per-"
        "customer lag() over order date (ties broken by orderkey so both "
        "engines see the same predecessor), day gaps folded to exact "
        "integer sums per customer, then one segment-level aggregate "
        "after a customer-dimension join. The window partitions by "
        "custkey — millions of small independent partitions, no global "
        "sort — and the join runs on the per-customer AGGREGATE "
        "(|customers| rows, not |orders|). avg is exact-int sum / count "
        "in double, identical across engines."
    ),
)
def customers_interorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long")
    per_cust = (
        orders.select("o_custkey", gap.alias("gap"))
        .where(F.col("gap").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("sum_gap"),
            F.max("gap").alias("max_gap"),
        )
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_repeat_customers"),
            F.sum("n_gaps").alias("n_gaps"),
            F.round(F.sum("sum_gap").cast("double") / F.sum("n_gaps"), 4).alias(
                "avg_gap_days"
            ),
            F.max("max_gap").alias("max_gap_days"),
        )
        .orderBy("mktsegment")
    )


#: Linear multi-touch attribution window: a purchase credits every click
#: by the same user in the preceding ATTRIB_HOURS hours, equally.
ATTRIB_HOURS = 24


@register(
    "events_click_attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
        ),
        j AS (
            SELECT p.p_id, p.value, c.c_ts,
                   count(*) OVER (PARTITION BY p.p_id) AS n_touch
            FROM purchases p JOIN clicks c
              ON p.user_id = c.user_id
             AND c.c_ts < p.p_ts
             AND c.c_ts >= p.p_ts - INTERVAL {ATTRIB_HOURS} HOUR
        )
        SELECT strftime(c_ts, '%Y-%m-%d') AS click_day,
               count(*) AS n_credited_clicks,
               count(DISTINCT p_id) AS n_purchases_touched,
               round(CAST(sum(CAST(round(value / n_touch * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000, 4) AS attributed_rev
        FROM j
        GROUP BY strftime(c_ts, '%Y-%m-%d')
        ORDER BY click_day
    """,
    tags=("events", "attribution", "range-join", "window"),
    doc=(
        "Linear multi-touch attribution: each purchase's value is split "
        "equally across the same user's clicks in the preceding 24 h, and "
        "credit rolls up by click day — the marketing question 'which "
        "day's engagement drove revenue'. The range join keys on user_id "
        "(one shuffle; per-user event lists are small, so the bounded "
        "time predicate is a cheap intra-partition filter — the binned "
        "form in events_range_join_binned is the slot-in if a power user "
        "skews a key). Per-click credit value/n is 1e6-quantized before "
        "the cross-partition day sum, so totals are exact and partition-"
        "order-independent in both engines."
    ),
)
def events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    j = (
        purchases.join(clicks, "user_id")
        .where(
            (F.col("c_ts") < F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIB_HOURS} HOURS"))
        )
        .withColumn("n_touch", F.count(F.lit(1)).over(W.partitionBy("p_id")))
    )
    credit_q = F.round(F.col("value") / F.col("n_touch") * 1000000).cast("long")
    return (
        j.groupBy(F.date_format("c_ts", "yyyy-MM-dd").alias("click_day"))
        .agg(
            F.count(F.lit(1)).alias("n_credited_clicks"),
            F.count_distinct("p_id").alias("n_purchases_touched"),
            F.round(F.sum(credit_q).cast("double") / 1000000, 4).alias(
                "attributed_rev"
            ),
        )
        .orderBy("click_day")
    )


@register(
    "customers_segment_migration",
    oracle="""
        WITH bounds AS (
            SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders
        ),
        mid AS (
            SELECT mn + (CAST(date_diff('day', mn, mx) AS INTEGER) // 2)
                        * INTERVAL 1 DAY AS m
            FROM bounds
        ),
        h1 AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
            FROM orders, mid WHERE o_orderdate < m GROUP BY o_custkey
        ),
        h2 AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
            FROM orders, mid WHERE o_orderdate >= m GROUP BY o_custkey
        ),
        q1 AS (
            SELECT o_custkey,
                   ntile(4) OVER (ORDER BY spend, o_custkey) AS q
            FROM h1
        ),
        q2 AS (
            SELECT o_custkey,
                   ntile(4) OVER (ORDER BY spend, o_custkey) AS q
            FROM h2
        ),
        m AS (
            SELECT coalesce(q1.q, 0) AS from_q, coalesce(q2.q, 0) AS to_q
            FROM q1 FULL JOIN q2 ON q1.o_custkey = q2.o_custkey
        )
        SELECT CAST(from_q AS BIGINT) AS from_q, CAST(to_q AS BIGINT) AS to_q,
               count(*) AS n_customers
        FROM m GROUP BY from_q, to_q
        ORDER BY from_q, to_q
    """,
    tags=("analytics", "window", "outer-join", "migration"),
    doc=(
        "Customer segment-migration matrix: spend quartile in the first "
        "half of the order history vs the second half (halves split at "
        "the data-derived midpoint date; quartile 0 = absent from that "
        "half), counted per (from, to) cell — the upgrade/churn movement "
        "table behind lifecycle marketing. Each half is one partial-agg "
        "pass over orders into a once-materialized customers-sized "
        "aggregate; the quartile comes from distributed_ntile (a range-"
        "partitioned sort numbered by the distributed sequence id + "
        "closed-form NTILE bucket — no unpartitioned window even at a "
        "billion customers; "
        "the oracle's plain ntile is the semantic spec) keyed on the "
        "exact 1e4-scaled integer twin of the DECIMAL(18,4) spend, with "
        "custkey tie-breaks so both engines cut identically; the FULL "
        "OUTER join aligns the halves on custkey. Spend folds "
        "decimal-exact."
    ),
)
def customers_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    )
    mid = bounds.select(
        F.to_timestamp(
            F.date_add(
                F.to_date("mn"),
                (F.datediff(F.to_date("mx"), F.to_date("mn")) / 2).cast("int"),
            )
        ).alias("m")
    )
    o = orders.crossJoin(F.broadcast(mid))
    # BOTH halves come out of ONE orders pass (aggregate before the
    # shuffle): a per-half filter+aggregate form scans and shuffles the
    # fact table twice — a conditional decimal
    # sum per half in a single custkey-keyed aggregate is the identical
    # relation pair (a customer enters a half iff it has an order there,
    # i.e. its conditional sum is non-NULL; sums over the same rows).
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    halves = swap_checkpoint(
        "seg_migration_halves",
        o.groupBy("o_custkey").agg(
            F.sum(F.when(F.col("o_orderdate") < F.col("m"), dec)).alias("s1"),
            F.sum(F.when(F.col("o_orderdate") >= F.col("m"), dec)).alias("s2"),
        ),
    )

    def spend_quartile(col):
        h = halves.where(F.col(col).isNotNull()).select(
            "o_custkey", F.col(col).alias("spend")
        )
        return distributed_ntile(
            h, 4, F.col("spend") * 10000, "o_custkey", "q"
        ).select("o_custkey", "q")

    q1 = spend_quartile("s1").withColumnsRenamed(
        {"o_custkey": "ck1", "q": "from_q"}
    )
    q2 = spend_quartile("s2").withColumnsRenamed(
        {"o_custkey": "ck2", "q": "to_q"}
    )
    m = q1.join(q2, q1.ck1 == q2.ck2, "full").select(
        F.coalesce("from_q", F.lit(0)).cast("long").alias("from_q"),
        F.coalesce("to_q", F.lit(0)).cast("long").alias("to_q"),
    )
    return (
        m.groupBy("from_q", "to_q")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("from_q", "to_q")
    )


@register(
    "events_transition_dwell",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER w AS prev_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dwell_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT prev_type, event_type,
               count(*) AS n_transitions,
               round(CAST(sum(dwell_us) AS DOUBLE) / 1000000 / count(*), 4)
                   AS avg_dwell_s,
               round(CAST(max(dwell_us) AS DOUBLE) / 1000000, 4) AS max_dwell_s
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY prev_type, event_type
    """,
    tags=("events", "window", "sequence"),
    doc=(
        "Transition dwell times: how long users sit between consecutive "
        "event types (the timing complement of events_type_transitions' "
        "counts) — the input to session-timeout tuning and funnel-"
        "latency SLOs. lag() runs inside per-user partitions (millions "
        "of small independent windows, no global sort); dwell is an "
        "exact integer microsecond difference (unix_micros/epoch_us), "
        "so the per-transition sums are partition-order-exact in int64 "
        "and both engines emit the identical double at the end. At "
        "100 TB the int64 microsecond sum caps at ~292k user-years per "
        "transition cell — switch the fold to DECIMAL(38,0) past that."
    ),
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
        (us - F.lag(us).over(w)).alias("dwell_us"),
    ).where(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(
                F.sum("dwell_us").cast("double") / 1000000 / F.count(F.lit(1)), 4
            ).alias("avg_dwell_s"),
            F.round(F.max("dwell_us").cast("double") / 1000000, 4).alias(
                "max_dwell_s"
            ),
        )
        .orderBy("prev_type", "event_type")
    )


@register(
    "events_state_machine_audit",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(ts) AS first_ts,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                   min(CASE WHEN event_type IN ('click','view') THEN ts END)
                       AS first_engage,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS first_purchase
            FROM events GROUP BY user_id
        ),
        flags AS (
            SELECT user_id,
                   (first_signup IS NOT NULL) AS signup_applies,
                   (first_signup IS NOT NULL AND first_signup > first_ts)
                       AS signup_not_first,
                   (first_purchase IS NOT NULL) AS purchase_applies,
                   (first_purchase IS NOT NULL AND
                    (first_engage IS NULL OR first_purchase < first_engage))
                       AS purchase_before_engagement
            FROM per_user
        )
        SELECT rule, n_applicable, n_violations,
               round(CAST(n_violations AS DOUBLE) / n_applicable, 6)
                   AS violation_rate
        FROM (
            SELECT 'purchase_before_engagement' AS rule,
                   count(*) FILTER (purchase_applies) AS n_applicable,
                   count(*) FILTER (purchase_before_engagement) AS n_violations
            FROM flags
            UNION ALL
            SELECT 'signup_not_first',
                   count(*) FILTER (signup_applies),
                   count(*) FILTER (signup_not_first)
            FROM flags
        )
        ORDER BY rule
    """,
    tags=("events", "quality", "sequence"),
    doc=(
        "Event-protocol audit: per-user sequence rules checked from "
        "conditional-min timestamps — 'signup must be the user's first "
        "event' and 'a purchase requires a prior click/view'. The whole "
        "state machine collapses into ONE partial-aggregatable pass "
        "(min per type per user), so at 100 TB it is a single shuffle "
        "on user_id followed by a 2-row rule rollup — no ordering, no "
        "window, no self-join. The pattern extends to any precedence "
        "rule expressible over per-type extrema; order-sensitive rules "
        "beyond precedence go to the sessionize/SCD2 operators."
    ),
)
def events_state_machine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(
            F.when(F.col("event_type").isin("click", "view"), F.col("ts"))
        ).alias("first_engage"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    flags = per_user.select(
        F.col("first_signup").isNotNull().alias("signup_applies"),
        (
            F.col("first_signup").isNotNull()
            & (F.col("first_signup") > F.col("first_ts"))
        ).alias("signup_not_first"),
        F.col("first_purchase").isNotNull().alias("purchase_applies"),
        (
            F.col("first_purchase").isNotNull()
            & (
                F.col("first_engage").isNull()
                | (F.col("first_purchase") < F.col("first_engage"))
            )
        ).alias("purchase_before_engagement"),
    )
    rules = flags.agg(
        F.sum(F.col("purchase_applies").cast("long")).alias("pa"),
        F.sum(F.col("purchase_before_engagement").cast("long")).alias("pv"),
        F.sum(F.col("signup_applies").cast("long")).alias("sa"),
        F.sum(F.col("signup_not_first").cast("long")).alias("sv"),
    )
    out = rules.select(
        F.expr(
            "stack(2, "
            "'purchase_before_engagement', pa, pv, "
            "'signup_not_first', sa, sv) AS (rule, n_applicable, n_violations)"
        )
    )
    return out.select(
        "rule",
        "n_applicable",
        "n_violations",
        F.round(
            F.col("n_violations").cast("double") / F.col("n_applicable"), 6
        ).alias("violation_rate"),
    ).orderBy("rule")


#: ACF lags reported by events_autocorrelation.
ACF_MAX_LAG = 7


@register(
    "events_autocorrelation",
    oracle=f"""
        WITH bounds AS (
            SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
            FROM events
        ),
        days AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM bounds
        ),
        daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   sum(CAST(round(value * 10000) AS BIGINT)) AS q
            FROM events GROUP BY 1
        ),
        series AS (
            SELECT d.day, CAST(coalesce(daily.q, 0) AS DOUBLE) / 10000 AS x
            FROM days d LEFT JOIN daily USING (day)
        ),
        mu AS (
            SELECT CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 / count(*) AS m,
                   count(*) AS n_days
            FROM series
        ),
        den AS (
            SELECT sum(CAST(round((x - m) * (x - m) * 100) AS BIGINT)) AS dq
            FROM series, mu
        ),
        lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
        pairs AS (
            SELECT l.lag,
                   CAST(round((a.x - mu.m) * (b.x - mu.m) * 100) AS BIGINT) AS pq
            FROM lags l
            JOIN series a ON true
            JOIN series b ON b.day = a.day + l.lag * INTERVAL 1 DAY
            CROSS JOIN mu
        )
        SELECT CAST(p.lag AS BIGINT) AS lag,
               count(*) AS n_pairs,
               round(CAST(sum(p.pq) AS DOUBLE) / max(d.dq), 6) AS acf
        FROM pairs p CROSS JOIN den d
        GROUP BY p.lag
        ORDER BY lag
    """,
    tags=("time", "series", "statistics"),
    doc=(
        "Autocorrelation function of daily event revenue at lags 1..7 — "
        "the seasonality detector (a weekly cycle shows as an acf spike "
        "at lag 7) that decides resampling and forecasting windows. The "
        "raw stream collapses to the zero-filled day series first (one "
        "partial-agg pass; |days| rows no matter the corpus size), so "
        "every join and window here runs on the day-sized aggregate. "
        "Centered products are 1e2-quantized to int64 before the cross-"
        "day sums — deterministic under any partitioning, and the same "
        "fold DuckDB runs. The lag join is an equi-join on (day + lag), "
        "not a window, so it parallelizes across lags."
    ),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("q")
    )
    # the gap-filled daily series is days-sized (≪ events) and feeds FOUR
    # consumers (mean, denominator, both lag-pair sides) — unmaterialized,
    # each re-runs the events scan + daily aggregate + extrema join
    # (10 parquet scans in the plan instead of 2)
    series = swap_checkpoint(
        "acf_series",
        days.join(daily, "day", "left").select(
            "day", (F.coalesce(F.col("q"), F.lit(0)).cast("double") / 10000).alias("x")
        ),
    )
    mu = series.agg(
        (
            F.sum(F.round(F.col("x") * 10000).cast("long")).cast("double")
            / 10000
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n_days"),
    )
    sm = series.crossJoin(F.broadcast(mu))
    den = sm.agg(
        F.sum(
            F.round((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")) * 100).cast(
                "long"
            )
        ).alias("dq")
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = sm.select("day", "x", "m")
    b = series.select(F.col("day").alias("bday"), F.col("x").alias("bx"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("bday") == F.expr("date_add(day, CAST(lag AS INT))"),
        )
        .select(
            "lag",
            F.round((F.col("x") - F.col("m")) * (F.col("bx") - F.col("m")) * 100)
            .cast("long")
            .alias("pq"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("pq").cast("double") / F.max("dq"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


#: Deterministic pseudonymization pepper. A real deployment injects this
#: from a secret store and rotates it; the fixed literal keeps the entry
#: self-contained and oracle-checkable.
PSEUDO_PEPPER = "pepper-2026"


@register(
    "customers_pseudonymize_audit",
    oracle=f"""
        WITH p AS (
            SELECT sha256('{PSEUDO_PEPPER}:' || CAST(c_custkey AS VARCHAR))
                       AS pseudo_key,
                   c_custkey
            FROM customer
        ),
        agg AS (
            SELECT p.pseudo_key,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_spend
            FROM p JOIN orders o ON p.c_custkey = o.o_custkey
            GROUP BY p.pseudo_key
        )
        SELECT pseudo_key, n_orders, total_spend
        FROM agg
        ORDER BY n_orders DESC, pseudo_key
        LIMIT 20
    """,
    tags=("governance", "privacy", "hash"),
    doc=(
        "Keyed pseudonymization with referential integrity: customer "
        "keys are replaced by sha256(pepper || key) BEFORE analytics "
        "leave the trust boundary, and the per-pseudonym order rollup "
        "proves joins still work on the pseudonymized dimension — the "
        "privacy pattern for sharing behavioral aggregates without raw "
        "IDs (re-identification requires the pepper). The hash is a "
        "narrow JVM-side projection on the dimension (never the fact); "
        "the join and rollup are unchanged from the cleartext plan, so "
        "the 100 TB cost is identical to top_customers. A test pins "
        "that pseudonymization is collision-free on the corpus."
    ),
)
def customers_pseudonymize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        F.sha2(
            F.concat(F.lit(PSEUDO_PEPPER + ":"), F.col("c_custkey").cast("string")),
            256,
        ).alias("pseudo_key"),
        "c_custkey",
    )
    orders = table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("pseudo_key")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_spend"),
        )
        .orderBy(F.desc("n_orders"), "pseudo_key")
        .limit(20)
    )


@register(
    "events_ab_experiment",
    oracle="""
        WITH assign AS (
            SELECT user_id,
                   CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 7))
                        AS BIGINT) % 2 AS variant
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        per_user AS (
            SELECT e.user_id,
                   max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted,
                   sum(CASE WHEN e.event_type = 'purchase'
                            THEN CAST(round(e.value * 10000) AS BIGINT)
                            ELSE 0 END) AS rev_q
            FROM events e GROUP BY e.user_id
        ),
        v AS (
            SELECT a.variant,
                   count(*) AS n_users,
                   CAST(sum(p.converted) AS BIGINT) AS n_converted,
                   sum(p.rev_q) AS rev_q
            FROM assign a JOIN per_user p ON a.user_id = p.user_id
            GROUP BY a.variant
        ),
        ctl AS (
            SELECT CAST(n_converted AS DOUBLE) / n_users AS p0 FROM v
            WHERE variant = 0
        )
        SELECT v.variant, v.n_users, v.n_converted,
               round(CAST(v.n_converted AS DOUBLE) / v.n_users, 6) AS conv_rate,
               round(CAST(v.rev_q AS DOUBLE) / 10000 / v.n_users, 4)
                   AS rev_per_user,
               round(CAST(v.n_converted AS DOUBLE) / v.n_users - ctl.p0, 6)
                   AS lift_vs_control
        FROM v, ctl
        ORDER BY v.variant
    """,
    tags=("events", "experiment", "analytics"),
    doc=(
        "A/B experiment readout: users deterministically bucketed into "
        "two variants by md5(user_id) (the same stable-hash assignment a "
        "real experimentation system ships — no RNG, re-runs agree), "
        "then per-variant exposure, conversion, revenue-per-user from "
        "1e4-quantized sums, and absolute lift vs the control variant. "
        "One partial-agg pass per user collapses the event stream; the "
        "variant rollup and the 1-row control stats are broadcast-"
        "sized. At 100 TB the only data-sized shuffle keys on user_id "
        "— variance/z-scoring downstream consumes exactly these exact "
        "integer counts."
    ),
)
def events_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 10000).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("rev_q"),
    )
    v = (
        per_user.select(variant.alias("variant"), "converted", "rev_q")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
            F.sum("rev_q").alias("rev_q"),
        )
    )
    ctl = v.where(F.col("variant") == 0).select(
        (F.col("n_converted").cast("double") / F.col("n_users")).alias("p0")
    )
    return (
        v.crossJoin(F.broadcast(ctl))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.round(F.col("n_converted").cast("double") / F.col("n_users"), 6).alias(
                "conv_rate"
            ),
            F.round(
                F.col("rev_q").cast("double") / 10000 / F.col("n_users"), 4
            ).alias("rev_per_user"),
            F.round(
                F.col("n_converted").cast("double") / F.col("n_users") - F.col("p0"),
                6,
            ).alias("lift_vs_control"),
        )
        .orderBy("variant")
    )


@register(
    "part_brand_price_elasticity",
    oracle="""
        WITH q AS (
            SELECT p.p_brand,
                   CAST(round(l.l_quantity * 100) AS BIGINT) AS xq,
                   CAST(round(l.l_extendedprice * 10000) AS BIGINT) AS yq
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        m AS (
            SELECT p_brand, count(*) AS n,
                   sum(xq) AS sx, sum(yq) AS sy,
                   sum(CAST(xq AS DECIMAL(38,0)) * yq) AS sxy,
                   sum(CAST(xq AS DECIMAL(38,0)) * xq) AS sxx,
                   sum(CAST(yq AS DECIMAL(38,0)) * yq) AS syy
            FROM q GROUP BY p_brand
        )
        SELECT p_brand, n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100, 6)
                   AS slope,
               round(CAST(sy AS DOUBLE) / 10000 / n
                     - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100
                       * (CAST(sx AS DOUBLE) / 100 / n), 4) AS intercept,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                   AS r2
        FROM m
        ORDER BY p_brand
    """,
    tags=("statistics", "regression", "join"),
    doc=(
        "Grouped least-squares: per-brand OLS of extended price on "
        "quantity (slope, intercept, r²) — the per-segment elasticity "
        "fit behind pricing analytics, and the grouped twin of "
        "events_trend's single-series regression. Inputs quantize to "
        "int64 (quantity 1e2, price 1e4) and the cross-moments fold in "
        "exact DECIMAL(38,0) — at sf0.1 Σxy already brushes int64's "
        "ceiling, so the decimal fold is correctness, not pedantry. "
        "One partial-agg pass over the fact table after a broadcast "
        "dimension join; five moments per brand; the closed-form "
        "arithmetic runs on the |brands|-row aggregate in identical "
        "IEEE order in both engines."
    ),
)
def part_brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    q = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round(F.col("l_quantity") * 100).cast("long").alias("xq"),
        F.round(F.col("l_extendedprice") * 10000).cast("long").alias("yq"),
    )
    m = q.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx / 100
    return m.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(sy / 10000 / n - slope * (sx / 100 / n), 4).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    ).orderBy("p_brand")


@register(
    "docs_lang_source_chi2",
    oracle="""
        WITH cells AS (
            SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
        ),
        rows_ AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY lang),
        cols_ AS (SELECT source, sum(o) AS ct FROM cells GROUP BY source),
        tot AS (SELECT sum(o) AS n FROM cells),
        grid AS (
            SELECT r.lang, c.source, r.rt, c.ct, t.n,
                   coalesce(cells.o, 0) AS o
            FROM rows_ r CROSS JOIN cols_ c CROSS JOIN tot t
            LEFT JOIN cells ON cells.lang = r.lang AND cells.source = c.source
        ),
        contrib AS (
            SELECT lang, rt,
                   CAST(round(
                       (o - CAST(rt AS DOUBLE) * ct / n)
                       * (o - CAST(rt AS DOUBLE) * ct / n)
                       / (CAST(rt AS DOUBLE) * ct / n) * 1000000
                   ) AS BIGINT) AS cq
            FROM grid
        )
        SELECT lang, CAST(max(rt) AS BIGINT) AS n_docs,
               round(CAST(sum(cq) AS DOUBLE) / 1000000, 6) AS chi2_contrib
        FROM contrib
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("statistics", "quality", "contingency"),
    doc=(
        "Chi-square independence audit of the (lang × source) "
        "contingency table, reported as per-language contributions — "
        "the drift detector for 'did a source change its language "
        "mix'. The corpus collapses to the |langs|×|sources| cell "
        "counts in one partial-agg pass; the dense grid (zero cells "
        "included — absence is evidence) is built from broadcast "
        "marginals; per-cell (o−e)²/e terms are 1e6-quantized before "
        "the cross-source fold so the statistic is exact under any "
        "partitioning. Total χ² = sum of the contribution column; "
        "dof = (|langs|−1)(|sources|−1) is data-derivable."
    ),
)
def docs_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    cq = F.round((F.col("o") - e) * (F.col("o") - e) / e * 1000000).cast("long")
    return (
        grid.select("lang", "rt", cq.alias("cq"))
        .groupBy("lang")
        .agg(
            F.max("rt").cast("long").alias("n_docs"),
            F.round(F.sum("cq").cast("double") / 1000000, 6).alias("chi2_contrib"),
        )
        .orderBy("lang")
    )


@register(
    "nation_supplier_hhi",
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey, s.s_suppkey,
                   sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS r
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey, s.s_suppkey
        ),
        tot AS (
            SELECT s_nationkey, sum(r) AS rt, count(*) AS n_suppliers
            FROM rev GROUP BY s_nationkey
        ),
        shares AS (
            SELECT rev.s_nationkey,
                   CAST(round(
                       (CAST(rev.r AS DOUBLE) / CAST(tot.rt AS DOUBLE))
                       * (CAST(rev.r AS DOUBLE) / CAST(tot.rt AS DOUBLE))
                       * 1000000000000) AS BIGINT) AS sq
            FROM rev JOIN tot USING (s_nationkey)
        )
        SELECT n.n_name AS nation,
               CAST(max(t.n_suppliers) AS BIGINT) AS n_suppliers,
               CAST(max(t.rt) AS DOUBLE) AS total_rev,
               round(CAST(sum(s.sq) AS DOUBLE) / 1000000000000, 6) AS hhi
        FROM shares s
        JOIN tot t USING (s_nationkey)
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY nation
    """,
    tags=("statistics", "concentration", "join"),
    doc=(
        "Herfindahl–Hirschman concentration index of supplier revenue "
        "per nation — the market-concentration diagnostic (HHI → 1 "
        "means one supplier owns the nation's volume; → 1/n means "
        "even split) used for risk and antitrust-style exposure "
        "screens. Revenue folds decimal-exact per (nation, supplier); "
        "squared shares are 1e12-quantized before the per-nation sum. "
        "The fact table is touched once; every later relation is "
        "supplier- or nation-sized, and the nation name joins as a "
        "broadcast."
    ),
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # the supplier-revenue rollup feeds the per-nation totals AND the
    # share projection — unmaterialized, the lineitem scan + join +
    # groupBy re-run once per reference (3x including the duplicated
    # totals broadcast below; 7 parquet scans in the plan instead of 3).
    # The checkpoint is |suppliers|-sized.
    rev = swap_checkpoint(
        "hhi_rev",
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("r")),
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("rt"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("r").cast("double") / F.col("rt").cast("double")
    # rt / n_suppliers ride the ONE totals join (the old second
    # broadcast(tot) join re-derived the totals subtree a second time)
    shares = rev.join(F.broadcast(tot), "s_nationkey").select(
        "s_nationkey",
        F.round(share * share * 1000000000000).cast("long").alias("sq"),
        "rt",
        "n_suppliers",
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        shares.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.max("rt").cast("double").alias("total_rev"),
            F.round(F.sum("sq").cast("double") / 1000000000000, 6).alias("hhi"),
        )
        .orderBy("nation")
    )


#: AQP sample modulus: keep orders whose md5(orderkey) lands in 1/SAMPLE_MOD
#: of hash space — a deterministic 10% sample both engines reproduce.
SAMPLE_MOD = 10


@register(
    "orders_sample_estimate",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS p,
                   CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 7))
                        AS BIGINT) % {SAMPLE_MOD} AS slot
            FROM orders
        )
        SELECT count(*) FILTER (slot = 0) AS n_sample,
               count(*) AS n_total,
               CAST(sum(p) FILTER (slot = 0) * {SAMPLE_MOD} AS DOUBLE)
                   AS est_revenue,
               CAST(sum(p) AS DOUBLE) AS exact_revenue,
               round(abs(CAST(sum(p) FILTER (slot = 0) * {SAMPLE_MOD} AS DOUBLE)
                         - CAST(sum(p) AS DOUBLE))
                     / CAST(sum(p) AS DOUBLE), 6) AS rel_error
        FROM base
    """,
    tags=("aqp", "sampling", "aggregate"),
    doc=(
        "Approximate query processing: revenue estimated from a "
        "deterministic 10% hash sample (md5 slot — the same rows in "
        "every engine and every run, unlike TABLESAMPLE's RNG), scaled "
        "by the inverse sampling rate and reported NEXT TO the exact "
        "answer with its realized relative error. This is the "
        "dashboard-latency pattern at 100 TB: the sample predicate "
        "evaluates at the scan (a 10x cheaper pass; with the slot "
        "persisted as a partition column it prunes to 1/10 of files), "
        "and the error column is the calibration a production AQP "
        "rollout monitors before trusting estimates. Both sums fold "
        "decimal-exact; one aggregate pass computes sample and exact "
        "sides together via conditional aggregation."
    ),
)
def orders_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    slot = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % SAMPLE_MOD
    )
    base = orders.select(
        slot.alias("slot"), F.col("o_totalprice").cast("decimal(18,4)").alias("p")
    )
    in_sample = F.col("slot") == 0
    est = (F.sum(F.when(in_sample, F.col("p"))) * SAMPLE_MOD).cast("double")
    exact = F.sum("p").cast("double")
    return base.agg(
        F.sum(in_sample.cast("long")).alias("n_sample"),
        F.count(F.lit(1)).alias("n_total"),
        est.alias("est_revenue"),
        exact.alias("exact_revenue"),
        F.round(F.abs(est - exact) / exact, 6).alias("rel_error"),
    )


@register(
    "events_skew_report",
    oracle="""
        WITH per_key AS (
            SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
        ),
        stats AS (
            SELECT count(*) AS n_keys, sum(n_rows) AS n_total FROM per_key
        )
        SELECT p.user_id, CAST(p.n_rows AS BIGINT) AS n_rows,
               round(CAST(p.n_rows AS DOUBLE) / s.n_total, 6) AS share,
               round(CAST(p.n_rows AS DOUBLE) * s.n_keys / s.n_total, 6)
                   AS skew_factor
        FROM per_key p CROSS JOIN stats s
        ORDER BY p.n_rows DESC, p.user_id
        LIMIT 5
    """,
    tags=("diagnostics", "skew", "topk"),
    doc=(
        "Shuffle-key skew diagnostic: the heaviest user_id keys with "
        "their share of the table and skew factor (rows vs a perfectly "
        "even spread) — the measurement that decides WHEN a hot key "
        "needs more than the partial aggregate Spark plans before every "
        "grouping shuffle (events_user_totals_salted), e.g. AQE "
        "skew-join splitting for a join on it. One partial-agg pass to "
        "key counts, a broadcast 1-row "
        "stats scalar, TakeOrderedAndProject for the top-5 — the "
        "report itself never pays the skew it measures."
    ),
)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n_rows").alias("n_total")
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("n_total"), 6).alias(
                "share"
            ),
            F.round(
                F.col("n_rows").cast("double") * F.col("n_keys") / F.col("n_total"),
                6,
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(5)
    )


@register(
    "events_props_variant",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS sum_k,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS max_k,
               count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
                   AS n_distinct_k,
               round(CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                          AS DOUBLE) / count(*), 4) AS avg_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("events", "semi-structured", "variant"),
    doc=(
        "Semi-structured analytics through Spark 4's VARIANT type: "
        "props parses once via parse_json() and fields extract with "
        "variant_get() typed paths — the open-schema ingestion path "
        "that replaces per-field string re-parsing (the "
        "events_props_stats twin, which uses get_json_object; this "
        "entry pins the NEW API produces identical numbers). VARIANT's "
        "binary encoding decodes each row once for any number of "
        "field extractions and pushes typed access into the columnar "
        "batch — at 100 TB that is the difference between one parse "
        "and |fields| parses per row. Aggregation is an ordinary "
        "partial-agg groupBy on event_type."
    ),
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count_distinct("k").alias("n_distinct_k"),
            F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


#: BFS seed + depth + per-supplier part cap for supplier_reach_bfs.
BFS_SEED = 1
BFS_MAX_HOPS = 3
#: Each supplier contributes its top-K revenue parts to the affinity
#: graph. The raw shared-part graph on this corpus is near-complete
#: (every part has 11-52 suppliers — hop 1 reaches everyone), so the
#: graph is SPARSIFIED to primary-part edges: the same hub-capping move
#: as the dedup family's DF_CAP, and the difference between a BFS that
#: measures structure and one that measures density.
BFS_TOP_PARTS = 40

_BFS_SQL = """
    WITH RECURSIVE reach(suppkey, hop) AS (
        SELECT CAST({seed} AS BIGINT) AS suppkey, 0 AS hop
        UNION ALL
        SELECT DISTINCT e.b AS suppkey, r.hop + 1 AS hop
        FROM reach r JOIN {edges} e ON e.a = r.suppkey
        WHERE r.hop < {max_hops}
    ),
    first_seen AS (
        SELECT suppkey, min(hop) AS hop FROM reach GROUP BY suppkey
    )
    SELECT hop, count(*) AS n_suppliers
    FROM first_seen
    GROUP BY hop
    ORDER BY hop
"""

#: Per-invocation temp-view counter (see the view-name note inside
#: supplier_reach_bfs; checkpoint release goes through operators/ckpt).
_BFS_VIEW_SEQ = 0


@register(
    "supplier_reach_bfs",
    oracle=f"""
        WITH RECURSIVE rev AS (
            SELECT l_suppkey AS s, l_partkey AS p,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS r
            FROM lineitem GROUP BY l_suppkey, l_partkey
        ),
        sp AS (
            SELECT s, p FROM (
                SELECT s, p,
                       row_number() OVER (PARTITION BY s ORDER BY r DESC, p) AS rn
                FROM rev
            ) WHERE rn <= {BFS_TOP_PARTS}
        ),
        edges AS (
            SELECT DISTINCT a.s AS a, b.s AS b
            FROM sp a JOIN sp b ON a.p = b.p AND a.s <> b.s
        ),
        reach(suppkey, hop) AS (
            SELECT CAST({BFS_SEED} AS BIGINT) AS suppkey, 0 AS hop
            UNION ALL
            SELECT DISTINCT e.b AS suppkey, r.hop + 1 AS hop
            FROM reach r JOIN edges e ON e.a = r.suppkey
            WHERE r.hop < {BFS_MAX_HOPS}
        ),
        first_seen AS (
            SELECT suppkey, min(hop) AS hop FROM reach GROUP BY suppkey
        )
        SELECT hop, count(*) AS n_suppliers
        FROM first_seen
        GROUP BY hop
        ORDER BY hop
    """,
    tags=("graph", "recursive-cte", "bfs"),
    doc=(
        "Breadth-first reachability over the primary-part supplier "
        "affinity graph via WITH RECURSIVE — Spark 4's recursive-CTE "
        "surface, graded against DuckDB's recursion: suppliers grouped "
        "by minimum hop distance from a seed. Two scale decisions: the "
        "graph keeps only each supplier's top-40 revenue parts (the "
        "dedup family's hub-capping move — the raw shared-part graph "
        "here is near-complete and one hop reaches everyone), and the "
        "edge list materializes ONCE from a part-keyed self-join of "
        "the capped relation, so the recursion joins frontier×edges "
        "per round. The recursive step SELECTs DISTINCT: bare UNION "
        "ALL recursion enumerates PATHS, not nodes (measured 506k "
        "reach rows for a 1k-node graph at 3 hops — exponential in "
        "depth), while the per-level dedup caps every level at "
        "|nodes| (2.1k rows, same result — first_seen's min(hop) is "
        "insensitive to revisits). Spark does not yet support "
        "recursive UNION (distinct), so the level-local DISTINCT is "
        "the scale fix available inside the CTE; full visited-set "
        "pruning belongs to the frontier-deduping iterative operator "
        "(dedup_clusters' min-label loop)."
    ),
)
def supplier_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.graph import supplier_affinity_edges

    # The graph is MATERIALIZED before recursing: a temp view is a
    # LOGICAL plan, so without this every recursion round would re-run
    # the aggregate + window + self-join that build the edge list
    # (measured 6.3 s -> ~1 s at sf0.1). The edge list is the graph
    # family's shared memoized artifact (one build per session per SF,
    # read by this BFS and supplier_triangle_stats alike — the dedup
    # family's shared-index shape; memo_checkpoint keeps the same
    # one-live-per-tag release discipline the old per-invocation
    # swap_checkpoint had). The per-invocation view name keeps
    # concurrent builders in one session from racing on a shared name.
    global _BFS_VIEW_SEQ
    edges = supplier_affinity_edges(spark, sf_dir, BFS_TOP_PARTS)
    _BFS_VIEW_SEQ += 1
    view = f"ces_bfs_edges_{_BFS_VIEW_SEQ}"
    edges.createOrReplaceTempView(view)
    return spark.sql(
        _BFS_SQL.format(seed=BFS_SEED, edges=view, max_hops=BFS_MAX_HOPS)
    )


@register(
    "events_time_to_convert",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT p.user_id, p.s_ts,
                   min(e.ts) AS p_ts
            FROM per_user p
            JOIN events e
              ON e.user_id = p.user_id
             AND e.event_type = 'purchase'
             AND e.ts > p.s_ts
            WHERE p.s_ts IS NOT NULL
            GROUP BY p.user_id, p.s_ts
        ),
        cohorts AS (
            SELECT strftime(s_ts, '%Y-%m') AS cohort,
                   CAST(epoch_us(p_ts) - epoch_us(s_ts) AS DOUBLE)
                       / 3600000000 AS tt_hours
            FROM conv
        ),
        signups AS (
            SELECT strftime(s_ts, '%Y-%m') AS cohort, count(*) AS n_signups
            FROM per_user WHERE s_ts IS NOT NULL GROUP BY 1
        )
        SELECT s.cohort,
               s.n_signups,
               count(c.tt_hours) AS n_converted,
               round(CAST(count(c.tt_hours) AS DOUBLE) / s.n_signups, 6)
                   AS conv_rate,
               round(quantile_cont(c.tt_hours, 0.5), 4) AS median_hours,
               round(quantile_cont(c.tt_hours, 0.9), 4) AS p90_hours
        FROM signups s LEFT JOIN cohorts c ON s.cohort = c.cohort
        GROUP BY s.cohort, s.n_signups
        ORDER BY s.cohort
    """,
    tags=("events", "funnel", "percentile", "cohort"),
    doc=(
        "Time-to-convert distribution per signup cohort: each user's "
        "first signup, their first purchase strictly AFTER it, and the "
        "cohort-level conversion rate with exact median/p90 latency "
        "hours — the funnel-velocity readout (events_funnel counts "
        "stages; this measures how long the funnel takes). Conversion "
        "resolves with per-user conditional-min aggregates — one "
        "user_id-keyed join of the signups relation back to the "
        "purchase slice, no window, no ordering. Latency converts from "
        "exact integer microseconds; quantiles are exact quantile_cont/ "
        "percentile (both engines interpolate identically) — at 100 TB "
        "the cohort percentile swaps to approx_percentile with this "
        "entry as its calibration oracle."
    ),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts")
    ).where(F.col("s_ts").isNotNull())
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("e_ts")
    )
    conv = (
        per_user.join(
            purchases,
            (F.col("p_user") == F.col("user_id")) & (F.col("e_ts") > F.col("s_ts")),
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("e_ts").alias("p_ts"))
    )
    tt = (
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("s_ts"))).cast("double")
        / 3600000000
    )
    cohorts = conv.select(
        F.date_format("s_ts", "yyyy-MM").alias("cohort"), tt.alias("tt_hours")
    )
    signups = per_user.groupBy(
        F.date_format("s_ts", "yyyy-MM").alias("cohort")
    ).agg(F.count(F.lit(1)).alias("n_signups"))
    return (
        signups.join(cohorts, "cohort", "left")
        .groupBy("cohort", "n_signups")
        .agg(
            F.count("tt_hours").alias("n_converted"),
            F.round(
                F.count("tt_hours").cast("double") / F.col("n_signups"), 6
            ).alias("conv_rate"),
            F.round(F.percentile("tt_hours", 0.5), 4).alias("median_hours"),
            F.round(F.percentile("tt_hours", 0.9), 4).alias("p90_hours"),
        )
        .orderBy("cohort")
    )


#: Churn labeling horizon: a customer with no order in the last
#: CHURN_DAYS of history (anchored to max order date) is labeled churned.
CHURN_DAYS = 365


@register(
    "customers_churn_labels",
    oracle=f"""
        WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
        cutoff AS (SELECT mx - INTERVAL {CHURN_DAYS} DAY AS c, mx FROM anchor),
        prior AS (
            SELECT o.o_custkey,
                   count(*) AS n_orders_prior,
                   sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS spend_prior
            FROM orders o, cutoff
            WHERE o.o_orderdate <= cutoff.c
            GROUP BY o.o_custkey
        ),
        recent AS (
            SELECT DISTINCT o.o_custkey
            FROM orders o, cutoff
            WHERE o.o_orderdate > cutoff.c
        ),
        labeled AS (
            SELECT p.o_custkey, p.n_orders_prior, p.spend_prior,
                   (r.o_custkey IS NULL) AS churned
            FROM prior p LEFT JOIN recent r ON p.o_custkey = r.o_custkey
        )
        SELECT c.c_mktsegment AS mktsegment,
               count(*) AS n_customers,
               count(*) FILTER (churned) AS n_churned,
               round(CAST(count(*) FILTER (churned) AS DOUBLE) / count(*), 6)
                   AS churn_rate,
               round(CAST(sum(n_orders_prior) AS DOUBLE) / count(*), 4)
                   AS avg_prior_orders,
               round(CAST(sum(spend_prior) AS DOUBLE) / count(*), 4)
                   AS avg_prior_spend
        FROM labeled l JOIN customer c ON l.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY mktsegment
    """,
    tags=("training", "labels", "churn"),
    doc=(
        "Supervised-dataset assembly: churn labels built point-in-time "
        "correctly — features aggregate STRICTLY BEFORE the data-"
        "anchored cutoff (last 365 days of history), the label is "
        "absence of any order after it, and customers who only appear "
        "after the cutoff are excluded (no feature window → no row; "
        "the leakage mistakes this construction prevents are the #1 "
        "churn-model bug). Reported as per-segment label/feature "
        "distributions — the class-balance check before training. One "
        "pass builds features (partial agg), one distinct builds the "
        "label set, one LEFT join labels; everything after runs on "
        "customer-sized relations. Spend folds decimal-exact."
    ),
)
def customers_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    cutoff = anchor.select(
        (F.col("mx") - F.expr(f"INTERVAL {CHURN_DAYS} DAYS")).alias("c")
    )
    o = orders.crossJoin(F.broadcast(cutoff))
    prior = (
        o.where(F.col("o_orderdate") <= F.col("c"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders_prior"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend_prior"),
        )
    )
    recent = (
        o.where(F.col("o_orderdate") > F.col("c"))
        .select(F.col("o_custkey").alias("r_custkey"))
        .distinct()
    )
    labeled = prior.join(
        recent, prior.o_custkey == recent.r_custkey, "left"
    ).select(
        "o_custkey",
        "n_orders_prior",
        "spend_prior",
        F.col("r_custkey").isNull().alias("churned"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        labeled.join(cust, labeled.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("churned").cast("long")).alias("n_churned"),
            F.round(
                F.sum(F.col("churned").cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("churn_rate"),
            F.round(
                F.sum("n_orders_prior").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_prior_orders"),
            F.round(
                F.sum("spend_prior").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_prior_spend"),
        )
        .orderBy("mktsegment")
    )


@register(
    "events_journey_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type, 1) OVER w AS p1,
                   lag(event_type, 2) OVER w AS p2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT p2 || '>' || p1 || '>' || event_type AS journey,
               count(*) AS n_occurrences,
               count(DISTINCT user_id) AS n_users
        FROM seq WHERE p2 IS NOT NULL
        GROUP BY 1
        ORDER BY n_occurrences DESC, journey
        LIMIT 10
    """,
    tags=("events", "sequence", "journey", "topk"),
    doc=(
        "Behavioral journey mining: the most common 3-step event-type "
        "paths across users (with how many distinct users walk each) — "
        "the UX/funnel-design view one step richer than "
        "events_type_transitions' bigrams and events_transition_dwell's "
        "timings. Two lag() taps inside the SAME per-user window "
        "partition (one shuffle, reused by both offsets), a trigram-"
        "keyed count with map-side partials, TakeOrderedAndProject for "
        "the top-10. At 100 TB journey keys are low-cardinality "
        "(|types|³ bounded) so the final aggregate is trivially small."
    ),
)
def events_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).where(F.col("p2").isNotNull())
    journey = F.concat_ws(">", F.col("p2"), F.col("p1"), F.col("event_type"))
    return (
        seq.groupBy(journey.alias("journey"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "journey")
        .limit(10)
    )


#: Dn retention checkpoints (days after first purchase).
RETENTION_DAYS = [1, 7, 14, 21, 28]


@register(
    "events_dn_retention",
    oracle=f"""
        WITH p AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
            FROM events WHERE event_type = 'purchase'
        ),
        first AS (SELECT user_id, min(d) AS f FROM p GROUP BY user_id),
        mx AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
        grid AS (
            SELECT first.user_id, first.f, lags.n,
                   first.f + lags.n * INTERVAL 1 DAY AS target, mx.m
            FROM first CROSS JOIN
                 (SELECT unnest([{", ".join(map(str, RETENTION_DAYS))}]) AS n)
                 AS lags
            CROSS JOIN mx
        )
        SELECT CAST(g.n AS BIGINT) AS n,
               count(*) FILTER (g.target <= g.m) AS n_eligible,
               count(*) FILTER (g.target <= g.m AND p.user_id IS NOT NULL)
                   AS n_retained,
               round(CAST(count(*) FILTER (g.target <= g.m
                                           AND p.user_id IS NOT NULL) AS DOUBLE)
                     / count(*) FILTER (g.target <= g.m), 6) AS retention
        FROM grid g
        LEFT JOIN p ON p.user_id = g.user_id AND p.d = g.target
        GROUP BY g.n
        ORDER BY n
    """,
    tags=("events", "retention", "cohort"),
    doc=(
        "Day-N retention curve on purchases: the share of buyers who "
        "purchase again exactly N days after their FIRST purchase, for "
        "N in (1, 7, 14, 21, 28) — the product-analytics curve behind "
        "growth accounting (the checkpoint twin of "
        "events_cohort_retention's month grid). Right-censoring is "
        "handled explicitly: a user only enters N's denominator when "
        "first+N fits inside the observed history (without this, late "
        "checkpoints read as phantom churn — the classic retention-"
        "curve bug). The activity set dedups to (user, day) pairs "
        "first; the checkpoint grid is users × 5 lags; the hit test is "
        "one user+day equi-join. Everything after the dedup runs on "
        "user-sized relations."
    ),
)
def events_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    # first-purchase date rides every activity row via a user-keyed
    # window: a first-aggregate + (user, day) equi-join back to p would
    # execute the distinct purchase subtree TWICE (two events scans + two
    # distinct shuffles, Catalyst does not dedupe common subplans) and
    # pay a join shuffle. With f in-row, "retained at N" is just
    # datediff(d, f) == N — a p-row at d = f+N exists iff that join
    # would hit, and d <= m always
    # (d is an event date, m the max event date), so the oracle's
    # target <= m guard on the hit side is implied. Eligibility counts
    # once per user off the d == f row (exactly one per user: the min).
    pf = p.withColumn("f", F.min("d").over(W.partitionBy("user_id")))
    mx = ev.agg(F.max(F.to_date("ts")).alias("m"))
    lags = spark.createDataFrame([(n,) for n in RETENTION_DAYS], "n int")
    g = pf.crossJoin(F.broadcast(lags)).crossJoin(F.broadcast(mx))
    eligible = (F.col("d") == F.col("f")) & (
        F.expr("date_add(f, n)") <= F.col("m")
    )
    retained = F.expr("datediff(d, f)") == F.col("n")
    return (
        g.groupBy(F.col("n").cast("long").alias("n"))
        .agg(
            F.sum(eligible.cast("long")).alias("n_eligible"),
            F.sum(retained.cast("long")).alias("n_retained"),
            F.round(
                F.sum(retained.cast("long")).cast("double")
                / F.sum(eligible.cast("long")),
                6,
            ).alias("retention"),
        )
        .orderBy("n")
    )


#: Equi-depth histogram bucket count (decile statistics).
EQUIDEPTH_BUCKETS = 10


@register(
    "lineitem_equidepth_histogram",
    oracle=f"""
        WITH bounds AS (
            SELECT quantile_cont(l_extendedprice,
                                 [{", ".join(str(i / EQUIDEPTH_BUCKETS) for i in range(1, EQUIDEPTH_BUCKETS))}])
                       AS bs
            FROM lineitem
        ),
        bucketed AS (
            SELECT l.l_extendedprice AS price,
                   1 + list_sum(list_transform(b.bs,
                       x -> CASE WHEN l.l_extendedprice > x
                                 THEN 1 ELSE 0 END)) AS bucket
            FROM lineitem l CROSS JOIN bounds b
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               count(*) AS n_rows,
               round(min(price), 4) AS lo,
               round(max(price), 4) AS hi
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """,
    tags=("statistics", "histogram", "percentile"),
    doc=(
        "Equi-depth (equi-height) histogram of extended price: decile "
        "boundaries from exact interpolated percentiles, then one "
        "scan assigning each row its bucket by counting boundaries it "
        "exceeds — the histogram form query optimizers keep (equal "
        "row mass per bucket resists skew that defeats "
        "lineitem_price_histogram's equi-WIDTH bins). The boundary "
        "percentiles are computed DISTRIBUTED: ordering by cent-"
        "quantized price (a monotone integer key, so (cents, price) "
        "order IS price order), _values_at_ranks selects the rows at "
        "the floor/ceil ranks of each interpolation position: a "
        "collected split histogram routes each rank to its value-range "
        "split, and one filtered window numbers only the splits that "
        "hold a wanted rank. Numbering every row with "
        "distributed_global_rank (a full range-partitioned sort) and "
        "filtering the ranks gives the same boundaries; measured on 4 "
        "cores, 10 alternating calls each, selection vs rank + filter: "
        "sf0.1 median 0.51 s vs 0.60 s, sf0.01 0.26 s vs 0.18 s. "
        "Selection is kept: it wins at the larger scale, where it "
        "sorts only the splits holding a wanted rank. The "
        "<=2(B-1) selected rows are the only rows "
        "collected — never the value multiset that Spark's builtin "
        "percentile() merges into one single-node map (the prior "
        "form; 3.4 s of its 3.9 s at sf0.1, and an OOM at 100 TB). "
        "Interpolation mirrors Spark's Percentile formula "
        "(hi-pos)*v_lo + (pos-lo)*v_hi bit-for-bit, which DuckDB's "
        "quantile_cont matches on this data; the final pass is a "
        "narrow bucketing projection against literal boundaries with "
        "map-side partial counts — the fact table never shuffles by "
        "value."
    ),
)
def lineitem_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bs = _exact_percentiles_distributed(
        li.select(F.col("l_extendedprice").alias("price")),
        "price",
        [i / EQUIDEPTH_BUCKETS for i in range(1, EQUIDEPTH_BUCKETS)],
    )
    bucket = sum(
        (F.when(F.col("price") > F.lit(x), 1).otherwise(0) for x in bs), F.lit(1)
    )
    return (
        li.select(F.col("l_extendedprice").alias("price"))
        .select("price", bucket.alias("bucket"))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("price"), 4).alias("lo"),
            F.round(F.max("price"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "customers_spend_gini",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT s,
                   row_number() OVER (ORDER BY s, o_custkey) AS i
            FROM spend
        ),
        agg AS (
            SELECT count(*) AS n,
                   sum(s) AS total,
                   sum(CAST(i AS DECIMAL(28,0)) * s) AS weighted
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               CAST(total AS DOUBLE) AS total_spend,
               round(2 * CAST(weighted AS DOUBLE)
                     / (n * CAST(total AS DOUBLE))
                     - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
        FROM agg
    """,
    tags=("statistics", "inequality", "window"),
    doc=(
        "Gini coefficient of customer spend — the inequality summary "
        "completing the concentration family (nation_supplier_hhi's "
        "squared shares, parts_revenue_pareto's cumulative curve): "
        "G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over spend ranked ascending "
        "with custkey tie-breaks. The rank runs on the customers-sized "
        "AGGREGATE (never |orders|) through distributed_global_rank — "
        "a range-partitioned sort numbered by the distributed sequence "
        "id, so no task sorts the whole relation even at billions of "
        "customers — and "
        "the rank-weighted sum folds in exact DECIMAL so the one-row "
        "result is bit-identical in both engines."
    ),
)
def customers_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"))
    )
    # materialize the customers-sized rollup once: the distributed rank
    # reads its input for the range sample and again for the sort —
    # without this the orders scan + groupBy would re-run each time
    # (same rationale as customer_rfm / events_zorder_audit)
    spend = swap_checkpoint("spend_gini", spend)
    # decimal(18,4) quantizes exactly: ORDER BY s == ORDER BY s·10⁴ as
    # int64
    keyed = spend.withColumn("__k", F.expr("CAST(s * 10000 AS BIGINT)"))
    ranked = distributed_global_rank(keyed, "__k", "o_custkey").select(
        "s", F.col("rank").alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("total"),
        F.sum(F.col("i").cast("decimal(28,0)") * F.col("s")).alias("weighted"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("long").alias("n_customers"),
        F.col("total").cast("double").alias("total_spend"),
        F.round(
            2 * F.col("weighted").cast("double") / (n * F.col("total").cast("double"))
            - (n.cast("double") + 1) / n,
            6,
        ).alias("gini"),
    )


@register(
    "events_growth_accounting",
    oracle="""
        WITH a AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
        ),
        first AS (SELECT user_id, min(wk) AS f FROM a GROUP BY user_id),
        states AS (
            SELECT a.user_id, a.wk,
                   (a.wk = f.f) AS is_new,
                   (p.user_id IS NOT NULL) AS was_prev
            FROM a
            JOIN first f ON a.user_id = f.user_id
            LEFT JOIN a p ON p.user_id = a.user_id
                         AND p.wk = a.wk - INTERVAL 7 DAY
        ),
        weekly AS (
            SELECT strftime(wk, '%Y-%m-%d') AS week,
                   count(*) FILTER (is_new) AS n_new,
                   count(*) FILTER (NOT is_new AND was_prev) AS n_retained,
                   count(*) FILTER (NOT is_new AND NOT was_prev)
                       AS n_resurrected,
                   count(*) AS n_active
            FROM states GROUP BY wk
        ),
        churn AS (
            SELECT strftime(c.wk + INTERVAL 7 DAY, '%Y-%m-%d') AS week,
                   count(*) AS n_churned
            FROM a c
            LEFT JOIN a nxt ON nxt.user_id = c.user_id
                           AND nxt.wk = c.wk + INTERVAL 7 DAY
            WHERE nxt.user_id IS NULL
            GROUP BY c.wk
        )
        SELECT w.week, w.n_active, w.n_new, w.n_retained, w.n_resurrected,
               coalesce(c.n_churned, 0) AS n_churned_in
        FROM weekly w LEFT JOIN churn c ON w.week = c.week
        ORDER BY w.week
    """,
    tags=("events", "growth-accounting", "retention"),
    doc=(
        "Growth accounting: every active (user, week) classified as "
        "new / retained / resurrected, plus the count churning INTO "
        "each week (active the prior week, absent this one) — the "
        "startup-metrics decomposition where net growth = new + "
        "resurrected − churned. All four states resolve with equi-"
        "joins on (user, week±7d) against the deduped activity set — "
        "no window, no user×week grid (the grid blows up at 100 TB; "
        "the self-join stays |active-pairs|-sized). The last observed "
        "week's outgoing churn is intentionally unreported (right-"
        "censored, like events_dn_retention)."
    ),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    a = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    first = a.groupBy("user_id").agg(F.min("wk").alias("f"))
    prev = a.select(
        F.col("user_id").alias("p_user"),
        (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("p_next"),
    )
    states = (
        a.join(first, "user_id")
        .join(
            prev,
            (F.col("user_id") == F.col("p_user")) & (F.col("wk") == F.col("p_next")),
            "left",
        )
        .select(
            "wk",
            (F.col("wk") == F.col("f")).alias("is_new"),
            F.col("p_user").isNotNull().alias("was_prev"),
        )
    )
    weekly = states.groupBy(
        F.date_format("wk", "yyyy-MM-dd").alias("week")
    ).agg(
        F.sum((~F.col("is_new") & F.col("was_prev")).cast("long")).alias("n_retained"),
        F.sum(F.col("is_new").cast("long")).alias("n_new"),
        F.sum((~F.col("is_new") & ~F.col("was_prev")).cast("long")).alias(
            "n_resurrected"
        ),
        F.count(F.lit(1)).alias("n_active"),
    )
    nxt = a.select(
        F.col("user_id").alias("n_user"), F.col("wk").alias("n_wk")
    )
    churn = (
        a.join(
            nxt,
            (F.col("user_id") == F.col("n_user"))
            & (F.col("n_wk") == F.col("wk") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .where(F.col("n_user").isNull())
        .groupBy(
            F.date_format(
                F.col("wk") + F.expr("INTERVAL 7 DAYS"), "yyyy-MM-dd"
            ).alias("week")
        )
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        weekly.join(churn, "week", "left")
        .select(
            "week",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).alias("n_churned_in"),
        )
        .orderBy("week")
    )


#: SLO: tolerated error share of all events (1%).
SLO_ERROR_BUDGET = 0.01


@register(
    "events_slo_burn",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   count(*) AS n_events,
                   count(*) FILTER (event_type = 'error') AS n_errors
            FROM events GROUP BY 1
        ),
        cum AS (
            SELECT day, n_events, n_errors,
                   sum(n_errors) OVER w AS ce,
                   sum(n_events) OVER w AS cn
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(n_errors AS BIGINT) AS n_errors,
               round(CAST(ce AS DOUBLE) / ({SLO_ERROR_BUDGET} * cn), 4)
                   AS burn_ratio,
               (CAST(ce AS DOUBLE) / ({SLO_ERROR_BUDGET} * cn) > 1.0)
                   AS over_budget
        FROM cum
        ORDER BY day
    """,
    tags=("events", "slo", "reliability", "window"),
    doc=(
        "SLO error-budget burn: daily error counts against a 1% budget, "
        "with the cumulative burn ratio (errors consumed / budget "
        "earned, both anchored to the window start) and the over-budget "
        "flag — the SRE reliability readout that decides freeze-vs-ship. "
        "The event stream collapses to day-level integer counts in one "
        "partial-agg pass; the prefix-sum window runs on the DAY-sized "
        "relation (at 100 TB still |days| rows — the window never sees "
        "the fact table), and the ratio is one double division from "
        "exact integers, identical in both engines."
    ),
)
def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        "n_events",
        "n_errors",
        F.sum("n_errors").over(w).alias("ce"),
        F.sum("n_events").over(w).alias("cn"),
    )
    burn = F.col("ce").cast("double") / (SLO_ERROR_BUDGET * F.col("cn"))
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "n_errors",
        F.round(burn, 4).alias("burn_ratio"),
        (burn > 1.0).alias("over_budget"),
    ).orderBy("day")


@register(
    "orders_forecast_backtest",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM orders GROUP BY 1
        ),
        paired AS (
            SELECT a.m, a.rev AS actual, b.rev AS forecast
            FROM monthly a JOIN monthly b ON b.m = a.m - INTERVAL 12 MONTH
        ),
        scored AS (
            SELECT strftime(m, '%Y') AS year,
                   CAST(round(abs(CAST(actual AS DOUBLE)
                                  - CAST(forecast AS DOUBLE))
                              / CAST(actual AS DOUBLE) * 1000000)
                        AS BIGINT) AS ape_q
            FROM paired
        )
        SELECT year, count(*) AS n_months,
               round(CAST(sum(ape_q) AS DOUBLE) / 1000000 / count(*), 6)
                   AS mape
        FROM scored
        GROUP BY year
        ORDER BY year
    """,
    tags=("forecast", "backtest", "evaluation"),
    doc=(
        "Walk-forward forecast backtest: the seasonal-naive predictor "
        "(same month last year) evaluated against realized monthly "
        "revenue as per-year MAPE — the evaluation loop the forecast "
        "family (ref_forecast5, q6_forecast_revenue) needs before "
        "anyone trusts a forecast; seasonal-naive is THE baseline any "
        "model must beat. The corpus collapses to the month-sized "
        "relation first (partial-agg decimal sums), the train/test "
        "pairing is a self-join on month−12 over ~80 rows, and the "
        "per-month absolute percentage errors are 1e6-quantized before "
        "the year fold — exact under any partitioning. At 100 TB "
        "everything after the first aggregate is driver-trivial."
    ),
)
def orders_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    prev = monthly.select(
        F.add_months(F.col("m"), 12).alias("p_m"), F.col("rev").alias("forecast")
    )
    paired = monthly.join(prev, monthly.m == prev.p_m).select(
        "m", F.col("rev").alias("actual"), "forecast"
    )
    ape_q = F.round(
        F.abs(F.col("actual").cast("double") - F.col("forecast").cast("double"))
        / F.col("actual").cast("double")
        * 1000000
    ).cast("long")
    return (
        paired.select(F.date_format("m", "yyyy").alias("year"), ape_q.alias("ape_q"))
        .groupBy("year")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(F.sum("ape_q").cast("double") / 1000000 / F.count(F.lit(1)), 6).alias(
                "mape"
            ),
        )
        .orderBy("year")
    )


@register(
    "events_key_skew",
    oracle=f"""
        WITH keyed AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id
        ),
        b AS (
            SELECT CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4))
                             AS BIGINT) % {SKEW_BUCKETS} AS BIGINT) AS bucket,
                   n
            FROM keyed
        ),
        per AS (
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(max(n) AS BIGINT) AS max_key_rows
            FROM b GROUP BY bucket
        ),
        g AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS t,
                   CAST(max(n_rows) AS BIGINT) AS mx,
                   CAST(max(max_key_rows) AS BIGINT) AS topk
            FROM per
        )
        SELECT p.bucket, p.n_keys, p.n_rows, p.max_key_rows,
               round(CAST(p.n_rows AS DOUBLE) / g.t, 6) AS load_share,
               round(CAST(g.mx * {SKEW_BUCKETS} AS DOUBLE) / g.t, 6) AS skew_ratio,
               round(CAST(g.topk AS DOUBLE) / g.t, 6) AS top_key_share
        FROM per p, g
        ORDER BY p.bucket
    """,
    tags=("events", "quality", "skew", "scale"),
    doc=(
        "Shuffle-key skew audit — the number a team reads BEFORE keying "
        "a 100 TB join or aggregation on a column, and the decision "
        "input for AQE's skew-join splitting (aggregations need none: "
        "Spark's partial aggregate combines a hot key map-side): "
        "per-key counts of the "
        "candidate key (user_id), md5-bucketed into "
        f"{SKEW_BUCKETS} stand-in partitions (the same stable-hash "
        "idiom docs_shard_manifest routes with — deterministic across "
        "runs, partitionings, and engines, unlike Murmur3 which DuckDB "
        "cannot mirror), reporting each bucket's key count, row load, "
        "share, and hottest key, plus the two headline numbers: "
        "skew_ratio = max bucket load / ideal (t / buckets) — the "
        "straggler multiplier a hash shuffle of this key would pay — "
        "and top_key_share, the single hottest key's row fraction (one "
        "key holding >1/buckets of the data cannot be balanced by MORE "
        "partitions, only by splitting it or broadcasting the other "
        "side). NULL keys are excluded — they never match in an "
        "equi-join, so they don't load join shuffles. Numerics: counts "
        "exact int64 end to end; skew_ratio is one exact int product "
        f"(max x {SKEW_BUCKETS}) over one division, rounded to 6 "
        "decimals. Scale "
        "shape: the per-key pre-aggregation is map-side-combinable (the "
        "SAME partial-agg cost the audited shuffle itself would pay — "
        "the audit is never more expensive than the join it de-risks); "
        "the bucket histogram is checkpointed (<= buckets rows) so the "
        "events parquet is scanned exactly once and the final plan "
        "reads only the checkpoint and broadcast 1-row globals "
        "(plan-pinned). n_buckets is a keyword parameter with the "
        "graded default."
    ),
)
def events_key_skew(
    spark: SparkSession, sf_dir: str, *, n_buckets: int = SKEW_BUCKETS
) -> DataFrame:
    keyed = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % n_buckets
    ).cast("long")
    # the bucket histogram feeds the output rows AND the 1-row globals —
    # checkpoint it (<= n_buckets rows) so the events parquet is scanned
    # exactly once per audit
    per = swap_checkpoint(
        "skew_hist",
        keyed.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_key_rows"),
        ),
    )
    g = per.agg(
        F.sum("n_rows").cast("long").alias("t"),
        F.max("n_rows").cast("long").alias("mx"),
        F.max("max_key_rows").cast("long").alias("topk"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            "max_key_rows",
            F.round(F.col("n_rows").cast("double") / F.col("t"), 6).alias(
                "load_share"
            ),
            F.round(
                (F.col("mx") * F.lit(n_buckets)).cast("double") / F.col("t"), 6
            ).alias("skew_ratio"),
            F.round(F.col("topk").cast("double") / F.col("t"), 6).alias(
                "top_key_share"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Governance: right-to-erasure cascade audit
# ---------------------------------------------------------------------------

#: Erasure cohort: customers with c_custkey % ERASE_MOD == ERASE_REM —
#: the same %10=3 delete-slice convention the index families tombstone
#: (vectors DELETE_REM, text compaction's doc slice), so the whole
#: repo's DELETE verbs exercise one cohort shape.
ERASE_MOD = 10
ERASE_REM = 3


@register(
    "customers_erasure_cascade",
    oracle=f"""
        WITH cohort AS (
            SELECT c_custkey FROM customer
            WHERE c_custkey % {ERASE_MOD} = {ERASE_REM}
        ),
        aff_o AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM cohort)
        ),
        rows_ AS (
            SELECT 'customer' AS relation,
                   CAST((SELECT count(*) FROM cohort) AS BIGINT) AS n_rows,
                   CAST((SELECT count(*) FROM customer) AS BIGINT) AS total_rows,
                   CAST((SELECT sum(CAST(c_acctbal AS DECIMAL(18,4)))
                         FROM customer
                         WHERE c_custkey % {ERASE_MOD} = {ERASE_REM}) AS DOUBLE)
                       AS value_affected
            UNION ALL
            SELECT 'events',
                   CAST((SELECT count(*) FROM events
                         WHERE user_id IN (SELECT c_custkey FROM cohort)) AS BIGINT),
                   CAST((SELECT count(*) FROM events) AS BIGINT),
                   CAST((SELECT sum(CAST(value AS DECIMAL(18,4))) FROM events
                         WHERE user_id IN (SELECT c_custkey FROM cohort)) AS DOUBLE)
            UNION ALL
            SELECT 'lineitem',
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IN (SELECT o_orderkey FROM aff_o)) AS BIGINT),
                   CAST((SELECT count(*) FROM lineitem) AS BIGINT),
                   CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2))))
                         FROM lineitem
                         WHERE l_orderkey IN (SELECT o_orderkey FROM aff_o)) AS DOUBLE)
            UNION ALL
            SELECT 'orders',
                   CAST((SELECT count(*) FROM aff_o) AS BIGINT),
                   CAST((SELECT count(*) FROM orders) AS BIGINT),
                   CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,4)))
                         FROM aff_o) AS DOUBLE)
        )
        SELECT relation, n_rows, total_rows,
               round(CAST(n_rows AS DOUBLE) / total_rows, 6) AS share,
               value_affected
        FROM rows_
        ORDER BY relation
    """,
    tags=("governance", "privacy", "action"),
    doc=(
        "Right-to-erasure cascade audit — the DELETE-planning verb of "
        "the governance family (k-anonymity/l-diversity/t-closeness "
        "grade what a release leaks; this grades what an erasure request "
        "TOUCHES before anything is deleted, the impact report a GDPR "
        f"art.17 pipeline writes first): for the erasure cohort "
        f"(c_custkey % {ERASE_MOD} = {ERASE_REM} — the same delete-slice "
        "convention the index families tombstone), the cascade over "
        "every relation reachable from the customer key: the cohort "
        "itself, its orders (custkey semi-join), those orders' lineitems "
        "(orderkey semi-join through the affected orders), and the "
        "cohort's behavioral events (user-key semi-join). Per relation: "
        "exact affected/total row counts, the affected share, and the "
        "business value erased with it — account balances, order "
        "totals, discounted lineitem revenue (the q1 exact-decimal "
        "convention: 2-decimal inputs cast to DECIMAL, exact decimal "
        "arithmetic, ONE cast of the sum to double), and event value "
        "mass (the streaming family's DECIMAL(18,4) quantization). "
        "Scale shape: each branch is one scan + a key semi-join (the "
        "lineitem branch re-keys through the affected orders exactly "
        "like a production cascade deletes child-first), aggregated "
        "map-side to a single row — no broadcast assumption on the "
        "cohort (at 100 TB an erasure backlog is itself large; the "
        "semi-joins shuffle on their keys and AQE picks the strategy); "
        "the four 1-row summaries union. Every ratio is one exact-int "
        "division; every money sum is decimal-exact before its single "
        "double cast."
    ),
)
def customers_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    events = table(spark, sf_dir, "events")

    cohort = customer.filter(
        F.col("c_custkey") % ERASE_MOD == ERASE_REM
    ).select("c_custkey")
    aff_o = orders.join(
        cohort, orders["o_custkey"] == cohort["c_custkey"], "left_semi"
    )
    aff_l = lineitem.join(
        aff_o.select("o_orderkey"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    aff_e = events.join(
        cohort, events["user_id"] == cohort["c_custkey"], "left_semi"
    )

    def _branch(rel: str, total_df: DataFrame, aff: DataFrame, val) -> DataFrame:
        tot = total_df.agg(F.count(F.lit(1)).cast("long").alias("total_rows"))
        a = aff.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(val).cast("double").alias("value_affected"),
        )
        return a.crossJoin(F.broadcast(tot)).select(
            F.lit(rel).alias("relation"),
            "n_rows",
            "total_rows",
            F.round(
                F.col("n_rows").cast("double") / F.col("total_rows"), 6
            ).alias("share"),
            "value_affected",
        )

    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    out = _branch(
        "customer",
        customer,
        customer.filter(F.col("c_custkey") % ERASE_MOD == ERASE_REM),
        F.col("c_acctbal").cast("decimal(18,4)"),
    )
    out = out.unionByName(
        _branch("events", events, aff_e, F.col("value").cast("decimal(18,4)"))
    )
    out = out.unionByName(_branch("lineitem", lineitem, aff_l, disc))
    out = out.unionByName(
        _branch("orders", orders, aff_o, F.col("o_totalprice").cast("decimal(18,4)"))
    )
    return out.orderBy("relation")


@register(
    "customers_erasure_execute",
    oracle=f"""
        WITH cohort AS (
            SELECT c_custkey FROM customer
            WHERE c_custkey % {ERASE_MOD} = {ERASE_REM}
        ),
        surv_c AS (
            SELECT * FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM cohort)
        ),
        surv_o AS (
            SELECT * FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM cohort)
        ),
        surv_l AS (
            SELECT * FROM lineitem
            WHERE l_orderkey NOT IN (
                SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM cohort)
            )
        ),
        surv_e AS (
            SELECT * FROM events
            WHERE user_id NOT IN (SELECT c_custkey FROM cohort)
        ),
        rows_ AS (
            SELECT 'customer' AS relation,
                   CAST((SELECT count(*) FROM surv_c) AS BIGINT) AS n_rows_after,
                   CAST((SELECT sum(CAST(c_acctbal AS DECIMAL(18,4)))
                         FROM surv_c) AS DOUBLE) AS value_remaining,
                   CAST((SELECT CAST(sum(CAST(c_custkey AS DECIMAL(38,0)))
                                 AS DECIMAL(38,0)) FROM surv_c) AS VARCHAR)
                       AS key_checksum
            UNION ALL
            SELECT 'events',
                   CAST((SELECT count(*) FROM surv_e) AS BIGINT),
                   CAST((SELECT sum(CAST(value AS DECIMAL(18,4)))
                         FROM surv_e) AS DOUBLE),
                   CAST((SELECT CAST(sum(CAST(event_id AS DECIMAL(38,0)))
                                 AS DECIMAL(38,0)) FROM surv_e) AS VARCHAR)
            UNION ALL
            SELECT 'lineitem',
                   CAST((SELECT count(*) FROM surv_l) AS BIGINT),
                   CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2))))
                         FROM surv_l) AS DOUBLE),
                   CAST((SELECT CAST(sum(CAST(l_orderkey AS DECIMAL(38,0)))
                                 AS DECIMAL(38,0)) FROM surv_l) AS VARCHAR)
            UNION ALL
            SELECT 'orders',
                   CAST((SELECT count(*) FROM surv_o) AS BIGINT),
                   CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,4)))
                         FROM surv_o) AS DOUBLE),
                   CAST((SELECT CAST(sum(CAST(o_orderkey AS DECIMAL(38,0)))
                                 AS DECIMAL(38,0)) FROM surv_o) AS VARCHAR)
        )
        SELECT relation, n_rows_after, value_remaining, key_checksum
        FROM rows_
        ORDER BY relation
    """,
    tags=("governance", "privacy", "action"),
    doc=(
        "Right-to-erasure EXECUTE — the action customers_erasure_cascade "
        "plans, closing governance's decision→action pair the way "
        "knn_index_compact closed the vector index's: every relation "
        "reachable from the customer key is REWRITTEN minus the cascade "
        "(the cohort, its orders, those orders' lineitems child-first, "
        "the cohort's events — all via key anti-joins, the production "
        "delete path), and the entry grades the REWRITE ITSELF: per "
        "relation, the surviving row count, the surviving business "
        "value (the audit's exact-decimal conventions, so "
        "audit.value_affected + execute.value_remaining reconstructs "
        "each table's total exactly — cross-entry pinned), and an exact "
        "key checksum of the survivors (DECIMAL(38,0) sum emitted as a "
        "string, the knn_index_compact convention — no int64 wrap at "
        "any key density). DELETION EQUALS REBUILD is the contract: "
        "Spark deletes by SUBTRACTING (anti-joins against the cascade "
        "keys) while the oracle REBUILDS each relation from the "
        "survivors alone (NOT IN selection) — the driver's hash compare "
        "proves the two produce identical stores. Scale shape: each "
        "branch is one scan + a key anti-join (shuffle on the key, no "
        "broadcast assumption on the cohort), aggregated map-side to "
        "one summary row; the physical rewrite a warehouse performs "
        "from this plan is the partition-pruned MERGE/overwrite the "
        "sinks module implements (K2/K3)."
    ),
)
def customers_erasure_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    events = table(spark, sf_dir, "events")

    cohort = customer.filter(
        F.col("c_custkey") % ERASE_MOD == ERASE_REM
    ).select("c_custkey")
    surv_c = customer.join(
        cohort, customer["c_custkey"] == cohort["c_custkey"], "left_anti"
    )
    surv_o = orders.join(
        cohort, orders["o_custkey"] == cohort["c_custkey"], "left_anti"
    )
    aff_o_keys = orders.join(
        cohort, orders["o_custkey"] == cohort["c_custkey"], "left_semi"
    ).select("o_orderkey")
    surv_l = lineitem.join(
        aff_o_keys, lineitem["l_orderkey"] == F.col("o_orderkey"), "left_anti"
    )
    surv_e = events.join(
        cohort, events["user_id"] == cohort["c_custkey"], "left_anti"
    )

    def _branch(rel: str, surv: DataFrame, val, key) -> DataFrame:
        return surv.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows_after"),
            F.sum(val).cast("double").alias("value_remaining"),
            F.sum(key.cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("key_checksum"),
        ).select(F.lit(rel).alias("relation"), "*")

    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    out = _branch(
        "customer", surv_c, F.col("c_acctbal").cast("decimal(18,4)"), F.col("c_custkey")
    )
    out = out.unionByName(
        _branch("events", surv_e, F.col("value").cast("decimal(18,4)"), F.col("event_id"))
    )
    out = out.unionByName(_branch("lineitem", surv_l, disc, F.col("l_orderkey")))
    out = out.unionByName(
        _branch("orders", surv_o, F.col("o_totalprice").cast("decimal(18,4)"), F.col("o_orderkey"))
    )
    return out.orderBy("relation")
