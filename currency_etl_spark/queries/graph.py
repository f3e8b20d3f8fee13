"""Graph analytics over the corpus: PageRank on the part–supplier graph.

Complements the dedup family's connected components (queries/llm_ops.py:
dedup_clusters) with the other canonical iterative graph computation —
power iteration. The same Spark shape serves both: materialize the edge
set once (it is graph-sized, far smaller than the fact table it derives
from), then run join+aggregate message-passing rounds over co-partitioned
edges and ranks.

Determinism: PageRank is float-fragile under distributed summation (the
per-node contribution sum has no fixed order), so the ENTIRE algorithm
runs in integer arithmetic — ranks are int64 billionths, per-edge
contributions use integer division, and the damping update is an integer
expression. Integer sums are exact in any order, so Spark and DuckDB agree
bit-for-bit. Truncating division is part of the algorithm definition,
mirrored verbatim in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import table

#: Fixed power-iteration count (unrolled in the oracle CTE chain).
PR_ITERS = 3
#: Rank scale: int64 billionths.
PR_SCALE = 1_000_000_000
#: Damping factor 0.85 as integer percentages: the update is
#: rank' = (PR_TELEPORT_PCT * SCALE) div 100 + (PR_DAMP_PCT * incoming) div 100.
PR_DAMP_PCT = 85
PR_TELEPORT_PCT = 100 - PR_DAMP_PCT
#: Rows emitted (top-k by final rank).
PR_TOPK = 20


def _sql_pr_iter(prev: str, it: int) -> str:
    """One integer power-iteration round (DuckDB). `//` is truncating
    integer division, matching Spark's `div`."""
    return f"""
        inc{it} AS (
            SELECT e.dst AS node,
                   CAST(sum({prev}.rank_q // d.deg) AS BIGINT) AS inc
            FROM edges e
            JOIN {prev} ON e.src = {prev}.node
            JOIN deg d ON d.node = e.src
            GROUP BY e.dst
        ),
        r{it} AS (
            SELECT n.node,
                   {PR_TELEPORT_PCT * PR_SCALE // 100} + ({PR_DAMP_PCT} * coalesce(i.inc, CAST(0 AS BIGINT))) // 100 AS rank_q
            FROM nodes n LEFT JOIN inc{it} i ON n.node = i.node
        )"""


@register(
    "graph_pagerank_bipartite",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        edges AS (
            SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pairs
            UNION ALL
            SELECT s * 2 + 1 AS src, p * 2 AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank_q FROM nodes),
        {",".join(_sql_pr_iter(f"r{i}", i + 1) for i in range(PR_ITERS))}
        SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
               node // 2 AS node_key,
               round(CAST(rank_q AS DOUBLE) / {PR_SCALE}, 6) AS rank
        FROM r{PR_ITERS}
        ORDER BY rank_q DESC, node
        LIMIT {PR_TOPK}
    """,
    tags=("graph", "iterative"),
    doc=(
        "PageRank (3 fixed power iterations, damping 0.85) over the "
        "bipartite part–supplier graph derived from lineitem — 'which "
        "parts/suppliers sit at the center of the supply network'. Scale "
        "design: the DISTINCT edge list is graph-sized (≪ fact table) and "
        "localCheckpoints once; each iteration is ONE join + integer-sum "
        "shuffle over edges co-partitioned with ranks on the join key; "
        "rank mass is int64 billionths so distributed summation is exact "
        "in any order (the float version would be run-to-run "
        "nondeterministic). Top-20 plans as TakeOrderedAndProject."
    ),
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from currency_etl_spark.operators.ckpt import swap_checkpoint

    li = table(spark, sf_dir, "lineitem")
    # symmetric edge doubling as ONE in-row Generate (explode of the
    # 2-element struct array) instead of a self-union — the union's two
    # branches would each run the lineitem scan AND the fact-sized
    # distinct shuffle, because Catalyst does not dedupe common subplans:
    # one parquet scan and one distinct HashAggregate, not two.
    pairs = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("p") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
                ),
                F.struct(
                    (F.col("s") * 2 + 1).alias("src"), (F.col("p") * 2).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # the out-degree rides each edge via a window on src — one shuffle, no
    # separate degree aggregation + join — and the (src, dst, deg) list
    # materializes ONCE for every iteration to read, already partitioned
    # by the key each round's join uses
    ed = swap_checkpoint(
        "pr_edges",
        edges.withColumn("deg", F.count(F.lit(1)).over(W.partitionBy("src"))),
    )
    # node list: tiny (|parts| + |suppliers|) but referenced every round —
    # materialize it too, or each iteration re-runs the distinct over edges
    nodes = swap_checkpoint(
        "pr_nodes", ed.select(F.col("src").alias("node")).distinct()
    )
    ranks = nodes.withColumn("rank_q", F.lit(PR_SCALE).cast("long"))
    for _ in range(PR_ITERS):
        inc = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("rank_q div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .select("node", F.coalesce("inc", F.lit(0)).alias("__inc"))
            .select(
                "node",
                (
                    F.lit(PR_TELEPORT_PCT * PR_SCALE // 100).cast("long")
                    + F.expr(f"(CAST({PR_DAMP_PCT} AS BIGINT) * __inc) div 100")
                ).alias("rank_q"),
            )
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "part").otherwise("supplier").alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            F.round(F.col("rank_q").cast("double") / PR_SCALE, 6).alias("rank"),
            "rank_q",
            "node",
        )
        .orderBy(F.desc("rank_q"), "node")
        .limit(PR_TOPK)
        .select("node_type", "node_key", "rank")
    )


#: The sparsified supplier affinity graph's SQL construction (oracle
#: twin of supplier_affinity_edges below): each supplier keeps its
#: top-{cap} revenue parts, suppliers sharing a kept part are adjacent.
#: Shared with supplier_reach_bfs's oracle semantics (extras.py).
def _affinity_edges_sql(cap: int) -> str:
    return f"""
        rev AS (
            SELECT l_suppkey AS s, l_partkey AS p,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS r
            FROM lineitem GROUP BY l_suppkey, l_partkey
        ),
        sp AS (
            SELECT s, p FROM (
                SELECT s, p,
                       row_number() OVER (PARTITION BY s ORDER BY r DESC, p) AS rn
                FROM rev
            ) WHERE rn <= {cap}
        ),
        edges AS (
            SELECT DISTINCT a.s AS a, b.s AS b
            FROM sp a JOIN sp b ON a.p = b.p AND a.s <> b.s
        )"""


#: Most suppliers one part may keep after the top-``cap`` filter in
#: supplier_affinity_edges: its pair generation builds a part's
#: O(fanout²) supplier pairs in one row, so a hub part above this fails
#: the build with a named error instead of exhausting a task's memory.
#: TPC-H-shaped data has a fanout of 11-52.
AFFINITY_MAX_FANOUT = 128


def supplier_affinity_edges(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    """The MEMOIZED symmetric distinct edge list (a, b) of the
    primary-part supplier affinity graph — each supplier's top-``cap``
    revenue parts, suppliers sharing a kept part adjacent (the
    hub-capping sparsification documented at supplier_reach_bfs). One
    aggregate + window + posting-list pair generation (per-part sorted
    supplier list, in-row ordered-pair explode, symmetric doubling)
    per session per (sf_dir, cap); the BFS, triangle, and any future
    graph entry read the same stored relation (the dedup family's
    shared-index shape), under the one-live-per-tag release
    discipline."""
    from pyspark.sql import Window as W

    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        from currency_etl_spark.queries.llm_ops import _ordered_pairs

        li = table(spark, sf_dir, "lineitem")
        rev = li.groupBy(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("r"))
        sp = (
            rev.withColumn(
                "rn",
                F.row_number().over(W.partitionBy("s").orderBy(F.desc("r"), "p")),
            )
            .where(F.col("rn") <= cap)
            .select("s", "p")
        )
        # pair generation via the dedup family's posting-list pattern
        # (groupBy part → sorted supplier list → in-row ordered-pair
        # explode) instead of the part-keyed self-join: the join form
        # shuffles `sp` twice — re-running the lineitem aggregate + the
        # top-`cap` window for EACH side, since Catalyst doesn't dedupe
        # the common subplan — and generates both directed duplicates
        # before the distinct. One shuffle on p, undirected a<b pairs
        # dedup FIRST (half the distinct's input), then the symmetric
        # doubling is an in-row Generate.
        #
        # Hub-fanout bound: the top-`cap` window
        # bounds parts-per-SUPPLIER, not suppliers-per-part, so the
        # per-part collect_list is bounded only by the data's
        # suppliers-per-part fanout — O(fanout²) pairs in one row. That
        # is deliberate, for two reasons. (1) It is exactly the
        # self-join's per-key cost: a hot part produces the same
        # fanout² joined rows in the join form, just spread across the
        # probe side — swapping back buys no asymptotic safety, it only
        # re-pays the duplicated aggregate+window subtree. (2) The
        # declared result is the FULL edge set of the sparsified graph;
        # a _cap_groups-style per-part truncation (the dedup family's
        # guard) would drop edges and change every consumer's oracle'd
        # output, which an optimization round must not do. At the
        # 100 TB design point a pathological hub part (say 10⁵ distinct
        # suppliers after the top-`cap` filter) would need the dedup
        # treatment *as a semantics change*; on TPC-H-shaped data the
        # fanout is 11-52 (tests/test_bfs_recursive.py pins the
        # test-corpus max), far below any buffer concern; a part above
        # AFFINITY_MAX_FANOUT fails the build through raise_error inside
        # the plan (no extra job). Output is set-identical to the join
        # form: same (a, b), a != b, both directions, distinct.
        ss = F.col("ss")
        bounded = F.when(F.size(ss) <= AFFINITY_MAX_FANOUT, ss).otherwise(
            F.raise_error(
                F.format_string(
                    "supplier_affinity_edges: part %d keeps %d suppliers, "
                    f"above AFFINITY_MAX_FANOUT={AFFINITY_MAX_FANOUT}",
                    "p",
                    F.size(ss),
                )
            )
        )
        und = (
            sp.groupBy("p")
            .agg(F.sort_array(F.collect_list("s")).alias("ss"))
            .filter(F.size("ss") > 1)
            .select(F.explode(_ordered_pairs(bounded)).alias("e"))
            .select(F.col("e.doc_a").alias("a"), F.col("e.doc_b").alias("b"))
            .distinct()
        )
        return und.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")

    return memo_checkpoint("affinity_edges", (sf_dir, cap), build)


@register(
    "supplier_triangle_stats",
    oracle=None,  # assigned below (needs the BFS cap constant)
    tags=("graph", "triangles", "clustering"),
    doc=(
        "Triangle count + clustering coefficient over the sparsified "
        "supplier affinity graph — the graph family's local-structure "
        "rung beside reachability (supplier_reach_bfs) and centrality "
        "(graph_pagerank_bipartite), on the SAME memoized edge list "
        "(one build per session, shared with the BFS). The algorithm "
        "is the canonical distributed one (node-iterator with "
        "degree-ordered orientation, Suri & Vassilvitskii's MapReduce "
        "discipline): orient every edge from the (degree, id)-smaller "
        "endpoint to the larger, form wedges only between a node's "
        "ordered out-neighbor pairs, close them with one equi-join "
        "back to the oriented edges — each triangle materializes "
        "EXACTLY once, and a node's out-degree in this orientation is "
        "O(sqrt(m)) however hubby the raw graph, which is what keeps "
        "the wedge fanout bounded at any scale. Per-node triangle "
        "counts come from exploding each found triangle to its three "
        "corners (exact int64); the graded output is the per-DEGREE "
        "rollup — supplier count, total triangle incidences, and the "
        "bin's mean local clustering coefficient, which for constant "
        "degree d is the single exact division 2·ΣT / (d·(d-1)·n): "
        "every quantity an exact integer until one IEEE division, so "
        "Spark and DuckDB agree bit-for-bit (the graph module's "
        "integer-determinism rule; float-summing per-node coefficients "
        "across partitions would not be deterministic — binning by "
        "degree is what makes the mean exact). Scale shape: the edge "
        "list reads the stored checkpoint (zero parquet scans "
        "plan-pinned); orientation is two degree joins; the wedge "
        "self-join and the closing join are hash equi-joins on "
        "(node) / (v, w) keys; the rollup is degree-keyed with "
        "map-side combine."
    ),
)
def supplier_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.ckpt import swap_checkpoint
    from currency_etl_spark.queries.extras import BFS_TOP_PARTS

    edges = supplier_affinity_edges(spark, sf_dir, BFS_TOP_PARTS)
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    # orientation: low (deg, id) -> high (deg, id); checkpointed because
    # the oriented relation feeds THREE branches (two wedge arms + the
    # closing join) and would otherwise re-run its joins per branch
    d1 = swap_checkpoint(
        "tri_oriented",
        edges.join(da, "a")
        .join(db, "b")
        .where(
            (F.col("dega") < F.col("degb"))
            | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"), F.col("degb").alias("dv")),
    )
    x = d1.select("u", "v", "dv")
    y = d1.select(F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw"))
    wedges = x.join(y, "u").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = d1.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    pern = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    nodes = deg.join(pern, "node", "left").fillna({"t": 0})
    return (
        nodes.groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("t").cast("long").alias("sum_triangles"),
        )
        .select(
            F.col("deg").cast("long").alias("degree"),
            "n_suppliers",
            "sum_triangles",
            F.when(
                F.col("deg") >= 2,
                F.round(
                    (F.col("sum_triangles") * 2).cast("double")
                    / (F.col("deg") * (F.col("deg") - 1) * F.col("n_suppliers")),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_cc"),
        )
        .orderBy("degree")
    )


def _triangle_oracle(cap: int) -> str:
    return f"""
        WITH {_affinity_edges_sql(cap)},
        deg AS (
            SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY a
        ),
        d1 AS (
            SELECT e.a AS u, e.b AS v, db.deg AS dv
            FROM edges e
            JOIN deg da ON da.node = e.a
            JOIN deg db ON db.node = e.b
            WHERE da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        ),
        wdg AS (
            SELECT x.u, x.v, y.v AS w
            FROM d1 x JOIN d1 y ON x.u = y.u
            WHERE x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v)
        ),
        tris AS (
            SELECT wdg.u, wdg.v, wdg.w
            FROM wdg JOIN d1 c ON c.u = wdg.v AND c.v = wdg.w
        ),
        pern AS (
            SELECT node, CAST(count(*) AS BIGINT) AS t
            FROM (SELECT u AS node FROM tris
                  UNION ALL SELECT v FROM tris
                  UNION ALL SELECT w FROM tris)
            GROUP BY node
        ),
        nodes AS (
            SELECT d.node, d.deg, coalesce(p.t, CAST(0 AS BIGINT)) AS t
            FROM deg d LEFT JOIN pern p ON p.node = d.node
        )
        SELECT CAST(deg AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(t) AS BIGINT) AS sum_triangles,
               CASE WHEN deg >= 2
                    THEN round(CAST(sum(t) * 2 AS DOUBLE)
                               / (deg * (deg - 1) * count(*)), 6)
                    ELSE 0.0 END AS avg_cc
        FROM nodes
        GROUP BY deg
        ORDER BY degree
    """


def _assign_triangle_oracle() -> None:
    from currency_etl_spark.catalog import CATALOG
    from currency_etl_spark.queries.extras import BFS_TOP_PARTS

    CATALOG["supplier_triangle_stats"].oracle = _triangle_oracle(BFS_TOP_PARTS)


_assign_triangle_oracle()
