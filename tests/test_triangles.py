"""supplier_triangle_stats invariants.

Degree-ordered triangle counting over the shared sparsified supplier
affinity graph: pinned against a pure-python re-derivation (third
engine), the shared-edge-artifact contract with supplier_reach_bfs,
the exactly-once triangle materialization, and the zero-parquet plan."""

from __future__ import annotations

import pandas as pd

SF = "/root/testdata/sf0.001"


def _plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _py_graph(sf: str, cap: int):
    """adjacency {node: set(neighbors)} of the sparsified graph."""
    li = pd.read_parquet(f"{sf}/lineitem.parquet")[
        ["l_suppkey", "l_partkey", "l_extendedprice"]
    ]
    rev = (
        li.groupby(["l_suppkey", "l_partkey"], as_index=False)["l_extendedprice"]
        .sum()
    )
    keep: dict = {}
    for s, grp in rev.groupby("l_suppkey"):
        g = grp.sort_values(
            ["l_extendedprice", "l_partkey"], ascending=[False, True]
        ).head(cap)
        keep[int(s)] = set(int(p) for p in g.l_partkey)
    by_part: dict = {}
    for s, parts in keep.items():
        for p in parts:
            by_part.setdefault(p, set()).add(s)
    adj: dict = {}
    for members in by_part.values():
        for s in members:
            adj.setdefault(s, set()).update(members - {s})
    return adj


def _py_bins(adj: dict):
    tri = {n: 0 for n in adj}
    order = lambda n: (len(adj[n]), n)  # noqa: E731 — the shared total order
    for u in adj:
        higher = [v for v in adj[u] if order(v) > order(u)]
        higher.sort(key=order)
        for i, v in enumerate(higher):
            for w in higher[i + 1 :]:
                if w in adj[v]:
                    tri[u] += 1
                    tri[v] += 1
                    tri[w] += 1
    bins: dict = {}
    for n, t in tri.items():
        d = len(adj[n])
        b = bins.setdefault(d, [0, 0])
        b[0] += 1
        b[1] += t
    out = []
    for d in sorted(bins):
        n, st = bins[d]
        cc = round(2 * st / (d * (d - 1) * n), 6) if d >= 2 else 0.0
        out.append((d, n, st, cc))
    return out


def test_triangles_match_python_rederivation(spark):
    from currency_etl_spark.queries.extras import BFS_TOP_PARTS
    from currency_etl_spark.queries.graph import supplier_triangle_stats

    got = [tuple(r) for r in supplier_triangle_stats(spark, SF).collect()]
    assert got == _py_bins(_py_graph(SF, BFS_TOP_PARTS))
    assert len(got) > 0


def test_triangles_share_the_bfs_edge_artifact(spark):
    """One edge build per session: running the BFS then the triangle
    entry must be a memo hit on the same live checkpoint (the graph
    family's stored-artifact contract)."""
    from currency_etl_spark.operators import ckpt
    from currency_etl_spark.operators.ckpt import reset_memos

    reset_memos()
    try:
        from currency_etl_spark.catalog import load_catalog

        C = load_catalog()
        C["supplier_reach_bfs"].spark_fn(spark, SF).collect()
        edges = ckpt._LIVE["affinity_edges"]
        C["supplier_triangle_stats"].spark_fn(spark, SF).collect()
        assert ckpt._LIVE["affinity_edges"] is edges
    finally:
        reset_memos()


def test_triangles_plan_reads_checkpoints_only(spark):
    from currency_etl_spark.queries.graph import supplier_triangle_stats

    p = _plan_of(supplier_triangle_stats(spark, SF))
    # the edge list and the oriented relation both enter as checkpoints
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p


def test_triangle_totals_are_consistent(spark):
    """Sum of per-node triangle incidences is exactly 3x the number of
    distinct triangles (each triangle has three corners) — recompute
    the distinct-triangle count from the python graph."""
    from currency_etl_spark.queries.extras import BFS_TOP_PARTS
    from currency_etl_spark.queries.graph import supplier_triangle_stats

    adj = _py_graph(SF, BFS_TOP_PARTS)
    n_tri = sum(t for _, _, st, _ in _py_bins(adj) for t in [st]) // 3
    rows = supplier_triangle_stats(spark, SF).collect()
    assert sum(r["sum_triangles"] for r in rows) == 3 * n_tri
    assert sum(r["n_suppliers"] for r in rows) == len(adj)
