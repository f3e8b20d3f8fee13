"""Invariant tests for the recursive-CTE BFS: a plain-Python BFS over the
same sparsified graph must produce identical hop counts, and the hop
histogram must satisfy BFS structure (hop 0 is the seed alone, counts
partition the reachable set)."""

from __future__ import annotations

from collections import deque

from currency_etl_spark.catalog import load_catalog
from currency_etl_spark.queries.extras import BFS_MAX_HOPS, BFS_SEED, BFS_TOP_PARTS
from currency_etl_spark.sources import table

CATALOG = load_catalog()


def _python_bfs(edges: dict[int, set[int]], seed: int, max_hops: int) -> dict[int, int]:
    dist = {seed: 0}
    q = deque([seed])
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in edges.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_matches_python_reference(spark, sf_dir):
    got = CATALOG["supplier_reach_bfs"].spark_fn(spark, sf_dir).toPandas()
    li = table(spark, sf_dir, "lineitem").toPandas()
    rev = (
        li.groupby(["l_suppkey", "l_partkey"]).l_extendedprice.sum().reset_index()
    )
    rev = rev.sort_values(
        ["l_suppkey", "l_extendedprice", "l_partkey"],
        ascending=[True, False, True],
    )
    sp = rev.groupby("l_suppkey").head(BFS_TOP_PARTS)
    edges: dict[int, set[int]] = {}
    for _, grp in sp.groupby("l_partkey"):
        ss = grp.l_suppkey.tolist()
        for u in ss:
            for v in ss:
                if u != v:
                    edges.setdefault(u, set()).add(v)
    dist = _python_bfs(edges, BFS_SEED, BFS_MAX_HOPS)
    want: dict[int, int] = {}
    for h in dist.values():
        want[h] = want.get(h, 0) + 1
    got_map = dict(zip(got.hop, got.n_suppliers))
    assert got_map == want
    # structure: the seed is alone at hop 0; hops are contiguous from 0
    assert got_map[0] == 1
    assert sorted(got_map) == list(range(len(got_map)))


def test_affinity_posting_list_fanout_bounded(spark, sf_dir):
    """Pin the hub-fanout bound the posting-list pair generation relies
    on: the per-part collect_list in
    supplier_affinity_edges is bounded by suppliers-per-part AFTER the
    top-cap sparsification — the top-`cap` window bounds
    parts-per-supplier, so this is a data-shape property, not a window
    guarantee. Assert the max stays far below any in-row buffer concern
    on the test corpus, and that the undirected pair count is exactly
    sum C(n_p, 2) deduped — i.e. the explode's row cost is what the
    comment claims. A corpus regeneration that grows a hub part past
    the asserted ceiling should fail here, forcing the documented
    re-design (dedup-style per-part cap as a semantics change)."""
    import pandas as pd

    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem").toPandas()
    rev = (
        li.groupby(["l_suppkey", "l_partkey"]).l_extendedprice.sum().reset_index()
    )
    rev = rev.sort_values(
        ["l_suppkey", "l_extendedprice", "l_partkey"],
        ascending=[True, False, True],
    )
    sp = rev.groupby("l_suppkey").head(BFS_TOP_PARTS)
    fanout = sp.groupby("l_partkey").l_suppkey.nunique()
    assert fanout.max() <= 128, (
        f"hub part fanout {fanout.max()} — the in-row pair array is "
        "O(fanout^2); revisit the posting-list design note in graph.py"
    )
    # the symmetric edge list is 2x the distinct undirected pair set
    from currency_etl_spark.queries.graph import supplier_affinity_edges

    edges = supplier_affinity_edges(spark, sf_dir, BFS_TOP_PARTS)
    n_sym = edges.count()
    und = set()
    for _, grp in sp.groupby("l_partkey"):
        ss = sorted(grp.l_suppkey.unique())
        for i, u in enumerate(ss):
            for v in ss[i + 1:]:
                und.add((u, v))
    assert n_sym == 2 * len(und)


def test_bfs_repeat_invocation_shares_then_releases_checkpoint(spark, sf_dir):
    """The edge list is the graph family's shared memoized artifact
    (r16): re-invoking the builder in one session is a memo HIT (the
    identical live checkpoint, no rebuild), a memo reset forces the
    next invocation to rebuild and the swap releases the previous
    blocks (round-5 release discipline, now through memo_checkpoint),
    and each invocation's distinct temp view keeps concurrent builders
    from racing on a shared name."""
    from currency_etl_spark.operators import ckpt
    from currency_etl_spark.operators.ckpt import reset_memos
    from currency_etl_spark.queries import extras

    first = CATALOG["supplier_reach_bfs"].spark_fn(spark, sf_dir).toPandas()
    edges_first = ckpt._LIVE["affinity_edges"]
    seq_first = extras._BFS_VIEW_SEQ
    second = CATALOG["supplier_reach_bfs"].spark_fn(spark, sf_dir).toPandas()
    assert first.equals(second)
    assert extras._BFS_VIEW_SEQ == seq_first + 1
    # within a session: one build, shared (the stored-artifact shape)
    assert ckpt._LIVE["affinity_edges"] is edges_first
    reset_memos()
    third = CATALOG["supplier_reach_bfs"].spark_fn(spark, sf_dir).toPandas()
    assert first.equals(third)
    assert ckpt._LIVE["affinity_edges"] is not edges_first
    # the pre-reset checkpoint's blocks were released by the swap
    assert edges_first.storageLevel.useMemory is False
    assert edges_first.storageLevel.useDisk is False
