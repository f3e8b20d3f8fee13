"""Invariant tests for the bucketed kNN graph: rank shape, bucket
containment, and a numpy re-derivation of each point's in-bucket top-1;
plus the recall audits' per-query top-k."""

from __future__ import annotations

import numpy as np
import pytest

from currency_etl_spark.catalog import load_catalog
from currency_etl_spark.queries.vectors import KNN_GRAPH_BITS, KNN_GRAPH_K
from currency_etl_spark.sources import table

CATALOG = load_catalog()


def _bucket(vec: np.ndarray) -> int:
    return sum(1 << i for i in range(KNN_GRAPH_BITS) if vec[i] > 0)


def test_knn_graph_shape_and_bucket_containment(spark, sf_dir):
    got = CATALOG["knn_graph_bucketed"].spark_fn(spark, sf_dir).toPandas()
    emb = table(spark, sf_dir, "embeddings").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    per = got.groupby("vec_id")
    assert (per.size() <= KNN_GRAPH_K).all()
    for vid, grp in per:
        assert list(grp.sort_values("rank")["rank"]) == list(range(1, len(grp) + 1))
    # every edge stays inside the source's LSH bucket, no self-edges
    assert (got.vec_id != got.neighbor_id).all()
    for row in got.itertuples():
        assert _bucket(vecs[row.vec_id]) == _bucket(vecs[row.neighbor_id])


def test_knn_graph_top1_matches_numpy(spark, sf_dir):
    got = CATALOG["knn_graph_bucketed"].spark_fn(spark, sf_dir).toPandas()
    emb = table(spark, sf_dir, "embeddings").toPandas()
    ids = emb.vec_id.to_numpy()
    mat = np.array(emb.embedding.tolist(), dtype=np.float64)
    buckets = np.array([_bucket(v) for v in mat])
    norms = np.linalg.norm(mat, axis=1)
    top1 = got[got["rank"] == 1].set_index("vec_id")
    for i, vid in enumerate(ids):
        mask = (buckets == buckets[i]) & (ids != vid)
        if not mask.any():
            assert vid not in top1.index
            continue
        sims = mat[mask] @ mat[i] / (norms[mask] * norms[i])
        cand_ids = ids[mask]
        # replicate (sim DESC, neighbor_id ASC) tie-breaking
        order = np.lexsort((cand_ids, -sims))
        best = cand_ids[order[0]]
        assert top1.loc[vid].neighbor_id == best
        assert top1.loc[vid].cos_sim == pytest.approx(sims[order[0]], abs=1e-5)


def test_truncation_recall_matches_numpy(spark, sf_dir):
    """Re-derive both top-5 sets with numpy and confirm the overlap counts;
    also sanity-check the audit is non-vacuous (recall < 1 somewhere)."""
    from currency_etl_spark.queries.vectors import RECALL_K, RECALL_NQ, TRUNC_DIMS

    got = (
        CATALOG["knn_truncation_recall"].spark_fn(spark, sf_dir).toPandas()
        .set_index("query_id")
    )
    emb = table(spark, sf_dir, "embeddings").toPandas()
    ids = emb.vec_id.to_numpy()
    mat = np.array(emb.embedding.tolist(), dtype=np.float64)

    def topk(m, qi):
        sims = m @ m[qi] / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[qi]))
        mask = ids != ids[qi]
        order = np.lexsort((ids[mask], -sims[mask]))
        return set(ids[mask][order[:RECALL_K]])

    tm = mat[:, :TRUNC_DIMS]
    for qi in range(min(RECALL_NQ, len(ids))):
        full = topk(mat, qi)
        trunc = topk(tm, qi)
        assert got.loc[ids[qi]].n_overlap == len(full & trunc)
    assert (got.recall_at_k < 1.0).any()  # truncation genuinely loses recall


def test_topk_per_query_hot_query_is_exact_with_partial_limit(spark):
    """One query holding most candidate rows (ties on sim included): the
    single-window top-k equals a plain ROW_NUMBER top-k recomputed here,
    and the final plan trims each map task's rows with a partial
    WindowGroupLimit below the qid Exchange."""
    from pyspark.sql import functions as F

    from tests.fixtures import right_below_exchange

    from currency_etl_spark.queries.vectors import RECALL_K, _topk_per_query

    n, hot = 3000, 2500
    sims = spark.range(0, n, 1, numPartitions=4).select(
        F.when(F.col("id") < hot, 0).otherwise(F.col("id") % 5 + 1).alias("qid"),
        F.col("id").alias("vec_id"),
        ((F.col("id") * 7919) % 101 / 100.0).alias("sim"),
    )
    cands: dict = {}
    for i in range(n):
        q = 0 if i < hot else i % 5 + 1
        cands.setdefault(q, []).append((-((i * 7919) % 101) / 100.0, i))
    want = sorted((q, v) for q, c in cands.items() for _, v in sorted(c)[:RECALL_K])
    df = _topk_per_query(sims)
    assert sorted(tuple(r) for r in df.collect()) == want
    assert right_below_exchange(
        df,
        lambda nd: nd.getClass().getSimpleName() == "WindowGroupLimitExec"
        and nd.mode().toString() == "Partial",
    )


def test_power_iteration_matches_numpy(spark, sf_dir):
    """u = X^T (X v0) with v0 uniform must match numpy up to quantization;
    the loading vector is unit-norm."""
    got = CATALOG["embedding_power_iteration"].spark_fn(spark, sf_dir).toPandas()
    emb = table(spark, sf_dir, "embeddings").toPandas()
    mat = np.array(emb.embedding.tolist(), dtype=np.float64)
    d = mat.shape[1]
    v0 = np.full(d, 1 / np.sqrt(d))
    u = mat.T @ (mat @ v0)
    want = u / np.linalg.norm(u)
    assert len(got) == d
    assert np.allclose(got.loading, want, atol=1e-4)
    assert np.linalg.norm(got.loading) == pytest.approx(1.0, abs=1e-4)
