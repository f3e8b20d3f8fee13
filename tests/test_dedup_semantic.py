"""dedup_semantic (SemDeDup-style) invariants: an independent
numpy re-derivation of the whole pipeline — quantized-int assignment,
closest-to-centroid cap, exact-integer Gram cosine, keep-the-least-
typical pruning — must reproduce the Spark result exactly. Complements
the DuckDB oracle (tests/test_oracle.py) with a third engine."""

from __future__ import annotations

import numpy as np
import pandas as pd

from currency_etl_spark.queries.llm_ops import SEM_CAP, SEM_TAU, dedup_semantic
from currency_etl_spark.queries.training import KMEANS_K, Q_SCALE

SF = "/root/testdata/sf0.001"


def _round6(x: float) -> float:
    # half-up decimal rounding, mirroring Spark's BigDecimal HALF_UP for
    # the positive cosines the threshold admits
    import decimal

    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


def _numpy_semdedup():
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    vids = emb["vec_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    qv = np.round(vecs * Q_SCALE).astype(np.int64)
    cents = qv[vids < KMEANS_K]
    cent_ids = vids[vids < KMEANS_K]
    # exact integer squared-L2; argmin ties to the lowest centroid id
    d = ((qv[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    order = np.argsort(cent_ids)
    d = d[:, order]
    cent_ids = cent_ids[order]
    best = d.argmin(axis=1)  # first occurrence = lowest cid on ties
    cid = cent_ids[best]
    dist = d[np.arange(len(vids)), best]
    self_dot = (qv * qv).sum(axis=1)
    pruned: dict = {}
    for c in np.unique(cid):
        sel = np.where(cid == c)[0]
        # cap: the SEM_CAP members closest to the centroid (ties by vec_id;
        # sel is already vec_id-ordered, so a stable sort on dist suffices)
        sel = sel[np.argsort(dist[sel], kind="stable")][:SEM_CAP]
        sel = sel[np.argsort(vids[sel])]  # pair enumeration order
        for i in range(len(sel)):
            for j in range(i + 1, len(sel)):
                a, b = sel[i], sel[j]
                dot = int((qv[a] * qv[b]).sum())  # exact int64
                cos = _round6(dot / (np.sqrt(float(self_dot[a])) * np.sqrt(float(self_dot[b]))))
                if cos < SEM_TAU:
                    continue
                if dist[a] < dist[b]:
                    loser = a
                elif dist[b] < dist[a]:
                    loser = b
                else:
                    loser = max(a, b, key=lambda k: vids[k])
                key = (int(c), int(vids[loser]))
                n, mx = pruned.get(key, (0, -2.0))
                pruned[key] = (n + 1, max(mx, cos))
    return pruned


def test_dedup_semantic_matches_numpy(spark):
    got = {
        (r["centroid_id"], r["vec_id"]): (r["n_dups"], r["max_cos"])
        for r in dedup_semantic(spark, SF).collect()
    }
    want = _numpy_semdedup()
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])
    # the threshold actually bites: some vectors pruned, most kept
    n_total = pd.read_parquet(f"{SF}/embeddings.parquet").shape[0]
    assert 0 < len(got) < n_total


def test_dedup_semantic_parameters_act(spark):
    """cap/tau are real keyword parameters, not
    dead defaults: an impossible threshold empties the result, a tighter
    threshold can only shrink it, and a smaller membership cap bounds the
    candidate surface (never grows it)."""
    from currency_etl_spark.queries.llm_ops import SEM_TAU, dedup_semantic

    base = dedup_semantic(spark, SF).collect()
    assert dedup_semantic(spark, SF, tau=1.01).count() == 0
    tighter = dedup_semantic(spark, SF, tau=min(SEM_TAU + 0.05, 1.0)).collect()
    assert len(tighter) <= len(base)
    base_keys = {(r["centroid_id"], r["vec_id"]) for r in base}
    assert {(r["centroid_id"], r["vec_id"]) for r in tighter} <= base_keys
    smaller_cap = dedup_semantic(spark, SF, cap=16).collect()
    assert len(smaller_cap) <= len(base)
