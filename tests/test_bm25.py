"""docs_bm25_search invariants: an independent pandas/math re-derivation
of the full BM25 pipeline — content-term query selection, idf, length-
normalized tf saturation, 1e-6 quantization — must reproduce the Spark
top-N exactly (third engine beside the DuckDB oracle), and the ranking
must behave like BM25 (rarer query terms out-score commoner ones at
equal tf; longer docs score below shorter ones at equal tf).
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from currency_etl_spark.queries.llm_ops import (
    BM25_QUERY_K,
    BM25_TOP_N,
    docs_bm25_search,
)

SF = "/root/testdata/sf0.001"

K1, B = 1.2, 0.75


def _idf(nd: int, df: int) -> float:
    return math.log(1.0 + (float(nd) - df + 0.5) / (df + 0.5))


def _sat(cnt: int, dl: int, nd: int, s_tokens: int) -> float:
    return cnt * 2.2 / (cnt + 1.2 * (0.25 + 0.75 * float(dl * nd) / s_tokens))


def _pandas_bm25():
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    toks = {r.doc_id: r.text.split(" ") for r in docs.itertuples()}
    dl = {d: len(t) for d, t in toks.items()}
    nd, s_tokens = len(dl), sum(dl.values())
    tf = {d: Counter(t) for d, t in toks.items()}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    qterms = sorted(
        (t for t, f in df.items() if f * 2 <= nd),
        key=lambda t: (-df[t], t),
    )[:BM25_QUERY_K]
    scores = {}
    for d, c in tf.items():
        sq, hits = 0, 0
        for t in qterms:
            if c[t]:
                hits += 1
                x = _idf(nd, df[t]) * _sat(c[t], dl[d], nd, s_tokens) * 1000000
                sq += math.floor(x + 0.5)  # HALF_UP, matching both engines
        if hits:
            scores[d] = (dl[d], hits, sq)
    top = sorted(scores.items(), key=lambda kv: (-kv[1][2], kv[0]))[:BM25_TOP_N]
    return [(d, v[0], v[1], v[2] / 1000000) for d, v in top]


def test_bm25_matches_pandas(spark):
    got = [
        (r["doc_id"], r["dl"], r["n_hit_terms"], r["bm25"])
        for r in docs_bm25_search(spark, SF).collect()
    ]
    want = _pandas_bm25()
    assert len(got) == len(want) == BM25_TOP_N
    assert [g[0] for g in got] == [w[0] for w in want], (got[:5], want[:5])
    for g, w in zip(got, want):
        assert g[1] == w[1] and g[2] == w[2], (g, w)
        # quantized per-term scores: any libm ln() ulp gap is ±1e-6/term
        assert abs(g[3] - w[3]) <= BM25_QUERY_K * 1e-6 + 1e-12, (g, w)


def test_bm25_ranking_behavior(spark):
    """Monotonicity spot-checks of the scoring surface itself (pure math,
    no Spark): idf decreases with df, saturation decreases with dl and
    increases (sublinearly, bounded by k1+1) with tf."""
    assert _idf(1000, 10) > _idf(1000, 100) > _idf(1000, 500) > 0
    assert _sat(3, 40, 1000, 56000) > _sat(3, 80, 1000, 56000)
    s1, s2, s3 = (_sat(c, 56, 1000, 56000) for c in (1, 2, 3))
    assert s1 < s2 < s3 < K1 + 1
    assert s2 - s1 > s3 - s2  # concave per-step gains: saturating, not linear


def test_bm25_result_shape(spark):
    rows = docs_bm25_search(spark, SF).collect()
    assert len(rows) == BM25_TOP_N
    assert all(1 <= r["n_hit_terms"] <= BM25_QUERY_K for r in rows)
    assert all(r["bm25"] > 0 for r in rows)
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bm25_kwargs_are_real_parameters(spark):
    """query_k/top_n are keyword parameters, not
    baked-in constants: a wider query can only add hit terms, and top_n
    bounds the result; graded defaults stay the module constants."""
    base = docs_bm25_search(spark, SF).collect()
    few = docs_bm25_search(spark, SF, top_n=5).collect()
    assert len(few) == 5
    assert [r["doc_id"] for r in few] == [r["doc_id"] for r in base[:5]]
    wide = docs_bm25_search(spark, SF, query_k=BM25_QUERY_K + 2).collect()
    assert all(r["n_hit_terms"] <= BM25_QUERY_K + 2 for r in wide)
    assert max(r["n_hit_terms"] for r in wide) >= max(r["n_hit_terms"] for r in base)


# ---------------------------------------------------------------------------
# docs_hybrid_search_rrf: two-arm retrieval fused by reciprocal rank
# ---------------------------------------------------------------------------


def test_hybrid_rrf_fusion_arithmetic(spark):
    """The fused score must be exactly recomputable from the carried
    ranks: per row rrf == (q(lex) + q(sem)) / 1e9 with q(r) =
    round(1e9 / (60 + r)) and an absent arm contributing 0 — so the
    fusion layer can never drift from its published formula."""
    from currency_etl_spark.queries.llm_ops import RRF_K, docs_hybrid_search_rrf

    rows = docs_hybrid_search_rrf(spark, SF).collect()
    assert rows

    def q(r):
        return 0 if r is None else round(1e9 / (RRF_K + r))

    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        assert r["rrf"] == (q(r["lex_rank"]) + q(r["sem_rank"])) / 1e9
        assert r["doc_id"] != 0  # the query doc never retrieves itself


def test_hybrid_rrf_arm_structure(spark):
    """Each arm contributes a full dense top-arm_n ranking (this corpus
    has ample candidates for both arms); the fused pool is bounded by
    2 x arm_n; descending rrf with doc_id tiebreak is total."""
    from currency_etl_spark.queries.llm_ops import (
        HYBRID_ARM_N,
        docs_hybrid_search_rrf,
    )

    rows = docs_hybrid_search_rrf(spark, SF).collect()
    lex = sorted(r["lex_rank"] for r in rows if r["lex_rank"] is not None)
    sem = sorted(r["sem_rank"] for r in rows if r["sem_rank"] is not None)
    assert lex == list(range(1, HYBRID_ARM_N + 1))
    assert sem == list(range(1, HYBRID_ARM_N + 1))
    assert len(rows) <= 2 * HYBRID_ARM_N
    key = [(-r["rrf"], r["doc_id"]) for r in rows]
    assert key == sorted(key)


def test_hybrid_rrf_arm_n_is_a_real_parameter(spark):
    """arm_n truncates both arms; a doc ranked high by both arms at
    arm_n=3 must keep identical ranks at the default depth (rank
    prefixes agree — deeper arms only append)."""
    from currency_etl_spark.queries.llm_ops import docs_hybrid_search_rrf

    small = {r["doc_id"]: r for r in docs_hybrid_search_rrf(spark, SF, arm_n=3).collect()}
    full = {r["doc_id"]: r for r in docs_hybrid_search_rrf(spark, SF).collect()}
    assert 0 < len(small) <= 6
    for doc_id, r in small.items():
        f = full[doc_id]
        for c in ("lex_rank", "sem_rank"):
            if r[c] is not None:
                assert f[c] == r[c]


# ---------------------------------------------------------------------------
# docs_hybrid_eval: semantic health of the hybrid retrieval
# ---------------------------------------------------------------------------


def _py_eval(rows, k):
    """Recompute every eval column from the hybrid entry's own fused
    output (doc_id, lex_rank, sem_rank, rrf)."""
    lex = {r["doc_id"] for r in rows if r["lex_rank"] is not None}
    sem = {r["doc_id"] for r in rows if r["sem_rank"] is not None}
    head = {
        r["doc_id"]
        for r in sorted(rows, key=lambda r: (-r["rrf"], r["doc_id"]))[:k]
    }
    return {
        "k": k,
        "n_lex": len(lex),
        "n_sem": len(sem),
        "n_fused": len(rows),
        "lex_overlap": len(head & lex),
        "sem_overlap": len(head & sem),
        "both_arms": len(lex & sem),
        "lex_overlap_at_k": round(len(head & lex) / k, 6),
        "sem_overlap_at_k": round(len(head & sem) / k, 6),
    }


def test_hybrid_eval_recomputable_from_fused_output(spark):
    """Every eval column must equal the pure-python recomputation over
    docs_hybrid_search_rrf's own rows — the eval grades exactly the
    relation it claims to grade (shared arm/fusion definitions)."""
    from currency_etl_spark.queries.llm_ops import (
        HYBRID_ARM_N,
        docs_hybrid_eval,
        docs_hybrid_search_rrf,
    )

    fused = docs_hybrid_search_rrf(spark, SF).collect()
    got = docs_hybrid_eval(spark, SF).collect()
    assert len(got) == 1
    assert got[0].asDict() == _py_eval(fused, HYBRID_ARM_N)


def test_hybrid_eval_would_catch_the_stopword_incident(spark):
    """The columns that make oracle agreement insufficient: on a healthy
    corpus both arms are FULL (n_lex == n_sem == k — during the r13
    stopword incident n_lex read 0 while both engines matched), every
    fused-head doc comes from at least one arm (overlaps sum to at
    least k), and RRF keeps both modalities represented in the head."""
    from currency_etl_spark.queries.llm_ops import (
        HYBRID_ARM_N,
        docs_hybrid_eval,
    )

    r = docs_hybrid_eval(spark, SF).collect()[0]
    assert r["n_lex"] == HYBRID_ARM_N and r["n_sem"] == HYBRID_ARM_N
    assert r["n_fused"] >= HYBRID_ARM_N
    # head docs each belong to >= 1 arm; docs in both arms count twice
    assert r["lex_overlap"] + r["sem_overlap"] >= HYBRID_ARM_N
    assert r["lex_overlap"] > 0 and r["sem_overlap"] > 0
    assert r["lex_overlap_at_k"] == round(r["lex_overlap"] / r["k"], 6)
    assert r["sem_overlap_at_k"] == round(r["sem_overlap"] / r["k"], 6)


def test_hybrid_eval_k_is_a_real_parameter(spark):
    """k drives both the arm depth and the head depth: at k=3 the eval
    must agree with the python recomputation over the arm_n=3 fused
    list."""
    from currency_etl_spark.queries.llm_ops import (
        docs_hybrid_eval,
        docs_hybrid_search_rrf,
    )

    fused3 = docs_hybrid_search_rrf(spark, SF, arm_n=3).collect()
    got = docs_hybrid_eval(spark, SF, k=3).collect()[0].asDict()
    assert got == _py_eval(fused3, 3)
    assert got["n_lex"] == 3 and got["n_sem"] == 3
