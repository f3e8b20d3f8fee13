"""text_index_staleness invariants: a pure-pandas re-derivation of every
column must match bit-for-bit on the corpus; a drifted fixture (OOV
terms + shrunken docs) must trip the rebuild flag through the exact
integer comparisons; and the plan must read the stored tf checkpoint —
the only documents scan is the batch's own tokenization."""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd

from currency_etl_spark.queries.llm_ops import TEXT_STALE_TOP, text_index_staleness

SF = "/root/testdata/sf0.001"


def _py_staleness(sf: str, top_n: int = TEXT_STALE_TOP) -> dict:
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    stored = docs[docs.doc_id % 10 != 7]
    batch = docs[docs.doc_id % 10 == 7]

    def stats(part):
        df, toks, dls = Counter(), Counter(), {}
        for r in part.itertuples():
            t = r.text.split(" ")
            dls[r.doc_id] = len(t)
            c = Counter(t)
            for term, n in c.items():
                df[term] += 1
                toks[term] += n
        return df, toks, dls

    sdf, _, sdl = stats(stored)
    bdf, btok, bdl = stats(batch)
    s_nd, s_tok = len(sdl), sum(sdl.values())
    b_nd, b_tok = len(bdl), sum(bdl.values())
    oov_terms = [t for t in bdf if t not in sdf]
    oov_tok = sum(btok[t] for t in oov_terms)
    top_s = {t for t, _ in sorted(sdf.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]}
    top_b = {t for t, _ in sorted(bdf.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]}
    ovl, tn = len(top_s & top_b), min(len(top_s), len(top_b))
    rebuild = (
        oov_tok * 5 > b_tok
        or ovl * 2 < tn
        or 2 * b_tok * s_nd < s_tok * b_nd
        or b_tok * s_nd > 2 * s_tok * b_nd
    )
    return {
        "n_index_docs": s_nd,
        "n_batch_docs": b_nd,
        "index_vocab": len(sdf),
        "batch_vocab": len(bdf),
        "oov_terms": len(oov_terms),
        "oov_token_share": round(oov_tok / b_tok, 6),
        "avg_dl_index": round(s_tok / s_nd, 6),
        "avg_dl_batch": round(b_tok / b_nd, 6),
        "top_overlap": ovl,
        "rebuild": rebuild,
    }


def test_staleness_matches_pandas(spark):
    rows = text_index_staleness(spark, SF).collect()
    assert len(rows) == 1
    assert rows[0].asDict() == _py_staleness(SF)


def test_staleness_healthy_corpus_reads_healthy(spark):
    """The graded corpus's batch slice comes from the same generator as
    the stored side — the audit must say so: zero OOV mass, full head
    overlap, no rebuild."""
    r = text_index_staleness(spark, SF).collect()[0]
    assert r["oov_terms"] == 0 and r["oov_token_share"] == 0.0
    assert r["top_overlap"] == min(r["index_vocab"], r["batch_vocab"], TEXT_STALE_TOP)
    assert r["rebuild"] is False


def test_staleness_drifted_batch_trips_rebuild(spark, tmp_path):
    """A batch whose vocabulary drifted (unseen terms dominate) and
    whose docs shrank below half the stored average must trip the
    rebuild flag — and every column must still match the pandas
    re-derivation on the synthetic corpus."""
    from currency_etl_spark.operators.ckpt import reset_memos
    from tests.fixtures import write_documents

    rows = []
    for d in range(40):
        if d % 10 == 7:  # drifted arrivals: new vocab, much shorter
            rows.append((d, "zork blip zork", "en", "web"))
        else:
            rows.append((d, "alpha beta gamma delta " * 5, "en", "web"))
    d = str(tmp_path)
    write_documents(d, rows)
    reset_memos()
    try:
        got = text_index_staleness(spark, d).collect()[0].asDict()
        assert got == _py_staleness(d)
        assert got["rebuild"] is True
        assert got["oov_token_share"] == 1.0  # every batch token is OOV
        assert got["oov_terms"] == 2 and got["top_overlap"] == 0
    finally:
        reset_memos()


def test_staleness_dl_drift_alone_trips_rebuild(spark, tmp_path):
    """Same vocabulary, but batch docs more than 2x the stored length:
    only the dl band-check fires (OOV and overlap stay healthy)."""
    from currency_etl_spark.operators.ckpt import reset_memos
    from tests.fixtures import write_documents

    rows = []
    for d in range(40):
        n = 12 if d % 10 == 7 else 4
        rows.append((d, " ".join(["alpha", "beta"] * n), "en", "web"))
    d = str(tmp_path)
    write_documents(d, rows)
    reset_memos()
    try:
        got = text_index_staleness(spark, d).collect()[0].asDict()
        assert got == _py_staleness(d)
        assert got["rebuild"] is True
        assert got["oov_terms"] == 0
        assert got["top_overlap"] == got["index_vocab"] == got["batch_vocab"]
    finally:
        reset_memos()


def test_staleness_reads_stored_index(spark):
    """Plan pin (zero extra documents scans beyond the batch): the
    stored side reads the memoized tf
    checkpoint, and the batch slice is tokenized exactly once — inside
    its own checkpoint build (the knn_index_staleness pattern) — so the
    FINAL plan holds zero parquet scans and fans the audit's five
    branches out over Scan ExistingRDD only."""
    text_index_staleness(spark, SF).collect()  # memo live; re-plan
    df = text_index_staleness(spark, SF)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
