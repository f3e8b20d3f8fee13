"""docs_bpe_staleness invariants.

The tokenizer drift monitor: the stored-slice-trained merge table (the
streaming twin's persisted artifact — same cache tag, same corpus key)
encodes both corpus sides, and the audit's merge-hit/OOV masses plus
the integer-exact retrain flag are pinned against a full pure-python
re-derivation, a drifted fixture that must trip the flag, and the
shared-artifact contract with streaming_bpe_encode."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from tests.test_batch2_invariants import _encode, _py_bpe_train

SF = "/root/testdata/sf0.001"

COLS = [
    "n_merges",
    "stored_tokens",
    "stored_merged",
    "stored_vocab",
    "batch_tokens",
    "batch_merged",
    "batch_vocab",
    "oov_types",
    "oov_tokens",
    "merged_share_stored",
    "merged_share_batch",
    "oov_share",
    "retrain",
]


def _py_staleness(sf_dir: str, k: int) -> dict:
    merges, encs = _py_bpe_train(sf_dir, k, stored_only=True)
    df = pd.read_parquet(f"{sf_dir}/documents.parquet")
    bw: Counter = Counter()
    for t in df[df.doc_id % 10 == 7].text:
        for w in t.lower().split(" "):
            if w:
                bw[w] += 1
    bencs = []
    for w, f in bw.items():
        e = _encode(w)
        for _s, tl, tr, _m, _c in merges:
            e = e.replace(f"|{tl}|{tr}", f"|{tl}{tr}")
        bencs.append((e, f))

    def census(pairs):
        c: Counter = Counter()
        for e, f in pairs:
            for t in e.split("|"):
                if t:
                    c[t] += f
        return c

    stc, btc = census(encs), census(bencs)
    s_tok, s_mrg = sum(stc.values()), sum(
        v for t, v in stc.items() if len(t) > 1
    )
    b_tok, b_mrg = sum(btc.values()), sum(
        v for t, v in btc.items() if len(t) > 1
    )
    oov_ty = sum(1 for t in btc if t not in stc)
    oov_tok = sum(v for t, v in btc.items() if t not in stc)
    return dict(
        n_merges=len(merges),
        stored_tokens=s_tok,
        stored_merged=s_mrg,
        stored_vocab=len(stc),
        batch_tokens=b_tok,
        batch_merged=b_mrg,
        batch_vocab=len(btc),
        oov_types=oov_ty,
        oov_tokens=oov_tok,
        merged_share_stored=round(s_mrg / s_tok, 6),
        merged_share_batch=round(b_mrg / b_tok, 6),
        oov_share=round(oov_tok / b_tok, 6),
        retrain=(b_mrg * s_tok * 2 < s_mrg * b_tok) or (oov_tok * 10 > b_tok),
    )


def test_bpe_staleness_matches_python(spark):
    from currency_etl_spark.queries.training import (
        BPE_MERGES,
        docs_bpe_staleness,
    )

    rows = docs_bpe_staleness(spark, SF).collect()
    assert len(rows) == 1
    got = rows[0].asDict()
    assert list(got) == COLS
    assert got == _py_staleness(SF, BPE_MERGES)


def test_bpe_staleness_shares_the_stream_twin_artifact(spark):
    """The monitor audits the PERSISTED tokenizer: its cached merge
    table under the stream tag must be exactly the stored-slice
    training's (the artifact streaming_bpe_encode encodes with), so
    monitor and server can never disagree about which tokenizer is
    deployed."""
    from currency_etl_spark.queries.training import (
        _BPE_CACHE,
        BPE_MERGES,
        docs_bpe_staleness,
    )

    docs_bpe_staleness(spark, SF).collect()
    key, merges, _enc = _BPE_CACHE["bpe_enc_stream"]
    assert key[:3] == (SF, BPE_MERGES, "stored_slice_mod10ne7")
    assert merges == _py_bpe_train(SF, BPE_MERGES, stored_only=True)[0]


def test_bpe_staleness_drifted_batch_trips_retrain(spark, tmp_path):
    """A batch written in an alphabet the stored corpus never saw:
    every post-encoding batch token is OOV and no learned merge fires —
    both arms of the retrain flag must trip, and every column must
    still match the python re-derivation on the synthetic corpus."""
    from currency_etl_spark.operators.ckpt import reset_memos
    from currency_etl_spark.queries.training import (
        BPE_MERGES,
        docs_bpe_staleness,
    )
    from tests.fixtures import write_documents

    rows = []
    for d in range(40):
        if d % 10 == 7:  # drifted arrivals: disjoint alphabet
            rows.append((d, "zq xv zq wj", "en", "web"))
        else:
            rows.append((d, "the cat sat on the mat " * 3, "en", "web"))
    dirp = str(tmp_path)
    write_documents(dirp, rows)
    reset_memos()
    try:
        got = docs_bpe_staleness(spark, dirp).collect()[0].asDict()
        assert got == _py_staleness(dirp, BPE_MERGES)
        assert got["retrain"] is True
        assert got["oov_share"] == 1.0  # every batch token unseen
        assert got["batch_merged"] == 0  # no learned merge fires
    finally:
        reset_memos()


def test_bpe_staleness_healthy_corpus_reads_healthy(spark):
    """On the graded corpus the arriving slice is drawn from the same
    distribution as the stored slice — the monitor must NOT cry wolf
    (the drift-family contract: the flag separates drift from noise)."""
    from currency_etl_spark.queries.training import docs_bpe_staleness

    got = docs_bpe_staleness(spark, SF).collect()[0]
    assert got["retrain"] is False
    assert 0.0 <= got["oov_share"] < 0.1
