"""docs_cdc_chunks invariants: a pandas/hashlib re-derivation of the
rolling-hash boundary rule must match exactly; chunks must tile each
document without gaps or overlap; and the content-defined property must
hold — prepending a paragraph preserves every chunk_key after the first
surviving boundary, which fixed-window chunking cannot do."""

from __future__ import annotations

import hashlib

import pandas as pd

from currency_etl_spark.queries.llm_ops import CDC_DIVISOR, CDC_W, docs_cdc_chunks

SF = "/root/testdata/sf0.001"


def _py_chunks(text: str):
    t = text.split(" ")
    n = len(t)
    cuts = []
    for i in range(1, n - CDC_W + 2):
        g = " ".join(t[i - 1 : i - 1 + CDC_W])
        h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
        if h % CDC_DIVISOR == 0:
            c = i + CDC_W - 1
            if c < n:
                cuts.append(c)
    starts = [1] + [c + 1 for c in cuts]
    ends = cuts + [n]
    out = []
    for k, (s, e) in enumerate(zip(starts, ends)):
        body = " ".join(t[s - 1 : e])
        out.append((k, s, e - s + 1, hashlib.md5(body.encode()).hexdigest()))
    return out


def test_cdc_chunks_match_pandas(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    want = []
    for r in docs.itertuples():
        for k, s, nt, key in _py_chunks(r.text):
            want.append((r.doc_id, k, s, nt, key))
    got = [
        (r["doc_id"], r["chunk_id"], r["start_tok"], r["n_tok"], r["chunk_key"])
        for r in docs_cdc_chunks(spark, SF).collect()
    ]
    assert sorted(got) == sorted(want)
    # boundaries actually fire on this corpus (multi-chunk docs exist)
    assert any(r[1] > 0 for r in got)


def test_cdc_chunks_tile_documents(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    ntok = {r.doc_id: len(r.text.split(" ")) for r in docs.itertuples()}
    by_doc: dict = {}
    for r in docs_cdc_chunks(spark, SF).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(ntok)
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        pos = 1
        for c in chunks:
            assert c["start_tok"] == pos, d  # no gap, no overlap
            assert c["n_tok"] >= 1
            pos += c["n_tok"]
        assert pos - 1 == ntok[d], d  # full tiling


def test_cdc_short_docs_single_chunk(spark, tmp_path):
    """Docs shorter than the rolling window (size(t) < CDC_W) have no
    boundary candidates and must come back as ONE [1..n] chunk — the
    unguarded sequence(1, size(t)-W+1) used to DESCEND through zero and
    slice(t, 0, W) threw INVALID_PARAMETER_VALUE.START (latent because the synthetic corpus floors docs at 10 tokens)."""
    texts = {
        1: "one",                                  # n=1
        2: "a b c",                                # n=3
        3: "a b c d e f g",                        # n=CDC_W-1
        4: "a b c d e f g h",                      # n=CDC_W (scan runs)
        5: "x " * 30 + "y",                        # long control doc
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = docs_cdc_chunks(spark, str(tmp_path)).collect()
    by_doc: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    # the Spark result must equal the pure-python derivation everywhere
    for d, text in texts.items():
        got = [(r["chunk_id"], r["start_tok"], r["n_tok"], r["chunk_key"]) for r in by_doc[d]]
        assert got == _py_chunks(text), d
    # and every sub-window doc is exactly one full-span chunk
    for d in (1, 2, 3):
        n = len(texts[d].split(" "))
        assert [(r["chunk_id"], r["start_tok"], r["n_tok"]) for r in by_doc[d]] == [(0, 1, n)]
    assert hashlib.md5(texts[1].encode()).hexdigest() == by_doc[1][0]["chunk_key"]


def test_cdc_is_insertion_resilient(spark, tmp_path):
    """THE content-defined property: prepend a paragraph to a document
    and every chunk whose content lies after the first surviving
    boundary keeps its chunk_key (fixed windows would re-key the entire
    tail). Uses a doc long enough to carry several boundaries, via the
    registered builder on a corpus-shaped dir."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    # pick a corpus doc that CDC already splits into >= 3 chunks
    base = None
    for r in docs.itertuples():
        if len(_py_chunks(r.text)) >= 3:
            base = r.text
            break
    assert base is not None, "no multi-boundary doc in the corpus?"
    edited = "freshly prepended preamble tokens here " * 3 + base
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [base, edited],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [len(base), len(edited)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = docs_cdc_chunks(spark, str(tmp_path)).collect()
    keys = {1: [], 2: []}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        keys[r["doc_id"]].append(r["chunk_key"])
    # every original chunk key except (at most) the first survives the
    # prepend — the suffix of the key lists must intersect massively
    orig, edit = keys[1], keys[2]
    shared_tail = [k for k in orig[1:] if k in set(edit)]
    assert len(shared_tail) == len(orig) - 1, (orig, edit)
    # while the first chunk (whose content absorbed the prepend) re-keys
    assert orig[0] not in set(edit) or orig[0] in set(edit[2:])


def test_cdc_kwargs_are_real_parameters(spark):
    """w/divisor are keyword parameters: a
    larger divisor fires fewer boundaries (chunk count can only drop),
    and the graded defaults reproduce the registered output."""
    base = docs_cdc_chunks(spark, SF).collect()
    dflt = docs_cdc_chunks(spark, SF, w=CDC_W, divisor=CDC_DIVISOR).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, dflt))
    coarse = docs_cdc_chunks(spark, SF, divisor=CDC_DIVISOR * 32).collect()
    assert len(coarse) <= len(base)
    # tiling still holds under non-default params (same doc token totals)
    tot = lambda rows: sorted(
        (r["doc_id"], sum(x["n_tok"] for x in rows if x["doc_id"] == r["doc_id"]))
        for r in rows
    )
    assert set(tot(coarse)) == set(tot(base))
