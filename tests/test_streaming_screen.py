"""streaming_dedup_screen invariants.

The load-bearing claim is that the stream side's PER-ROW MinHash
(array_min over transformed distinct-shingle hashes — no aggregation, so
it can run stateless on a stream) is bit-identical to the batch
explode + groupBy-min signatures the stored index was built from: min is
duplicate-insensitive and both sides hash the same distinct shingle set.
Pin that equivalence on a batch frame, plus a pandas re-derivation of the
exact layer and screen/batch-twin consistency."""

from __future__ import annotations

import hashlib

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_per_row_minhash_matches_aggregated_signatures(spark):
    """Evaluate the stream builder's per-row h0..h15 expressions in BATCH
    mode over the whole corpus and compare against _signatures(_sh_base)
    — every (doc_id, h0..h15) must agree exactly; docs the aggregated
    form omits (zero shingles) must be exactly the NULL-signature rows of
    the per-row form."""
    from currency_etl_spark.queries.llm_ops import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        _sh_base,
        _shingles,
        _signatures,
        _with_tokens,
    )
    from currency_etl_spark.sources import table

    docs = table(spark, SF, "documents")
    xs = F.transform(
        F.array_distinct(_shingles(F.col("t"))),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )
    hs = [
        F.array_min(
            F.transform(F.col("xs"), lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P)
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    per_row = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(16))
        for r in _with_tokens(docs).select("doc_id", xs.alias("xs")).select("doc_id", *hs).collect()
    }
    agg = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(16))
        for r in _signatures(_sh_base(spark, SF)).collect()
    }
    assert agg, "empty corpus?"
    for doc_id, sig in agg.items():
        assert per_row[doc_id] == sig, doc_id
    for doc_id in set(per_row) - set(agg):
        assert per_row[doc_id] == (None,) * 16, doc_id


def test_screen_exact_layer_matches_pandas(spark):
    """Exact layer re-derived in pandas: a new-slice doc is exact_dup iff
    its md5(text) appears in the old slice; the verdict triage follows."""
    from currency_etl_spark.streaming.jobs import streaming_dedup_screen

    got = {r["doc_id"]: r for r in streaming_dedup_screen(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    docs["dig"] = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    new = docs[docs.doc_id % 10 == 7]
    old_digs = set(docs[docs.doc_id % 10 != 7]["dig"])
    assert set(got) == set(new.doc_id), "screen must cover exactly the new slice"
    for _, row in new.iterrows():
        r = got[row.doc_id]
        assert r["exact_dup"] == (row.dig in old_digs), row.doc_id
        if r["exact_dup"]:
            assert r["verdict"] == "exact"
        elif r["n_candidates"] > 0:
            assert r["verdict"] == "near_candidate"
        else:
            assert r["verdict"] == "unique"
        assert r["n_candidates"] >= 0


def test_screen_candidates_subset_of_batch_incremental(spark):
    """The stored index the screen joins is capped on the OLD side only,
    while dedup_incremental caps over the combined corpus — so every
    group the combined cap keeps, the old-only cap also keeps (old count
    ≤ combined count), and the screen's candidate set must be a SUPERSET
    of the batch twin's per-doc counts... but never miss a doc: both
    cover exactly the new slice, and verdict escalation is monotone."""
    from currency_etl_spark.queries.llm_ops import dedup_incremental
    from currency_etl_spark.streaming.jobs import streaming_dedup_screen

    screen = {r["doc_id"]: r for r in streaming_dedup_screen(spark, SF).collect()}
    batch = {r["doc_id"]: r for r in dedup_incremental(spark, SF).collect()}
    assert set(screen) == set(batch)
    for d, b in batch.items():
        s = screen[d]
        assert s["exact_dup"] == b["exact_dup"], d
        assert s["n_candidates"] >= b["n_candidates"], d


def test_documents_stream_landing_dirs_are_collision_free(spark, tmp_path):
    """The landing dir is keyed by basename PLUS a hash
    of the absolute sf_dir, so two same-basename corpus dirs get
    DISTINCT landing dirs — the second run can no longer swap the
    landing file under the first run's live readStream (the old
    basename-only key retargeted a shared symlink). Each link must
    point at its own corpus; the first link must survive the second
    call untouched. The retarget armor stays for a regenerated corpus
    at the SAME path (pin that too)."""
    import os

    import pandas as pd

    from currency_etl_spark.streaming.jobs import _documents_stream, _landing_key

    def mk(root):
        d = root / "sfX"
        d.mkdir(parents=True)
        pd.DataFrame(
            {"doc_id": [1], "text": ["a b c"], "lang": ["en"], "source": ["s"], "n_chars": [5]}
        ).to_parquet(d / "documents.parquet")
        return str(d)

    a = mk(tmp_path / "runA")
    b = mk(tmp_path / "runB")
    assert _landing_key(a) != _landing_key(b)  # same basename, distinct keys
    assert _landing_key(a).startswith("sfX-")
    _documents_stream(spark, a)
    link_a = os.path.join("/tmp", "ces_stream", _landing_key(a), "documents", "documents.parquet")
    assert os.path.islink(link_a)
    assert os.readlink(link_a) == os.path.join(a, "documents.parquet")
    _documents_stream(spark, b)  # same basename, different absolute path
    link_b = os.path.join("/tmp", "ces_stream", _landing_key(b), "documents", "documents.parquet")
    assert os.readlink(link_b) == os.path.join(b, "documents.parquet")
    # the first run's landing file is untouched by the second run
    assert os.readlink(link_a) == os.path.join(a, "documents.parquet")
    # retarget armor: a dangling link at the SAME landing key (corpus dir
    # deleted and re-created elsewhere is impossible under the hash key,
    # but a swapped symlink target at the same path isn't) is re-pointed
    os.unlink(link_a)
    os.symlink("/nonexistent/documents.parquet", link_a)
    _documents_stream(spark, a)
    assert os.readlink(link_a) == os.path.join(a, "documents.parquet")


def test_streaming_knn_screen_matches_batch_twin(spark):
    """The streaming ANN screen must be BIT-identical to knn_incremental
    (they share one DuckDB oracle): same stored index, same lattice
    arithmetic, same top-1 election — the stream only changes WHEN the
    probe work happens, never its result."""
    from currency_etl_spark.queries.vectors import knn_incremental
    from currency_etl_spark.streaming.jobs import streaming_knn_screen

    cols = [
        "vec_id", "label", "n_candidates",
        "nn_vec_id", "nn_label", "nn_cell", "nn_dist",
    ]
    batch = [tuple(r[c] for c in cols) for r in knn_incremental(spark, SF).collect()]
    stream = [
        tuple(r[c] for c in cols) for r in streaming_knn_screen(spark, SF).collect()
    ]
    assert stream == batch
    assert len(stream) > 0


def test_streaming_knn_screen_is_stateless(spark):
    """The screen's stream job must need no state store: no watermark,
    no streaming aggregation — the only 'state' is the static stored
    index. Pin by building the stream DataFrame and checking it plans a
    stream-static join with no stateful operator."""
    from currency_etl_spark.streaming.jobs import STREAM_JOBS

    sdf = STREAM_JOBS["streaming_knn_screen"].builder(spark, SF)
    assert sdf.isStreaming
    logical = sdf._jdf.queryExecution().logical().toString()
    assert "EventTimeWatermark" not in logical
    assert "Aggregate" not in logical  # per-row screen: no streaming agg


def test_knn_screen_twins_agree_at_non_default_nprobe(spark):
    """The recall knob must not be a point where the twins can drift:
    knn_incremental takes nprobe= and the stream builder threads the
    same kwarg. Run the stream job at a
    NON-default nprobe through its own memory sink, elect with the
    shared screen_top1, and require bit-identity with the batch entry
    at the same nprobe."""
    from currency_etl_spark.queries.vectors import (
        IVF_NPROBE,
        N_CENTROIDS,
        knn_incremental,
        screen_top1,
    )
    from currency_etl_spark.streaming.jobs import STREAM_JOBS

    nprobe = IVF_NPROBE + 2
    assert IVF_NPROBE < nprobe <= N_CENTROIDS  # genuinely non-default, valid
    sdf = STREAM_JOBS["streaming_knn_screen"].builder(spark, SF, nprobe=nprobe)
    name = "knn_screen_nprobe_pin"
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        cols = [
            "vec_id", "label", "n_candidates",
            "nn_vec_id", "nn_label", "nn_cell", "nn_dist",
        ]
        stream = [
            tuple(r[c] for c in cols)
            for r in screen_top1(spark.table(name)).collect()
        ]
    finally:
        q.stop()
    batch = [
        tuple(r[c] for c in cols)
        for r in knn_incremental(spark, SF, nprobe=nprobe).collect()
    ]
    assert stream == batch
    assert len(stream) > 0
    # and the knob matters: a wider probe must change at least one
    # verdict vs the graded default (otherwise this pin is vacuous)
    default = [
        tuple(r[c] for c in cols) for r in knn_incremental(spark, SF).collect()
    ]
    assert default != batch
