"""End-to-end training-corpus pipeline: funnel counts against a Python
model, dedup canonicality, lang partitioning on disk, sampling
determinism, rerun stability, and the job count of a warm build."""

from __future__ import annotations

import glob
import hashlib
import re

import pandas as pd
import pytest

from currency_etl_spark.corpus_pipeline import CorpusStats, build_training_corpus
from currency_etl_spark.queries.llm_ops import PII_EMAIL, PII_LONGNUM, dedup_clusters


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    stats = build_training_corpus(spark, sf_dir, out, langs=("en", "de", "fr"))
    # funnel is monotonically non-increasing
    assert (
        stats.n_input
        >= stats.n_after_quality
        >= stats.n_after_dedup
        >= stats.n_after_lang
        >= stats.n_final
        > 0
    )
    assert stats.total_tokens > 0
    # lang-partitioned layout on disk
    parts = sorted(p.split("lang=")[-1] for p in glob.glob(f"{out}/lang=*"))
    assert set(parts).issubset({"en", "de", "fr"}) and parts

    df = spark.read.parquet(out)
    assert df.count() == stats.n_final
    assert df.select("doc_id").distinct().count() == stats.n_final  # no dups survived


def test_corpus_pipeline_rerun_identical(spark, sf_dir, tmp_path):
    out1, out2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    s1 = build_training_corpus(spark, sf_dir, out1)
    s2 = build_training_corpus(spark, sf_dir, out2)
    assert s1 == s2
    a = sorted(r["doc_id"] for r in spark.read.parquet(out1).collect())
    b = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert a == b  # fully deterministic selection


def test_corpus_pipeline_sampling(spark, sf_dir, tmp_path):
    full = build_training_corpus(spark, sf_dir, str(tmp_path / "full"))
    sampled = build_training_corpus(
        spark, sf_dir, str(tmp_path / "samp"), sample_mod=3
    )
    assert 0 < sampled.n_final < full.n_final
    # sampled set is a subset of the full set (stable hash selection)
    f = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "full")).collect()}
    s = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "samp")).collect()}
    assert s <= f


def test_corpus_pipeline_quality_gates(spark, sf_dir, tmp_path):
    base = build_training_corpus(spark, sf_dir, str(tmp_path / "base"))
    gated = build_training_corpus(
        spark, sf_dir, str(tmp_path / "gated"), max_rep_ratio=0.5, scrub_pii=True
    )
    # the repetition gate can only shrink the funnel
    assert gated.n_after_quality <= base.n_after_quality
    assert gated.n_final <= base.n_final
    # scrubbed output contains no long digit runs or emails
    import re

    texts = [r["text"] for r in spark.read.parquet(str(tmp_path / "gated")).collect()]
    assert texts
    for tx in texts[:200]:
        assert not re.search(r"[0-9]{6,}", tx)
        assert not re.search(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", tx)


@pytest.fixture(scope="module")
def funnel_dir(tmp_path_factory, sf_dir):
    """The test corpus plus rows each gate must act on: short, over-long
    and repetitive docs, PII, and exact copies under higher doc_ids whose
    language differs from the original's, so the survivor pick decides
    which language the cluster keeps."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    nid = int(docs["doc_id"].max()) + 1
    extra = [
        (f"spark window join sort agg {i}", "en") for i in range(6)
    ] + [
        (" ".join(f"w{j % 50}" for j in range(2100)), "en"),
        ("batch merge key " * 6 + "end", "de"),
        ("scan join scan join scan join scan join scan join", "fr"),
    ] + [
        (f"mail ana{i}.lopez@example.org about invoice {1234567 + i} before the "
         f"window merge runs tonight please {i}", "en")
        for i in range(12)
    ]
    rows = [
        {"doc_id": nid + k, "text": tx, "lang": lang, "source": "extra", "n_chars": len(tx)}
        for k, (tx, lang) in enumerate(extra)
    ]
    nid += len(rows)
    for k, r in enumerate(docs.head(60).itertuples()):
        lang = "es" if r.lang in ("en", "de", "fr") else "en"
        rows.append({"doc_id": nid + k, "text": r.text, "lang": lang,
                     "source": r.source, "n_chars": r.n_chars})
    d = tmp_path_factory.mktemp("funnel_corpus")
    pd.concat([docs, pd.DataFrame(rows)], ignore_index=True).astype(
        docs.dtypes.to_dict()
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _model_stats(docs, clusters, langs=("en", "de", "fr"), min_tokens=10,
                 max_tokens=2000, sample_mod=1, max_rep_ratio=None, scrub_pii=False):
    """build_training_corpus in plain Python over the collected docs and
    cluster map."""
    quality = []
    for r in docs:
        t = r["text"].split(" ")
        if not min_tokens <= len(t) <= max_tokens:
            continue
        if max_rep_ratio is not None:
            sh = [" ".join(t[i:i + 3]) for i in range(len(t) - 2)]
            if sh and (len(sh) - len(set(sh))) / len(sh) > max_rep_ratio:
                continue
        text = r["text"]
        if scrub_pii:
            text = re.sub(PII_LONGNUM, "<NUM>", re.sub(PII_EMAIL, "<EMAIL>", text))
        quality.append({**r, "text": text, "n_tokens": len(t)})
    first: dict = {}
    for r in quality:
        c = clusters.get(r["doc_id"], r["doc_id"])
        first[c] = min(first.get(c, r["doc_id"]), r["doc_id"])
    dedup = [r for r in quality if first[clusters.get(r["doc_id"], r["doc_id"])] == r["doc_id"]]
    kept = [r for r in dedup if r["lang"] in langs]
    final = [
        r for r in kept
        if int(hashlib.md5(r["text"].encode()).hexdigest()[:4], 16) % sample_mod == 0
    ]
    return CorpusStats(
        n_input=len(docs),
        n_after_quality=len(quality),
        n_after_dedup=len(dedup),
        n_after_lang=len(kept),
        n_final=len(final),
        total_tokens=sum(r["n_tokens"] for r in final) if final else None,
    )


@pytest.mark.parametrize(
    "opts",
    [{}, {"max_rep_ratio": 0.5, "scrub_pii": True}, {"sample_mod": 3}],
    ids=["defaults", "rep_gate_pii", "sampled"],
)
def test_corpus_funnel_matches_python_model(spark, funnel_dir, tmp_path, opts):
    got = build_training_corpus(spark, funnel_dir, str(tmp_path / "c"), **opts)
    docs = pd.read_parquet(f"{funnel_dir}/documents.parquet").to_dict("records")
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, funnel_dir).collect()
    }
    want = _model_stats(docs, clusters, **opts)
    # every gate acts on this corpus, so a count taken at the wrong stage shows
    assert want.n_input > want.n_after_quality > want.n_after_dedup > want.n_after_lang
    assert got == want


def test_warm_corpus_build_is_one_written_plan(spark, funnel_dir, tmp_path):
    """With the cluster map memoized, the build is the write's jobs alone:
    no stage count(), no read-back."""
    build_training_corpus(spark, funnel_dir, str(tmp_path / "warm"))
    sc = spark.sparkContext
    group = "test-corpus-build-jobs"
    sc.setJobGroup(group, group)
    try:
        build_training_corpus(spark, funnel_dir, str(tmp_path / "c"))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 8, jobs


def test_repetition_gate_tokenizes_each_document_once(spark, funnel_dir, tmp_path):
    """The repetition gate's shingles index a token array bound once per
    document: the written plan never re-splits the text inside the
    shingle lambda (an element_at over split(text) per token read), the
    shape that made a gated build ~20x slower than an ungated one."""
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsCount()
    build_training_corpus(spark, funnel_dir, str(tmp_path / "c"), max_rep_ratio=0.5)
    execs = store.executionsList(int(n0), int(store.executionsCount() - n0))
    plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
    written = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(written) == 1, [p[:200] for p in plans]
    assert "element_at(split(" not in written[0]
    assert "transform(array(split(text" in written[0]
