"""knn_incremental invariants: a pure-numpy re-derivation of the whole
screen (quantize -> stored codebook -> stored assignments -> probe ->
exact rank) must match exactly; the batch must never pair with itself;
cell pruning must actually prune; nprobe is a real recall knob whose
maximum setting degrades to the exact batch-vs-corpus nearest neighbor;
and the plan must READ the stored index (memo checkpoints), scanning the
embeddings parquet exactly once — for the batch side."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from currency_etl_spark.queries.vectors import (
    IVF_NPROBE,
    KNN_BATCH_MOD,
    KNN_BATCH_REM,
    N_CENTROIDS,
    knn_incremental,
)

SF = "/root/testdata/sf0.001"


def _np_screen(sf: str, nprobe: int):
    emb = pd.read_parquet(f"{sf}/embeddings.parquet").sort_values("vec_id")
    qv = {
        r.vec_id: np.round(np.asarray(r.embedding, dtype=np.float64) * 1e6).astype(
            np.int64
        )
        for r in emb.itertuples()
    }
    label = dict(zip(emb.vec_id, emb.label))
    is_batch = lambda v: v % KNN_BATCH_MOD == KNN_BATCH_REM
    corpus = sorted(v for v in qv if not is_batch(v))
    batch = sorted(v for v in qv if is_batch(v))
    cents = corpus[:N_CENTROIDS]

    def d2(a, b):
        d = qv[a] - qv[b]
        return int((d * d).sum())

    # stored assignments: argmin over the codebook, ties to the lower cid
    cell = {v: min(cents, key=lambda c: (d2(v, c), c)) for v in corpus}
    members: dict = {}
    for v in corpus:
        members.setdefault(cell[v], []).append(v)
    out = []
    for b in batch:
        probe = sorted(cents, key=lambda c: (d2(b, c), c))[:nprobe]
        cand = [v for c in probe for v in members.get(c, [])]
        nn = min(cand, key=lambda v: (d2(b, v), v))
        out.append(
            (
                b,
                label[b],
                len(cand),
                nn,
                label[nn],
                cell[nn],
                round(d2(b, nn) / 1e12, 6),
            )
        )
    return out, len(corpus)


def _rows(df):
    return [
        (
            r["vec_id"],
            r["label"],
            r["n_candidates"],
            r["nn_vec_id"],
            r["nn_label"],
            r["nn_cell"],
            r["nn_dist"],
        )
        for r in df.collect()
    ]


def test_knn_incremental_matches_numpy(spark):
    want, _ = _np_screen(SF, IVF_NPROBE)
    got = _rows(knn_incremental(spark, SF))
    assert got == want


def test_knn_incremental_screens_batch_only(spark):
    """Every result row is a batch vector; every neighbor is a corpus
    vector (the screen never pairs the batch with itself — that is next
    ingest's problem); and the probe genuinely pruned: no batch vector
    ranked the whole corpus."""
    rows = _rows(knn_incremental(spark, SF))
    _, n_corpus = _np_screen(SF, IVF_NPROBE)
    n_batch = len(
        pd.read_parquet(f"{SF}/embeddings.parquet").query(
            f"vec_id % {KNN_BATCH_MOD} == {KNN_BATCH_REM}"
        )
    )
    assert len(rows) == n_batch
    for r in rows:
        assert r[0] % KNN_BATCH_MOD == KNN_BATCH_REM
        assert r[3] % KNN_BATCH_MOD != KNN_BATCH_REM
        assert 1 <= r[2] < n_corpus
    assert max(r[2] for r in rows) < n_corpus


def test_knn_incremental_nprobe_is_the_recall_knob(spark):
    """nprobe is a real keyword parameter: probing every cell degrades to
    the exact batch-vs-corpus NN (distances can only improve toward it as
    nprobe grows), matching the numpy exact answer."""
    want_exact, _ = _np_screen(SF, N_CENTROIDS)
    got_exact = _rows(knn_incremental(spark, SF, nprobe=N_CENTROIDS))
    assert got_exact == want_exact
    d_default = {r[0]: r[6] for r in _rows(knn_incremental(spark, SF))}
    d_exact = {r[0]: r[6] for r in got_exact}
    assert set(d_default) == set(d_exact)
    for v, d in d_exact.items():
        assert d_default[v] >= d  # more cells can only tighten the NN


def test_knn_incremental_reads_stored_index(spark):
    """The verdict-4a plan pin: the screen must READ the stored index
    relations (memo checkpoints -> Scan ExistingRDD) and scan the
    embeddings parquet exactly ONCE, for the arriving batch — rebuilding
    the corpus-side index per screen would make ingest O(corpus) instead
    of O(batch)."""
    knn_incremental(spark, SF).collect()  # memos live; now re-plan
    df = knn_incremental(spark, SF)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def _write_embeddings(tmp_path, vec_ids, dim=64, seed=11):
    """Corpus-shaped embeddings parquet with the given vec_ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    emb = [rng.rand(dim).astype(np.float32) for _ in vec_ids]
    t = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
            "label": pa.array([int(v % 3) for v in vec_ids], pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")


def test_knn_incremental_empty_batch(spark, tmp_path):
    """A corpus with no arriving slice (no vec_id % 10 == 7) screens to
    an EMPTY result — not a crash: ingest ticks with nothing new are
    routine."""
    from currency_etl_spark.operators.ckpt import reset_memos

    _write_embeddings(tmp_path, [0, 1, 2, 3, 4, 5, 6, 8, 9, 10])
    # memo keys fold in sf_dir so tmp corpora can't cross-pollinate, but
    # the one-live-checkpoint-per-tag discipline means this build evicts
    # the SF checkpoint — reset before AND after so neither direction
    # leaves a stale tag holder
    reset_memos()
    try:
        assert knn_incremental(spark, str(tmp_path)).count() == 0
    finally:
        reset_memos()


def test_knn_incremental_corpus_smaller_than_codebook(spark, tmp_path):
    """A corpus with fewer vectors than N_CENTROIDS still screens: every
    corpus vector becomes its own cell and the probe degrades gracefully
    (numpy agreement at the reduced codebook size)."""
    from currency_etl_spark.operators.ckpt import reset_memos

    ids = [0, 1, 2, 7, 17]  # corpus {0,1,2} (< N_CENTROIDS), batch {7,17}
    _write_embeddings(tmp_path, ids)
    reset_memos()
    try:
        want, n_corpus = _np_screen(str(tmp_path), IVF_NPROBE)
        assert n_corpus == 3
        got = _rows(knn_incremental(spark, str(tmp_path)))
        assert got == want and len(got) == 2
    finally:
        reset_memos()


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_PROP = settings(derandomize=True, max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))


@_PROP
@given(
    n_vec=st.integers(3, 40),
    dim=st.integers(2, 16),
    nprobe=st.integers(1, 4),
    seed=st.integers(0, 10**6),
    data=st.data(),
)
def test_knn_incremental_property(spark, tmp_path_factory, n_vec, dim, nprobe, seed, data):
    """Property form of the numpy agreement: on ARBITRARY corpora —
    random sizes, dimensions, nprobe settings, and vec_id sets (gaps,
    duplicates of position, any batch/corpus mix as long as both sides
    are non-empty) — the Spark screen equals the pure-python screen
    bit-for-bit, including tie-breaks (low-dim integer lattices collide
    constantly, so ties are actually exercised)."""
    from currency_etl_spark.operators.ckpt import reset_memos

    ids = sorted(
        data.draw(
            st.sets(st.integers(0, 200), min_size=n_vec, max_size=n_vec).filter(
                lambda s: any(v % KNN_BATCH_MOD == KNN_BATCH_REM for v in s)
                and any(v % KNN_BATCH_MOD != KNN_BATCH_REM for v in s)
            )
        )
    )
    d = tmp_path_factory.mktemp("prop_knn")
    # low-entropy lattice: quantized coords collide across vectors, so
    # distance ties (broken by vec_id) genuinely occur
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    emb = [(rng.randint(0, 3, dim) / 2.0).astype(np.float32) for _ in ids]
    t = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
            "label": pa.array([int(v % 3) for v in ids], pa.int32()),
        }
    )
    pq.write_table(t, d / "embeddings.parquet")
    reset_memos()
    try:
        want, _ = _np_screen(str(d), nprobe)
        got = _rows(knn_incremental(spark, str(d), nprobe=nprobe))
        assert got == want
    finally:
        reset_memos()


# ---------------------------------------------------------------------------
# knn_filtered_search: facet-filtered top-k over the same stored index
# ---------------------------------------------------------------------------


def _np_filtered(sf: str, nprobe: int, k: int):
    """Pure-numpy re-derivation of knn_filtered_search: same stored
    codebook/assignments and probe election as _np_screen, candidates
    pre-filtered to the query's own label, (d, vec_id)-ranked top-k with
    the post-filter candidate count; queries whose probed cells hold no
    facet member drop out."""
    emb = pd.read_parquet(f"{sf}/embeddings.parquet").sort_values("vec_id")
    qv = {
        r.vec_id: np.round(np.asarray(r.embedding, dtype=np.float64) * 1e6).astype(
            np.int64
        )
        for r in emb.itertuples()
    }
    label = dict(zip(emb.vec_id, emb.label))
    is_batch = lambda v: v % KNN_BATCH_MOD == KNN_BATCH_REM
    corpus = sorted(v for v in qv if not is_batch(v))
    batch = sorted(v for v in qv if is_batch(v))
    cents = corpus[:N_CENTROIDS]

    def d2(a, b):
        d = qv[a] - qv[b]
        return int((d * d).sum())

    cell = {v: min(cents, key=lambda c: (d2(v, c), c)) for v in corpus}
    members: dict = {}
    for v in corpus:
        members.setdefault(cell[v], []).append(v)
    out = []
    for b in batch:
        probe = sorted(cents, key=lambda c: (d2(b, c), c))[:nprobe]
        cand = [
            v for c in probe for v in members.get(c, []) if label[v] == label[b]
        ]
        for rank, v in enumerate(
            sorted(cand, key=lambda v: (d2(b, v), v))[:k], start=1
        ):
            out.append(
                (b, label[b], rank, v, cell[v], round(d2(b, v) / 1e12, 6), len(cand))
            )
    return out


def _frows(df):
    return [
        (
            r["vec_id"],
            r["label"],
            r["rank"],
            r["nn_vec_id"],
            r["nn_cell"],
            r["nn_dist"],
            r["n_candidates"],
        )
        for r in df.collect()
    ]


def test_knn_filtered_matches_numpy(spark):
    from currency_etl_spark.queries.vectors import FILTER_K, knn_filtered_search

    assert _frows(knn_filtered_search(spark, SF)) == _np_filtered(
        SF, IVF_NPROBE, FILTER_K
    )


def test_knn_filtered_facet_and_rank_invariants(spark):
    """Every served neighbor is in the query's facet; ranks are
    contiguous from 1 per query and never exceed the post-filter pool;
    and the filter only SHRINKS the probe: each query's filtered pool is
    bounded by knn_incremental's unfiltered candidate count over the
    same probes."""
    from collections import defaultdict

    from currency_etl_spark.queries.vectors import FILTER_K, knn_filtered_search

    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    label = dict(zip(emb.vec_id, emb.label))
    rows = _frows(knn_filtered_search(spark, SF))
    assert rows
    per_q = defaultdict(list)
    for r in rows:
        assert label[r[3]] == r[1]  # facet respected
        assert r[3] % KNN_BATCH_MOD != KNN_BATCH_REM  # corpus side only
        per_q[r[0]].append(r)
    unfiltered = {r[0]: r[2] for r in _rows(knn_incremental(spark, SF))}
    for v, rs in per_q.items():
        ranks = sorted(r[2] for r in rs)
        n_cand = rs[0][6]
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) == min(n_cand, FILTER_K)  # depth served vs pool
        assert all(r[6] == n_cand for r in rs)
        assert n_cand <= unfiltered[v]


def test_knn_filtered_nprobe_degrades_to_exact(spark):
    """nprobe = N_CENTROIDS is the exact facet-restricted batch-vs-corpus
    top-k — the ground truth the filtered probe approximates."""
    from currency_etl_spark.queries.vectors import FILTER_K, knn_filtered_search

    assert _frows(
        knn_filtered_search(spark, SF, nprobe=N_CENTROIDS)
    ) == _np_filtered(SF, N_CENTROIDS, FILTER_K)


def test_knn_filtered_reads_stored_index(spark):
    """Same plan pin as the unfiltered screen: the filtered search READS
    the memoized index relations and scans the embeddings parquet
    exactly once, for the batch — the facet filter must not force an
    index rebuild."""
    from currency_etl_spark.queries.vectors import knn_filtered_search

    knn_filtered_search(spark, SF).collect()  # memos live; now re-plan
    df = knn_filtered_search(spark, SF)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# knn_filtered_escalate: probe escalation until k served or cells exhausted
# ---------------------------------------------------------------------------


def _np_escalate(sf: str, schedule, k):
    """Pure-python escalation over _np_filtered's per-depth answers: each
    query's effective depth is the first scheduled nprobe whose facet
    pool reaches k, else the last scheduled depth; its rows are that
    depth's top-k with eff_nprobe appended."""
    per_depth = {p: _np_filtered(sf, p, k) for p in schedule}
    pools = {
        p: {r[0]: r[6] for r in rows} for p, rows in per_depth.items()
    }  # vec_id -> n_candidates (absent == empty pool)
    out = []
    for q in sorted({r[0] for r in per_depth[schedule[-1]]}):
        eff = next(
            (p for p in schedule[:-1] if pools[p].get(q, 0) >= k), schedule[-1]
        )
        out.extend(r + (eff,) for r in per_depth[eff] if r[0] == q)
    return out


def _erows(df):
    return [tuple(r) for r in df.collect()]


def test_knn_escalate_matches_numpy(spark):
    from currency_etl_spark.queries.vectors import (
        ESCALATE_K,
        ESCALATE_SCHEDULE,
        knn_filtered_escalate,
    )

    got = _erows(knn_filtered_escalate(spark, SF))
    assert got == _np_escalate(SF, ESCALATE_SCHEDULE, ESCALATE_K)
    effs = {r[0]: r[7] for r in got}
    assert set(effs.values()) <= set(ESCALATE_SCHEDULE)
    # non-degenerate on the graded corpus: the escalation tier actually
    # fires (some query needs more than the base depth)
    assert any(e > ESCALATE_SCHEDULE[0] for e in effs.values())


def test_knn_escalate_base_slice_is_filtered_search(spark):
    """Cross-entry pin: a single-stage schedule
    at the base depth reproduces knn_filtered_search EXACTLY (drop the
    eff_nprobe column, which is constant IVF_NPROBE)."""
    from currency_etl_spark.queries.vectors import (
        FILTER_K,
        IVF_NPROBE,
        knn_filtered_escalate,
        knn_filtered_search,
    )

    got = _erows(
        knn_filtered_escalate(spark, SF, k=FILTER_K, schedule=(IVF_NPROBE,))
    )
    assert all(r[7] == IVF_NPROBE for r in got)
    assert [r[:7] for r in got] == _frows(knn_filtered_search(spark, SF))


def test_knn_escalate_full_depth_serves_every_query(spark):
    """Cross-entry pin: at schedule=(N_CENTROIDS,) the escalating screen
    IS the exact facet-filtered search at full depth; and under the
    default schedule no query with any facet member ever drops out —
    the exact hazard the fixed-depth screen has."""
    from currency_etl_spark.queries.vectors import (
        FILTER_K,
        knn_filtered_escalate,
        knn_filtered_search,
    )

    full = _frows(knn_filtered_search(spark, SF, nprobe=N_CENTROIDS))
    got = _erows(
        knn_filtered_escalate(spark, SF, k=FILTER_K, schedule=(N_CENTROIDS,))
    )
    assert [r[:7] for r in got] == full
    assert all(r[7] == N_CENTROIDS for r in got)
    served = {r[0] for r in _erows(knn_filtered_escalate(spark, SF))}
    assert served == {r[0] for r in full}


def test_knn_escalate_eff_base_queries_match_fixed_screen(spark):
    """Queries served at the base depth carry rows identical to the
    fixed-depth screen at the escalate entry's own k — escalation must
    be a pure extension, never a perturbation of already-good answers."""
    from collections import defaultdict

    from currency_etl_spark.queries.vectors import (
        ESCALATE_K,
        IVF_NPROBE,
        knn_filtered_escalate,
        knn_filtered_search,
    )

    got = _erows(knn_filtered_escalate(spark, SF))
    base_rows = defaultdict(list)
    for r in _frows(knn_filtered_search(spark, SF, k=ESCALATE_K)):
        base_rows[r[0]].append(r)
    for q in {r[0] for r in got if r[7] == IVF_NPROBE}:
        assert [r[:7] for r in got if r[0] == q] == base_rows[q]


def test_knn_escalate_rare_facet_exhausts_cells(spark, tmp_path):
    """The hazard case end-to-end: a facet with fewer than k members
    forces escalation to every cell (eff_nprobe = N_CENTROIDS) and the
    query is served the facet's FULL membership — under the fixed-depth
    screen the same query can return nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_spark.operators.ckpt import reset_memos
    from currency_etl_spark.queries.vectors import knn_filtered_escalate

    ids = list(range(60))
    rng = np.random.RandomState(5)
    emb = [(rng.randint(0, 3, 8) / 2.0).astype(np.float32) for _ in ids]
    # batch query 7 shares rare label 9 with exactly two corpus vectors
    labels = [9 if v in (7, 11, 23) else int(v % 3) for v in ids]
    t = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    reset_memos()
    try:
        sf = str(tmp_path)
        from currency_etl_spark.queries.vectors import (
            ESCALATE_K,
            ESCALATE_SCHEDULE,
        )

        got = _erows(knn_filtered_escalate(spark, sf))
        assert got == _np_escalate(sf, ESCALATE_SCHEDULE, ESCALATE_K)
        rare = [r for r in got if r[0] == 7]
        assert len(rare) == 2  # the facet's full membership, not k
        assert all(r[7] == N_CENTROIDS for r in rare)
        assert {r[3] for r in rare} == {11, 23}
    finally:
        reset_memos()


@_PROP
@given(
    n_vec=st.integers(6, 40),
    dim=st.integers(2, 8),
    n_labels=st.integers(1, 6),
    k=st.integers(1, 4),
    seed=st.integers(0, 10**6),
)
def test_knn_escalate_property(spark, tmp_path_factory, n_vec, dim, n_labels, k, seed):
    """On ARBITRARY corpora — random sizes, dimensions, label
    cardinalities (rare facets happen naturally at high n_labels), k
    settings, and low-entropy lattices that force distance ties — the
    staged Spark escalation equals the pure-python fixed point
    bit-for-bit, including eff_nprobe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from currency_etl_spark.operators.ckpt import reset_memos
    from currency_etl_spark.queries.vectors import (
        ESCALATE_SCHEDULE,
        knn_filtered_escalate,
    )

    rng = np.random.RandomState(seed)
    ids = list(range(n_vec))
    if not any(v % KNN_BATCH_MOD == KNN_BATCH_REM for v in ids):
        ids.append(KNN_BATCH_REM)
    emb = [(rng.randint(0, 3, dim) / 2.0).astype(np.float32) for _ in ids]
    t = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
            "label": pa.array(
                [int(rng.randint(0, n_labels)) for _ in ids], pa.int32()
            ),
        }
    )
    d = tmp_path_factory.mktemp("prop_escalate")
    pq.write_table(t, d / "embeddings.parquet")
    reset_memos()
    try:
        sf = str(d)
        got = _erows(knn_filtered_escalate(spark, sf, k=k))
        assert got == _np_escalate(sf, ESCALATE_SCHEDULE, k)
    finally:
        reset_memos()


def test_knn_escalate_reads_stored_index(spark):
    """Every escalation round probes the SAME stored artifacts: the plan
    reads the memo checkpoints and scans the embeddings parquet only for
    the batch side (once per round over the shrinking remainder — never
    an index rebuild), with no cartesian product and no Python UDF."""
    from currency_etl_spark.queries.vectors import (
        ESCALATE_SCHEDULE,
        knn_filtered_escalate,
    )

    knn_filtered_escalate(spark, SF).collect()  # memos live; now re-plan
    df = knn_filtered_escalate(spark, SF)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in plan
    n_rounds = len(ESCALATE_SCHEDULE)
    # batch-side parquet scans only: one per round plus one per
    # anti-join remainder recomputation — bounded by the schedule, never
    # proportional to the corpus
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 3 * n_rounds, plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# knn_tombstone_screen: deletes served as index masks (the DELETE verb)
# ---------------------------------------------------------------------------


def _np_tombstone(sf: str, nprobe: int):
    """Pure-python compacted rebuild: survivors assigned with the
    ORIGINAL codebook — masking must be bit-identical to this."""
    emb = pd.read_parquet(f"{sf}/embeddings.parquet").sort_values("vec_id")
    qv = {
        r.vec_id: np.round(np.asarray(r.embedding, dtype=np.float64) * 1e6).astype(
            np.int64
        )
        for r in emb.itertuples()
    }
    label = dict(zip(emb.vec_id, emb.label))
    from currency_etl_spark.queries.vectors import DELETE_MOD, DELETE_REM

    is_batch = lambda v: v % KNN_BATCH_MOD == KNN_BATCH_REM
    corpus = sorted(v for v in qv if not is_batch(v))
    batch = sorted(v for v in qv if is_batch(v))
    cents = corpus[:N_CENTROIDS]  # ORIGINAL codebook — deletes never retrain
    live = [v for v in corpus if v % DELETE_MOD != DELETE_REM]

    def d2(a, b):
        d = qv[a] - qv[b]
        return int((d * d).sum())

    cell = {v: min(cents, key=lambda c: (d2(v, c), c)) for v in live}
    members: dict = {}
    for v in live:
        members.setdefault(cell[v], []).append(v)
    out = []
    for b in batch:
        probe = sorted(cents, key=lambda c: (d2(b, c), c))[:nprobe]
        cand = [v for c in probe for v in members.get(c, [])]
        if not cand:
            continue  # probed cells emptied by deletion: query drops out
        nn = min(cand, key=lambda v: (d2(b, v), v))
        out.append(
            (b, label[b], len(cand), nn, label[nn], cell[nn], round(d2(b, nn) / 1e12, 6))
        )
    return out


def test_tombstone_screen_equals_compacted_rebuild(spark):
    """THE delete contract: serving over the masked index is
    bit-identical to serving over an index compacted from the survivors
    with the same codebook (assignment is per-vector against the frozen
    codebook, so masking commutes with rebuild)."""
    from currency_etl_spark.queries.vectors import knn_tombstone_screen

    got = _rows(knn_tombstone_screen(spark, SF))
    assert got == _np_tombstone(SF, IVF_NPROBE)
    assert got, "graded corpus serves queries after deletion"


def test_tombstone_screen_never_serves_deleted(spark):
    """No deleted vector appears as a neighbor, live candidate pools
    never exceed the undeleted screen's, and with cid 3 itself deleted
    the anchor keeps serving as a cell while vanishing as a member."""
    from currency_etl_spark.queries.vectors import (
        DELETE_MOD,
        DELETE_REM,
        knn_tombstone_screen,
    )

    rows = _rows(knn_tombstone_screen(spark, SF))
    base = {r[0]: r for r in _rows(knn_incremental(spark, SF))}
    assert all(r[3] % DELETE_MOD != DELETE_REM for r in rows)
    served_cells = {r[5] for r in rows}
    for r in rows:
        assert r[2] <= base[r[0]][2]  # mask only shrinks the pool
        assert r[6] >= base[r[0]][6]  # deletion can only worsen the NN
    # the deleted anchor's cell still serves its surviving members
    assert DELETE_REM in served_cells


def test_tombstone_full_probe_is_exact_over_survivors(spark):
    """nprobe = N_CENTROIDS degrades to the exact batch-vs-survivors
    nearest neighbor."""
    from currency_etl_spark.queries.vectors import knn_tombstone_screen

    got = _rows(knn_tombstone_screen(spark, SF, nprobe=N_CENTROIDS))
    assert got == _np_tombstone(SF, N_CENTROIDS)


# ---------------------------------------------------------------------------
# knn_index_compact: the compaction ACTION the tombstone screen defers
# ---------------------------------------------------------------------------


def test_compact_pages_match_numpy_rebuild(spark):
    """The compacted cell pages must equal a pure-python rebuild from the
    SURVIVORS alone (per-vector assignment against the frozen codebook)
    — the artifact-level form of masking-commutes-with-rebuild."""
    from currency_etl_spark.queries.vectors import (
        DELETE_MOD,
        DELETE_REM,
        MEMBER_HEAD_K,
        knn_index_compact,
    )

    emb = pd.read_parquet(f"{SF}/embeddings.parquet").sort_values("vec_id")
    qv = {
        r.vec_id: np.round(
            np.asarray(r.embedding, dtype=np.float64) * 1e6
        ).astype(np.int64)
        for r in emb.itertuples()
    }
    is_batch = lambda v: v % KNN_BATCH_MOD == KNN_BATCH_REM
    corpus = sorted(v for v in qv if not is_batch(v))
    cents = corpus[:N_CENTROIDS]

    def d2(a, b):
        d = qv[a] - qv[b]
        return int((d * d).sum())

    cell = {v: min(cents, key=lambda c: (d2(v, c), c)) for v in corpus}
    removed: dict = {}
    live: dict = {}
    for v in corpus:
        (removed if v % DELETE_MOD == DELETE_REM else live).setdefault(
            cell[v], []
        ).append(v)
    want = []
    for cid in sorted(removed):
        members = sorted(live.get(cid, []))
        want.append(
            (
                cid,
                len(removed[cid]),
                len(members),
                ",".join(str(v) for v in members[:MEMBER_HEAD_K]),
                str(sum(int(np.abs(qv[v]).sum()) for v in members)),
                not members,
            )
        )
    got = [tuple(r) for r in knn_index_compact(spark, SF).collect()]
    assert got == want
    assert got, "graded corpus has touched cells"


def test_compact_serving_equals_masked_screen(spark):
    """Cross-entry pin: serving over the
    REWRITTEN (compacted) assignment relation is bit-identical to
    knn_tombstone_screen's serve-time masking of the stored artifact."""
    from currency_etl_spark.queries.vectors import (
        DELETE_MOD,
        DELETE_REM,
        _ivf_cents_base,
        _ivf_index_base,
        knn_tombstone_screen,
        screen_candidates,
        screen_top1,
        table,
    )
    from pyspark.sql import functions as F

    compacted = _ivf_index_base(spark, SF).filter(
        F.col("vec_id") % DELETE_MOD != DELETE_REM
    )
    from currency_etl_spark.queries.vectors import _q_longs

    batch = (
        table(spark, SF, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )
    served = screen_top1(
        screen_candidates(batch, _ivf_cents_base(spark, SF), compacted, IVF_NPROBE)
    )
    assert _rows(served) == _rows(knn_tombstone_screen(spark, SF))
