"""memo_checkpoint contract: cross-entry reuse is keyed — the SAME
(tag, key) hands back the live checkpoint without rebuilding, a key
change (the oracle tests hop sf_dirs) always rebuilds, and reset_memos
(bench.py's pass boundary) forces the next call to rebuild inside the
caller's timed region. A stale-reuse bug here would silently serve one
SF's materialization to another SF's query — the worst kind of wrong."""

from __future__ import annotations

from currency_etl_spark.operators.ckpt import memo_checkpoint, reset_memos


def test_memo_reuses_then_rebuilds_on_key_change(spark):
    calls = []

    def build_a():
        calls.append("a")
        return spark.range(3)

    def build_b():
        calls.append("b")
        return spark.range(5)

    got1 = memo_checkpoint("t_memo", "sfA", build_a)
    got2 = memo_checkpoint("t_memo", "sfA", build_a)
    assert calls == ["a"], "same (tag, key) must not rebuild"
    assert got2 is got1
    assert got2.count() == 3

    got3 = memo_checkpoint("t_memo", "sfB", build_b)
    assert calls == ["a", "b"], "key change must rebuild"
    assert got3.count() == 5


def test_reset_memos_forces_rebuild(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(2)

    memo_checkpoint("t_reset", "k", build)
    reset_memos()
    memo_checkpoint("t_reset", "k", build)
    assert len(calls) == 2, "reset_memos must invalidate every memo key"


def test_memoized_entries_hop_sf_dirs_correctly(spark):
    """Integration form of the key contract: run a memoized dedup-family
    entry and the shared-base RFM entry at one SF, then at another, then
    back — each hop must serve THAT directory's data, never the previous
    materialization. Counts pin it: the corpus sizes differ by 10x."""
    from currency_etl_spark.queries.extras import customer_rfm
    from currency_etl_spark.queries.llm_ops import _sh_base

    tiny, small = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    n_tiny = _sh_base(spark, tiny).count()
    n_small = _sh_base(spark, small).count()
    # both tiny corpora hold 500 docs of DIFFERENT content — equal
    # distinct-shingle counts across the hop would mean the memo served
    # the previous directory's materialization
    assert n_tiny > 0 and n_small > 0 and n_small != n_tiny
    assert _sh_base(spark, tiny).count() == n_tiny  # hop back rebuilds
    r_tiny = customer_rfm(spark, tiny).collect()
    r_small = customer_rfm(spark, small).collect()
    # the segment rollup differs between corpora; identical output would
    # mean the memo served sf0.001's base to the sf0.01 query
    assert sorted(map(tuple, r_tiny)) != sorted(map(tuple, r_small))


def test_plain_swap_invalidates_memo(spark):
    """swap_checkpoint under the same tag replaces the content, so a
    later memo_checkpoint with the old key must NOT serve the swapped-in
    dataframe as if it were the memoized build."""
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    calls = []

    def build():
        calls.append(1)
        return spark.range(4)

    memo_checkpoint("t_swap", "k", build)
    swap_checkpoint("t_swap", spark.range(9))
    got = memo_checkpoint("t_swap", "k", build)
    assert len(calls) == 2
    assert got.count() == 4


def test_release_all_frees_everything(spark):
    """release_all, the long-session guard, must
    drop every live checkpoint and memo key, and the next memo call under
    any released tag must rebuild."""
    from currency_etl_spark.operators import ckpt

    calls = []

    def build():
        calls.append(1)
        return spark.range(6)

    ckpt.memo_checkpoint("t_rel_a", "k", build)
    ckpt.swap_checkpoint("t_rel_b", spark.range(2))
    assert "t_rel_a" in ckpt._LIVE and "t_rel_b" in ckpt._LIVE
    ckpt.release_all()
    assert not ckpt._LIVE and not ckpt._KEYS and not ckpt._BUILT
    got = ckpt.memo_checkpoint("t_rel_a", "k", build)
    assert len(calls) == 2 and got.count() == 6


def test_memo_keys_on_session_identity(spark):
    """The stored memo key folds in the owning session's applicationId
    (a checkpoint is bound to its session): simulate a session hop by
    rewriting the stored app component — the next call with the SAME
    caller key must rebuild rather than hand back the (conceptually
    dead) checkpoint."""
    from currency_etl_spark.operators import ckpt

    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    ckpt.memo_checkpoint("t_app", "k", build)
    key, app = ckpt._KEYS["t_app"]
    assert app == spark.sparkContext.applicationId and key == "k"
    ckpt._KEYS["t_app"] = (key, "application_dead_0001")
    ckpt.memo_checkpoint("t_app", "k", build)
    assert len(calls) == 2, "a different session identity must rebuild"


def test_checkpoint_tags_are_bounded_source_literals():
    """_LIVE/_KEYS are process-global; they stay bounded only if every
    checkpoint tag is a source literal (a fixed family set), never a
    value derived from data or loop state. AST-scan every call site: the
    first argument must be a string literal, or a parameter of an
    enclosing function that is itself only fed literals (the
    spend_quartile pattern in extras.py)."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "currency_etl_spark",
    )
    ckpt_fns = {"memo_checkpoint", "swap_checkpoint", "chain_checkpoint"}
    # functions allowed to pass a NAME as the tag: their own callers are
    # checked below to pass only literals into that parameter
    param_carriers: dict[str, int] = {"spend_quartile": 1}  # tag is arg index 1
    offenders, literals = [], set()

    def _literal_tuple_pools(tree) -> dict:
        """Module-level NAME = ("lit", "lit", ...) assignments — a tag
        POOL bounded by construction (the escalation round-boundary
        convention): a subscript of such a tuple is as bounded as a
        literal, and every element counts toward the family set."""
        pools = {}
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Tuple)
                and node.value.elts
                and all(
                    isinstance(e, ast.Constant) and isinstance(e.value, str)
                    for e in node.value.elts
                )
            ):
                pools[node.targets[0].id] = [e.value for e in node.value.elts]
        return pools
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            pools = _literal_tuple_pools(tree)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call) or not node.args:
                    continue
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else (
                    fn.attr if isinstance(fn, ast.Attribute) else None
                )
                if name in ckpt_fns:
                    a0 = node.args[0]
                    if isinstance(a0, ast.Constant) and isinstance(a0.value, str):
                        literals.add(a0.value)
                    elif (
                        isinstance(a0, ast.Subscript)
                        and isinstance(a0.value, ast.Name)
                        and a0.value.id in pools
                    ):
                        literals.update(pools[a0.value.id])
                    elif isinstance(a0, ast.Name):
                        # must be a parameter of a known literal-fed carrier
                        offenders.append((f, node.lineno, f"name tag '{a0.id}'"))
                    else:
                        offenders.append((f, node.lineno, "non-literal tag"))
                if name in param_carriers:
                    idx = param_carriers[name]
                    if len(node.args) > idx:
                        a = node.args[idx]
                        if isinstance(a, ast.Constant) and isinstance(a.value, str):
                            literals.add(a.value)
                        else:
                            offenders.append((f, node.lineno, f"{name} tag non-literal"))
    # the spend_quartile-internal call is the one sanctioned Name-tag site
    offenders = [o for o in offenders if o[2] != "name tag 'tag'"]
    assert not offenders, f"dynamic checkpoint tags found: {offenders}"
    assert literals, "scan found no checkpoint call sites — regex drifted?"
    # sanity bound only (boundedness comes from every tag being a source
    # literal, asserted above) — raised 64 → 96 in r16 when the
    # optimization round added nine multi-consumer materialization tags
    # (minhash_overlap, text_dls, hhi_rev, acf_series, typecorr_daily,
    # tokdiv_csw, trunc_sims, basket_li, ivf_kmeans_cents — ngram_cnt
    # was built then reverted in-round; basket_li is the ninth tag)
    assert len(literals) < 96, "tag family set unexpectedly large"


def test_memo_touches_carry_build_time(spark):
    """drain_memo_touches records (tag, built, build_sec): a cold build
    carries its positive materialization wall time, the warm re-read
    carries 0.0 — the numbers bench.py subtracts from the paying entry."""
    from currency_etl_spark.operators import ckpt

    ckpt.reset_memos()
    ckpt.memo_checkpoint("t_timed", "k", lambda: spark.range(10))
    ckpt.memo_checkpoint("t_timed", "k", lambda: spark.range(10))
    touches = ckpt.drain_memo_touches()
    assert [(t[0], t[1]) for t in touches] == [("t_timed", True), ("t_timed", False)]
    assert touches[0][2] > 0.0 and touches[1][2] == 0.0
    assert ckpt.drain_memo_touches() == []  # drained


def test_nested_memo_builds_report_marginal_time(spark):
    """Nested memo builds (cc_map → minhash_pairs → minhash_sig → …)
    must report MARGINAL wall time, not raw wall time: the outer build's
    timer contains every nested build it triggers, and bench.py both
    sums the per-tag lines into the total and subtracts their sum from
    the paying entry — raw times double-counted the nested seconds
    (r17 measurement audit: a cold dedup_clusters reported ~6.2 s of
    memo_build lines for ~2.7 s of wall). The per-tag lines must be
    disjoint: sum(marginals) ≈ the outer build's true wall."""
    import time as _time

    from currency_etl_spark.operators import ckpt

    ckpt.reset_memos()

    def inner():
        _time.sleep(0.2)
        return spark.range(5)

    def outer():
        ckpt.memo_checkpoint("t_nest_inner", "k", inner)
        _time.sleep(0.2)
        return spark.range(5)

    t0 = _time.perf_counter()
    ckpt.memo_checkpoint("t_nest_outer", "k", outer)
    wall = _time.perf_counter() - t0
    touches = {t[0]: t[2] for t in ckpt.drain_memo_touches() if t[1]}
    assert set(touches) == {"t_nest_inner", "t_nest_outer"}
    # inner's full wall (sleep + materialization) must NOT appear inside
    # outer's reported number: outer's marginal excludes at least the
    # inner sleep, and the disjoint lines sum to ≈ the true outer wall
    assert touches["t_nest_inner"] >= 0.2
    assert touches["t_nest_outer"] <= wall - 0.2 + 0.05
    assert abs((touches["t_nest_inner"] + touches["t_nest_outer"]) - wall) < 0.15
    ckpt.release_all()


def test_memo_same_tag_concurrent_builds_once(spark):
    """Per-tag lock: the streaming pool's thread
    fan-out can hit memo_checkpoint for the SAME tag from two builder
    threads on a cold pool start. The critical section must serialize —
    exactly ONE build runs, both threads get the SAME live checkpoint,
    and nobody's result was unpersisted under them (count still works).
    Without the lock this intermittently double-builds and the second
    swap frees the first thread's blocks mid-plan."""
    import threading
    import time as _time

    from currency_etl_spark.operators import ckpt

    ckpt.reset_memos()
    calls, results, errs = [], {}, []

    def build():
        calls.append(1)
        _time.sleep(0.3)  # widen the check-then-build window
        return spark.range(7)

    barrier = threading.Barrier(2)

    def worker(name):
        try:
            barrier.wait()
            df = ckpt.memo_checkpoint("t_race", "k", build)
            results[name] = df
        except Exception as ex:  # noqa: BLE001 — surfaced to the assert
            errs.append(ex)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert len(calls) == 1, "same-tag concurrent memo must build once"
    assert results[0] is results[1]
    assert results[0].count() == 7  # still live — not unpersisted


def test_built_ledger_is_bounded():
    """_BUILT must not grow without bound in a long-lived session that
    never drains: it is a deque with a maxlen far above
    any bench pass's touch count."""
    from currency_etl_spark.operators import ckpt

    assert ckpt._BUILT.maxlen is not None and ckpt._BUILT.maxlen >= 1024
