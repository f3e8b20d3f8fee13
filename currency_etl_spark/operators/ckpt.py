"""One-live-checkpoint-per-tag release discipline for every eager
localCheckpoint in the catalog.

Eager ``localCheckpoint`` blocks are never freed by Spark until the
session ends, so a long session invoking checkpointing entries
repeatedly (the bench's min-of-2 passes, a notebook user re-running a
query) accumulates storage memory without bound. These helpers keep at
most ONE live checkpoint per tag:

* :func:`swap_checkpoint` — release the previous checkpoint under the
  tag, then materialize the new one. For independent re-builds: the new
  plan derives from source tables, never from the previous checkpoint.
* :func:`chain_checkpoint` — materialize FIRST, then release. For
  iteration chains (connected components' label propagation) where the
  new plan READS the previous checkpoint's blocks — releasing first
  would free lineage-truncated data the in-flight materialization still
  needs.

Contract (same as the BFS/rfm pattern this generalizes): the checkpoint
handed out stays live until the SAME tag is checkpointed again, so a
consumer must execute its plan before re-invoking the entry family that
owns the tag. The driver, bench, and oracle tests all run entries
serially with immediate execution; concurrent same-tag builders (the
streaming pool's thread fan-out can warm the same stored-index tag from
two builder threads) are serialized by a per-tag lock inside
:func:`memo_checkpoint` — without it both would build, and the second
swap would unpersist the first thread's fresh checkpoint while its
query plan still references it.
"""

from __future__ import annotations

import threading
import time
from collections import deque
from typing import Callable

from pyspark.sql import DataFrame

_LIVE: dict = {}
_KEYS: dict = {}

#: Per-tag build locks: the streaming pool's thread
#: fan-out can invoke memo_checkpoint for the SAME tag from two builder
#: threads (e.g. the knn screen and the drift screen both warming
#: ivf_index on a cold pool start). Unserialized, both build and the
#: second swap unpersists the first thread's fresh checkpoint while its
#: query plan still references it. One lock per tag serializes the
#: check-then-build-then-swap critical section; distinct tags still
#: build concurrently, and the loser of a same-tag race gets a memo hit.
_TAG_LOCKS: dict = {}
_TAG_LOCKS_GUARD = threading.Lock()


def _tag_lock(tag: str) -> threading.Lock:
    with _TAG_LOCKS_GUARD:
        lk = _TAG_LOCKS.get(tag)
        if lk is None:
            lk = _TAG_LOCKS[tag] = threading.Lock()
        return lk


def swap_checkpoint(tag: str, df: DataFrame) -> DataFrame:
    prev = _LIVE.get(tag)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # previous checkpoint's session stopped: nothing to free
    out = df.localCheckpoint(eager=True)
    _LIVE[tag] = out
    _KEYS.pop(tag, None)
    return out


#: Memo-tag touches since the last drain, as (tag, built, build_sec)
#: triples — bench.py reads this to SUBTRACT each shared-base build cost
#: from the paying entry's time and report it as its own line (per-query
#: times inside memoized families would otherwise depend on which entry
#: ran first). Bounded: a long-lived non-bench session that never drains
#: must not grow it without limit — far beyond any bench pass's touch
#: count, so a drain inside a pass never loses records.
_BUILT: deque = deque(maxlen=4096)

#: Per-thread stack of in-flight memo builds (each frame accumulates the
#: FULL wall seconds of completed nested builds). memo builds nest —
#: cc_map's build invokes the MinHash pair builder, whose build invokes
#: the signature builder, and so on — and the outer build's wall timer
#: CONTAINS every nested build it triggered. Recording each tag's raw
#: wall time therefore double-counted nested work: bench.py sums the
#: per-tag build lines into the total AND subtracts their sum from the
#: paying entry, so one cold dedup_clusters run reported ~6.2 s of
#: "memo_build:*" overhead for ~2.7 s of actual wall. Each build reports
#: its MARGINAL cost (own wall minus completed nested builds), so the
#: per-tag lines are disjoint and their sum equals the true build wall. Thread-local because pool threads
#: build concurrently and must not see each other's frames.
_BUILD_STACK = threading.local()


def _build_frames() -> list:
    frames = getattr(_BUILD_STACK, "v", None)
    if frames is None:
        frames = _BUILD_STACK.v = []
    return frames

#: Cache-invalidation hooks for memo layers that live OUTSIDE this
#: module (the BPE trainer's merge-table cache in queries/training.py
#: pairs a Python-side artifact with its live checkpoint, which
#: memo_checkpoint's DataFrame-only contract can't carry). Registered
#: hooks run on every reset_memos()/release_all() so the bench's
#: honesty guard (each pass rebuilds every shared relation inside a
#: timed region) covers them with no bench-side knowledge of who they
#: are.
_RESET_HOOKS: list = []


def register_reset_hook(fn: Callable[[], None]) -> None:
    """Idempotent registration (module reloads re-register)."""
    if fn not in _RESET_HOOKS:
        _RESET_HOOKS.append(fn)


def _run_reset_hooks() -> None:
    for fn in list(_RESET_HOOKS):
        try:
            fn()
        except Exception:
            pass  # a failing cache clear must not break session teardown


def note_build(tag: str, built: bool, build_sec: float) -> None:
    """Record an out-of-module memo touch in the same ledger
    memo_checkpoint feeds, so bench.py attributes an external cache's
    build cost exactly like a memo_checkpoint build: subtracted from the
    paying entry's time and reported as its own ``memo_build:<tag>``
    overhead line. An external build
    completing inside a memo build's frame charges its wall to that
    frame, same as a nested memo build — its seconds must not be
    reported twice."""
    _BUILT.append((tag, built, round(build_sec, 3) if built else 0.0))
    if built:
        frames = _build_frames()
        if frames:
            frames[-1] += build_sec


def memo_checkpoint(tag: str, key, build: Callable[[], DataFrame]) -> DataFrame:
    """swap_checkpoint with cross-entry reuse: if the live checkpoint
    under ``tag`` was built for the same ``key`` (the caller passes
    everything the content depends on — e.g. the sf_dir), hand it back
    without recomputing; otherwise build and swap. Lets sibling entries
    that need the SAME materialized relation (customer_rfm /
    customers_rfm_segments share one customers-sized RFM aggregate) pay
    its build once per session instead of once per entry, while a
    different sf_dir — the oracle tests hop between SFs — always
    rebuilds. Same one-live-per-tag release discipline.

    The stored key additionally folds in the owning session's
    applicationId: a checkpointed DataFrame is bound to its SparkSession,
    so after a session restart a memo hit would otherwise hand back a
    DataFrame of a dead session.

    A build holds its tag's lock while it builds nested tags, so the tag
    graph must stay acyclic: ``build()`` runs while holding this tag's
    lock, and builds may NESTED-call memo_checkpoint for a second tag
    (ivf_index → ivf_cents, text_df → text_tf). That is safe only
    because the tag dependency graph is a DAG and every nested call
    goes strictly "downward" (a build may only depend on tags that never
    — directly or transitively — build IT). A future cyclic tag
    dependency would deadlock two pool threads acquiring the cycle from
    opposite ends. When adding a memo tag whose build calls another
    memoized builder, keep the dependency one-directional; if a genuine
    mutual dependency ever appears, restructure so the shared piece is
    its own (lower) tag both depend on."""
    from pyspark.sql import SparkSession

    # getActiveSession is THREAD-local: a pool worker thread (the
    # streaming fan-out) sees None, which would miss the memo key and
    # rebuild on every thread — fall back to the process-wide session
    sess = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    app = sess.sparkContext.applicationId if sess is not None else None
    with _tag_lock(tag):
        got = _LIVE.get(tag)
        if got is not None and _KEYS.get(tag) == (key, app):
            _BUILT.append((tag, False, 0.0))
            return got
        frames = _build_frames()
        frames.append(0.0)
        t0 = time.perf_counter()
        try:
            out = swap_checkpoint(tag, build())
        finally:
            nested = frames.pop()
        total = time.perf_counter() - t0
        if frames:
            # charge my FULL wall (marginal + my own nested children) to
            # the enclosing build — the parent's timer contains all of it
            frames[-1] += total
        _KEYS[tag] = (key, out.sparkSession.sparkContext.applicationId)
        # ledger carries the MARGINAL cost: own wall minus nested builds
        # (clamped — timer jitter between inner/outer reads can go <0)
        _BUILT.append((tag, True, round(max(total - nested, 0.0), 3)))
        return out


def drain_memo_touches() -> "list[tuple[str, bool, float]]":
    """Return and clear the (tag, built, build_sec) touches since the
    last drain — bench.py calls this after each entry to subtract each
    shared-base build cost (built=True, build_sec = the eager
    materialization's wall time) from the paying entry's number and
    report it as its own line; warm reads record (tag, False, 0.0)."""
    out = list(_BUILT)
    _BUILT.clear()
    return out


def reset_memos() -> None:
    """Forget every memo key (bench pass boundary — the honesty guard
    mirroring reset_stream_pool): the next memo_checkpoint under each tag
    rebuilds inside its caller's timed region, and the swap releases the
    previous pass's blocks. A handed-out checkpoint stays valid until its
    tag is next checkpointed (the same one-live-per-tag contract: execute
    plans holding it before re-invoking the tag's entry family). Also
    drops undrained touch records — they describe the measurement epoch
    being reset, and a session that never drains must not accumulate
    them."""
    _KEYS.clear()
    _BUILT.clear()
    _run_reset_hooks()


def release_all() -> None:
    """Release EVERY live checkpoint and forget all memo keys — the
    long-session guard: _LIVE/_KEYS are
    process-global and otherwise grow one entry per tag for the life of
    the process (notebook-style sessions). Callers must not hold
    unexecuted plans over released checkpoints (same contract as
    swap_checkpoint replacing a tag)."""
    for df in _LIVE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # owning session already stopped
    _LIVE.clear()
    _KEYS.clear()
    _BUILT.clear()
    _run_reset_hooks()


def chain_checkpoint(tag: str, df: DataFrame) -> DataFrame:
    out = df.localCheckpoint(eager=True)
    prev = _LIVE.get(tag)
    if prev is not None:
        prev.unpersist()
    _LIVE[tag] = out
    return out
