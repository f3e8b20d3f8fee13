"""The bench CLI is a judged artifact: a crash or malformed output (say,
a loader error surfaced through bench's table warmup) leaves the run with
no BENCH record. Lock the contract: warmup names resolve, a real
subprocess run emits the one-JSON-line summary the harness parses, and the
pass loop's resets and cost attribution behave as documented.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench as bench_mod

from currency_etl_spark.catalog import load_catalog


def test_warmup_names_resolve():
    cat = load_catalog()
    for name in bench_mod.WARMUP_TIMED_SF + bench_mod.WARMUP_TINY_SF:
        assert name in cat, f"bench warmup references unknown entry {name!r}"


#: Every memo tag a bench run may observe (the family-sum report keys on
#: these). A NEW memo_checkpoint tag must be added here deliberately —
#: the family report is a judged artifact and silent tag growth would
#: mean unreviewed shared state. "stream_pool" is the pooled-stream
#: analog: the entry that starts the pool pays the family's startup.
KNOWN_MEMO_TAGS = frozenset(
    {"minhash_sh", "minhash_sig", "minhash_pairs", "cc_map", "rfm_base",
     "phash_base", "stream_pool", "dup_hits", "ivf_cents", "ivf_index",
     "surp_base", "text_tf", "text_df", "text_batch_tf",
     "bpe_enc", "bpe_enc_stream", "affinity_edges",
     "text_posting_heads", "minhash_overlap", "text_dls",
     "stale_probes", "stale_truth"}
)


def test_bench_subprocess_contract():
    """Run the real CLI on a 4-query subset (two plain entries + two
    MinHash-family siblings) at the smallest SF and parse its output
    exactly like the driver does (last line must be complete JSON with
    the agreed keys; the detailed line must carry the memo-family sums
    with build attribution)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_BUDGET="120",
    )
    out = subprocess.run(
        [
            sys.executable,
            "bench.py",
            "ref_avg_value",
            "top_customers",
            "dedup_minhash_lsh",
            "minhash_jaccard_est",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    assert len(lines) >= 2  # detailed line + short summary line
    summary = json.loads(lines[-1])
    assert summary["metric"] == "catalog_total_runtime"
    assert summary["unit"] == "sec" and summary["value"] > 0
    assert summary["sf"] == 0.001 and summary["n_queries"] == 4
    detailed = json.loads(lines[-2])
    assert set(detailed["queries"]) == {
        "ref_avg_value", "top_customers", "dedup_minhash_lsh", "minhash_jaccard_est",
    }
    fams = detailed["families"]
    assert set(fams) <= KNOWN_MEMO_TAGS, f"undeclared memo tags: {set(fams)}"
    # the shared signature/pair bases: built by the alphabetically-first
    # consumer, read warm by the sibling — both appear as members, and
    # the build cost is its OWN line (subtracted from the payer's
    # per-entry time)
    for tag in ("minhash_sig", "minhash_pairs"):
        assert fams[tag]["paid_by"] == "dedup_minhash_lsh", fams[tag]
        assert set(fams[tag]["entries"]) == {
            "dedup_minhash_lsh", "minhash_jaccard_est",
        }, fams[tag]
        assert fams[tag]["sec"] >= 0
        assert fams[tag]["build_sec"] > 0, fams[tag]
        assert f"memo_build:{tag}" in detailed["overheads"]
    # no entry may report exactly 0.0: an all-cost-in-build payer clamps
    # to the 1 ms floor instead of reading as a free operator
    assert all(v >= 0.001 for v in detailed["queries"].values()), detailed["queries"]
    # total = per-entry work + separately-reported shared-base costs
    assert detailed["overhead_sec"] == round(sum(detailed["overheads"].values()), 3)
    assert (
        abs(
            detailed["value"]
            - (sum(detailed["queries"].values()) + detailed["overhead_sec"])
        )
        < 0.05
    )


class _FakeBench:
    """Stands in for the engine under bench.time_passes: a fake clock that
    each entry run and each reset advances, fake memo touches and pool
    starts queued per entry, and a log of every call in order."""

    RESET_SEC = 100.0

    def __init__(self, monkeypatch, entry_sec):
        self.now = 0.0
        self.entry_sec = entry_sec  # name -> [seconds in pass 1, pass 2]
        self.touches = {}  # (name, pass) -> [(tag, built, build_sec)]
        self.pool = {}  # (name, pass) -> (starter, start_sec)
        self.log = []
        self.current = None
        self.npass = 0
        monkeypatch.setattr(bench_mod, "reset_stream_pool", self._reset_pool)
        monkeypatch.setattr(bench_mod, "reset_memos", self._reset_memos)
        monkeypatch.setattr(bench_mod, "drain_memo_touches", self._drain_touches)
        monkeypatch.setattr(bench_mod, "drain_pool_start", self._drain_pool)

    def clock(self):
        return self.now

    def _reset_pool(self):
        self.log.append("reset_stream_pool")
        self.current = None  # drains at the pass boundary see no entry
        self.now += self.RESET_SEC

    def _reset_memos(self):
        self.log.append("reset_memos")
        self.npass += 1
        self.now += self.RESET_SEC

    def _drain_touches(self):
        return self.touches.pop((self.current, self.npass), [])

    def _drain_pool(self):
        return self.pool.pop((self.current, self.npass), None)

    def run(self, name):
        self.current = name
        self.log.append(f"run:{name}")
        self.now += self.entry_sec[name][self.npass - 1]

    def time_passes(self, budget_s=10_000.0):
        return bench_mod.time_passes(
            list(self.entry_sec), self.run, budget_s, clock=self.clock
        )


def test_bench_subtracts_shared_base_costs(monkeypatch):
    """A memo build's and the stream-pool start's seconds come off the
    paying entry's time BEFORE the min-of-passes fold, and are reported as
    their own overhead lines; an entry that only reads the warm base keeps
    its full time, even when a pool start by another entry (the warmup's,
    say) is drained after it. A marginal at or below zero clamps to the
    1 ms floor, so no entry reads as a free operator."""
    fake = _FakeBench(
        monkeypatch,
        {"a_payer": [1.0, 0.5], "b_reader": [0.3, 0.4], "c_floor": [1.0, 1.0], "s_stream": [5.0, 4.0]},
    )
    fake.touches[("a_payer", 1)] = [("sig", True, 0.8)]
    fake.touches[("a_payer", 2)] = [("sig", True, 0.1)]
    fake.touches[("b_reader", 1)] = [("sig", False, 0.0)]
    fake.touches[("c_floor", 1)] = [("pairs", True, 1.2)]
    fake.pool[("s_stream", 1)] = ("s_stream", 3.0)
    fake.pool[("s_stream", 2)] = ("s_stream", 2.5)
    fake.pool[("b_reader", 2)] = ("warmup_entry", 0.6)
    ledger = fake.time_passes()

    assert len(ledger.passes) == 2
    # subtract, then fold: min(1.0 - 0.8, 0.5 - 0.1) = 0.2; folding the raw
    # times first would start from min(1.0, 0.5) = 0.5 and never reach 0.2
    assert ledger.times["a_payer"] == 0.2
    assert ledger.times["b_reader"] == 0.3
    assert ledger.times["c_floor"] == 0.001
    assert ledger.times["s_stream"] == 1.5  # min(5.0 - 3.0, 4.0 - 2.5)
    assert ledger.overheads == {
        "memo_build:sig": 0.1,
        "memo_build:pairs": 1.2,
        "stream_pool_startup": 2.5,
    }
    assert ledger.fam_payer == {"sig": "a_payer", "pairs": "c_floor"}
    assert ledger.fam_members == {"sig": {"a_payer", "b_reader"}, "pairs": {"c_floor"}}


def test_bench_marks_stream_family_primary():
    """Per-entry streaming rows are attribution-shifted by the parallel
    pool start, so the stream_pool family row is marked as the primary
    streaming signal: runs are compared on family sec + startup_sec."""
    ledger = bench_mod.Ledger(
        times={"s1": 0.5, "s2": 0.25, "plain": 1.0},
        overheads={"stream_pool_startup": 3.0},
    )
    fams = bench_mod.family_rows(ledger, ["s1", "s2", "s3"], "s1")
    row = fams["stream_pool"]
    assert row["primary"] is True
    assert "attribution-shifted" in row["note"]
    assert row["entries"] == ["s1", "s2"]
    assert row["sec"] == 0.75 and row["startup_sec"] == 3.0
    assert row["paid_by"] == "s1"
    # no streaming entry timed (a subset run whose warmup started the
    # pool): no row at all
    assert "stream_pool" not in bench_mod.family_rows(ledger, ["s3"], "s1")
    assert "stream_pool" not in bench_mod.family_rows(ledger, ["s1"], None)


def test_subset_run_does_not_clobber_full_dump():
    """A subset or off-SF CLI run must leave bench_queries_r{N}.json
    untouched — the file is the round's machine-diffable full-catalog
    sf0.1 artifact, and a 2-query spot-check (or an sf0.001 contract
    check) overwriting it silently destroys the comparison baseline
    (this happened: the subprocess-contract test above replaced the
    182-entry dump with its own 2 queries)."""
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dumps = [f for f in os.listdir(here) if re.match(r"bench_queries_r\d+\.json$", f)]
    if not dumps:  # fresh checkout before the first full run
        return
    newest = max(dumps)
    with open(os.path.join(here, newest)) as fh:
        n_before = len(json.load(fh)["queries"])
    # the subprocess-contract test already ran a real subset invocation
    # in this same checkout; assert the artifact still holds a full
    # catalog's worth of queries (subset runs skip the dump write)
    assert n_before > 2, (
        f"{newest} holds only {n_before} queries — a subset bench run "
        "overwrote the full-catalog dump"
    )


def test_bench_resets_shared_memos_between_passes(monkeypatch):
    """Measurement-honesty guard: every pass starts with
    reset_stream_pool() and reset_memos(), so each pass rebuilds every
    memoized cross-entry checkpoint inside a timed region — pass 2 must
    never be served pass 1's materializations. The resets run before the
    pass timer starts: their cost is billed neither to the pass nor to
    any entry."""
    fake = _FakeBench(monkeypatch, {"a": [1.0, 2.0], "b": [3.0, 4.0]})
    ledger = fake.time_passes()
    assert fake.log == [
        "reset_stream_pool", "reset_memos", "run:a", "run:b",
        "reset_stream_pool", "reset_memos", "run:a", "run:b",
    ]
    assert ledger.passes == [4.0, 6.0]
    assert ledger.times == {"a": 1.0, "b": 3.0}


def test_bench_second_pass_only_when_it_fits_the_budget(monkeypatch):
    """The second pass runs only if one more pass of the first's length
    fits in the budget (elapsed time, resets included)."""
    # pass 1: 200 s of resets + 4 s of entries; one more pass ends at 208 s
    fake = _FakeBench(monkeypatch, {"a": [1.0, 1.0], "b": [3.0, 3.0]})
    assert len(fake.time_passes(budget_s=208.0).passes) == 2
    fake = _FakeBench(monkeypatch, {"a": [1.0, 1.0], "b": [3.0, 3.0]})
    assert len(fake.time_passes(budget_s=207.9).passes) == 1
