"""Tracing from outside the program: spans around calls into the engine's
public functions, Spark job/stage/task counts per op, memo-ledger reads,
and host-noise probes. Spans are kept in memory for the run."""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time

#: (module, attribute, span name). run_pipeline and build_training_corpus
#: call these through their own module namespaces, so that is where the
#: wrapper goes.
PATCHES = (
    ("currency_etl_spark.pipeline", "read_nbu_json", "sources.read_nbu_json"),
    ("currency_etl_spark.pipeline", "transform_rates", "transforms.transform_rates"),
    ("currency_etl_spark.pipeline", "run_queries", "currency_queries.run_queries"),
    ("currency_etl_spark.pipeline", "write_reports", "reports.write_reports"),
    ("currency_etl_spark.pipeline", "forecast_rates", "forecast.forecast_rates"),
    ("currency_etl_spark.corpus_pipeline", "dedup_clusters", "llm_ops.dedup_clusters"),
)


def parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the parquet data files under
    ``path``; checksum and marker files are left out."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the parquet files in ``after`` that are new or changed
    since ``before``: what one write added to the table."""
    return sum(st[0] for rel, st in after.items() if before.get(rel) != st)


class Tracer:
    """Records spans and per-op counts while ``recording`` is true. With
    ``enabled`` false it never patches anything and every span is a no-op,
    which is how the end-to-end runs go."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.recording = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._group = None

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.recording):
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name (as ``<name>_s``), the summed duration minus the
        part of it that child spans cover."""
        out: dict[str, float] = {}
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for i, s in enumerate(self.spans):
            key = s["name"] + "_s"
            out[key] = out.get(key, 0.0) + s["end"] - s["start"] - child.get(i, 0.0)
        return out

    def top_level_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    # -- wrappers -------------------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for module, attr, name in PATCHES:
            mod = importlib.import_module(module)
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        from currency_etl_spark.warehouse import ParquetUpsertTable

        merge = ParquetUpsertTable.merge_upsert

        @functools.wraps(merge)
        def merge_upsert(table, *args, **kwargs):
            if not self.recording:
                return merge(table, *args, **kwargs)
            before = parquet_files(table.path)
            with self.span("warehouse.merge_upsert"):
                out = merge(table, *args, **kwargs)
            self.count("warehouse.bytes_written",
                       bytes_written(before, parquet_files(table.path)))
            return out

        ParquetUpsertTable.merge_upsert = merge_upsert

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    # -- per op ---------------------------------------------------------------
    def begin_op(self, spark, i: int, record: bool) -> None:
        self.recording = self.enabled and record
        self.spans, self.counters = [], {}
        if self.recording:
            self._group = f"perfbench-op-{i}"
            spark.sparkContext.setJobGroup(self._group, self._group)

    def end_op(self, spark, op_s: float, other_name: str) -> dict | None:
        """The op's layer record, or None for an op that was not recorded."""
        if not self.recording:
            return None
        from currency_etl_spark.operators.ckpt import drain_memo_touches

        rec = dict(self.self_times())
        rec[other_name] = op_s - self.top_level_s()
        rec["op_s"] = op_s
        rec.update(self.counters)
        rec.update(job_counts(spark, self._group))
        touches = drain_memo_touches()
        builds = [t for t in touches if t[1]]
        rec["ckpt.memo_builds"] = len(builds)
        rec["ckpt.memo_build_s"] = sum(t[2] for t in builds)
        rec["ckpt.memo_hit_ratio"] = (len(touches) - len(builds)) / len(touches) if touches else 0.0
        return rec


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of one job group, read from
    Spark's status tracker after the listener bus has caught up. A stage
    that a later job reuses from shuffle files is skipped there and counted
    once."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages: dict[int, int] = {}
    jobs = tracker.getJobIdsForGroup(group)
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages[sid] = st.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": sum(stages.values())}


# -- host noise ---------------------------------------------------------------

def steal_s() -> float:
    """CPU time stolen from this VM by the hypervisor, all CPUs, since boot."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calib_s() -> float:
    """A fixed pure-Python loop: its time moves only with the host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0
