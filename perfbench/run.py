"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 7 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last stdout line
holds the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics. Everything the run writes lives in one temp dir under
the checkout, removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # the engine's 16g default does not fit beside other jobs in 15 GB


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure(tmp: str) -> dict[str, str]:
    """Environment for the engine and its JVM/Python children: the host's
    real core count, a driver heap that fits, the checkout on the Python
    workers' import path, and every scratch location inside ``tmp``."""
    for sub in ("py", "jvm", "spark-local"):
        os.makedirs(os.path.join(tmp, sub))
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(tmp, "py"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    tempfile.tempdir = settings["TMPDIR"]
    return settings


#: An op during which the hypervisor took more than this share of the
#: run's CPUs was slowed by the host, not the program; the traced run
#: counts such ops in ``host.contended_ops``.
CONTENDED_SHARE = 0.05


@dataclasses.dataclass
class Op:
    seconds: float
    steal_share: float  # stolen CPU time over (latency x CPUs)
    ok: bool
    rec: dict | None  # the layer record of a traced op


def run_op(wl, spark, tracer, i: int, record: bool) -> Op:
    """Run, time and check op ``i``. An op that raises or fails its output
    check is a failed op; the run goes on."""
    prepared = wl.prepare(i)
    tracer.begin_op(spark, i, record)
    steal0 = spans.steal_s()
    t0 = time.perf_counter()
    try:
        result, error = wl.op(prepared), None
    except Exception:
        result, error = None, traceback.format_exc()
    op_s = time.perf_counter() - t0
    steal = spans.steal_s() - steal0
    rec = tracer.end_op(spark, op_s, wl.other_span)
    op = Op(op_s, steal / (op_s * len(os.sched_getaffinity(0))), error is None,
            rec if error is None else None)
    if error is not None:
        log(f"op {i} raised:\n{error}")
        return op
    log(f"op {i}: {op_s:.3f} s, host steal {steal:.2f} CPU-s")
    try:
        wl.check(prepared, result)
    except Exception:
        log(f"op {i} failed its check:\n{traceback.format_exc()}")
        op.ok = False
        return op
    if op.rec is not None:
        wl.annotate(prepared, op.rec)
    return op


def layer_metrics(spec: list[dict], recs: list[dict], extra: dict[str, float]) -> dict:
    """Every per-layer metric: per-op means over the recorded ops, plus the
    run-level values in ``extra``. A layer the workload never calls reads 0."""
    out = {}
    for m in spec:
        name = m["name"]
        if name in extra:
            value = extra[name]
        else:
            value = statistics.fmean(r.get(name, 0.0) for r in recs) if recs else 0.0
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "currency_etl_spark")):
        log(f"no currency_etl_spark package under {ROOT}: run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    spark = None
    try:
        log(f"settings {json.dumps(configure(tmp))}")
        from currency_etl_spark.session import get_spark

        tracer = spans.Tracer(enabled=bool(args.trace))
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, tmp, args.seed)
        log(f"session up at {time.perf_counter() - T_START:.3f} s")
        wl.setup(tracer)
        log(f"inputs loaded at {time.perf_counter() - T_START:.3f} s")
        setup_spans = tracer.self_times()
        tracer.install()

        passed = True
        for i in range(wl.warmup_ops):
            passed &= run_op(wl, spark, tracer, i, record=False).ok

        # A fixed count of measured ops, so both sides of an A/B do the same
        # work; at today's speed it fills about --seconds. The traced run
        # alternates traced and untraced ops, which measures the tracing
        # overhead inside one process.
        n_ops = max(2, math.ceil(args.seconds / wl.nominal_op_s))
        calib = [spans.calib_s()]
        steal0, gc0 = spans.steal_s(), spans.jvm_gc_s(spark)
        t_first = time.perf_counter()
        ops = [run_op(wl, spark, tracer, wl.warmup_ops + k, bool(args.trace) and k % 2 == 0)
               for k in range(n_ops)]
        failed = sum(not o.ok for o in ops)
        noise = {
            "spark.gc_s": spans.jvm_gc_s(spark) - gc0,
            "host.steal_s": spans.steal_s() - steal0,
            "host.calib_s": statistics.fmean(calib + [spans.calib_s()]),
            "host.nproc": len(os.sched_getaffinity(0)),
            "host.loadavg_1m": os.getloadavg()[0],
            "host.contended_ops": sum(o.steal_share > CONTENDED_SHARE for o in ops),
        }
        log(f"host noise {json.dumps(noise)}")

        if args.trace:
            recs = [o.rec for o in ops if o.rec is not None]
            plain = [o.seconds for o in ops if o.rec is None and o.ok]
            extra = {**noise, **setup_spans}
            extra["trace.op_p50_s"] = statistics.median(r["op_s"] for r in recs) if recs else 0.0
            extra["trace.untraced_op_p50_s"] = statistics.median(plain) if plain else 0.0
            metrics = layer_metrics(spec["per_layer"], recs, extra)
        else:
            metrics = {
                "setup_s": {"value": t_first - T_START, "unit": "s"},
                "op_p50_s": {"value": statistics.median(o.seconds for o in ops), "unit": "s"},
                "wall_s": {"value": sum(o.seconds for o in ops), "unit": "s"},
            }
        result = {"correct": passed and failed == 0, "attempted": len(ops),
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            t_stop = time.perf_counter()
            stop(spark)
            log(f"Spark stopped in {time.perf_counter() - t_stop:.3f} s")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still owns a sibling dir
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
