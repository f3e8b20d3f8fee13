"""Sources: parquet table loaders for the synthetic corpus + NBU-shaped JSON.

Reference mapping (SURVEY.md §2.1): S2 JSON scan, S3 latest-partition
discovery via partition pruning, S4 parquet scan, S6 multi-file glob scan.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Raw NBU exchange-rate record (reference src/extract.py:13-18 payload shape).
#: Explicit schema — production paths never rely on JSON inference (SURVEY §1.3).
NBU_RAW_SCHEMA = T.StructType(
    [
        T.StructField("r030", T.LongType()),
        T.StructField("txt", T.StringType()),
        T.StructField("rate", T.DoubleType()),
        T.StructField("cc", T.StringType()),
        T.StructField("exchangedate", T.StringType()),
    ]
)


#: (applicationId, sf_dir, name) → DataFrame. A DataFrame is an immutable
#: logical plan, so handing the same handle out repeatedly is safe; caching
#: skips the per-call file listing + parquet footer schema read (a driver
#: round-trip per query that dominated bench fixed overhead at small SF).
#: INVARIANT: the corpus under sf_dir is read-only — the cache pins the
#: file listing captured at first read for the application's lifetime, so
#: rewriting a table path in-session would serve stale data. Warehouse
#: tables (which DO get rewritten) never go through this cache.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to session-zone TIMESTAMP at µs precision.

    The driver's corpus has shipped `ts` in two physical encodings across
    regenerations: TIMESTAMP(NANOS) — which Spark's reader only surfaces as
    raw int64 nanos via the legacy conf — and plain timestamp[us], which
    reads as TIMESTAMP_NTZ. Gate on the *actual* type so either encoding
    yields one stable downstream type. Session tz is UTC (session.py), so
    the NTZ→LTZ cast is value-identical to the nanos-truncation path, and
    both agree with DuckDB's µs-truncating reader for oracle comparisons.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


#: Serializes the nanosAsLong set/read/restore window below. The conf is
#: SESSION-global and the streaming pool invokes stream builders — which
#: land here on every _SCHEMA_CACHE miss — from an 8-thread fan-out
#: (streaming/jobs._start_pool_queries). Unlocked, two interleavings are
#: real (both reproduced under a thread hammer; the regression pin is
#: tests/test_sources_schema.py::test_read_events_raw_thread_safety):
#:   * thread A's finally-unset lands between B's set and B's footer
#:     read → B reads a TIMESTAMP(NANOS) footer with the conf off →
#:     AnalysisException [PARQUET_TYPE_ILLEGAL], an intermittent
#:     dual-encoding failure (the pool stores the victim builder's
#:     exception for its entry to raise);
#:   * B captures A's transient "true" as its prev and restores it →
#:     the legacy conf leaks session-wide for the process lifetime.
_NANOS_CONF_LOCK = threading.Lock()


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates both historical `ts` encodings.

    The legacy conf is only consulted while read.parquet() converts a
    TIMESTAMP(NANOS) footer schema (nanos → long) and is a no-op for any
    other encoding; lazy execution of the returned plan no longer needs it
    (verified empirically, batch + stream), so restore the session value
    instead of leaking a global. The whole window holds _NANOS_CONF_LOCK —
    see there for the two thread races this prevents.
    """
    with _NANOS_CONF_LOCK:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            return spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Columnar parquet scan: Catalyst pushes filters
    and prunes columns into this (verify with .explain → PushedFilters).

    `events.ts` is normalized through normalize_events_ts — see there for
    the dual physical-encoding story.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = normalize_events_ts(read_events_raw(spark, path))
    else:
        df = spark.read.parquet(path)
    _TABLE_CACHE[key] = df
    return df


def spread(df: DataFrame) -> DataFrame:
    """Fan out an under-split scan before CPU-heavy narrow work.

    A table that arrives in fewer input partitions than cores (locally:
    one parquet row-group) serializes every narrow stage behind one task —
    explode/md5/decode work runs on a single core no matter how wide the
    session is. Repartitioning is a cheap shuffle of the source rows that
    buys full parallelism for everything downstream. At 100 TB the scan
    already has thousands of row-group splits, the guard is false, and
    this is a no-op — exactly the behavior you want on a real cluster.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= n:
        return df.repartition(n)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view so catalog queries can be
    written in Spark SQL. Re-registration per call keeps sf_dir switchable."""
    for name in CORPUS_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_nbu_json(spark: SparkSession, path: str) -> DataFrame:
    """Read NBU-shaped raw JSON (a JSON *array* file → multiLine).

    Reference: src/transform.py:19-21 (single file) and
    src/additional/load_all.py:21-23 (glob) — one parallel Spark scan
    replaces the reference's per-file Python loop (SURVEY §2.1 S2/S6).
    """
    return spark.read.schema(NBU_RAW_SCHEMA).option("multiLine", "true").json(path)
