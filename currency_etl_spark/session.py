"""SparkSession factory tuned for this engine.

Local mode is a single JVM with N threads; on a real cluster the same
configs hold except memory/shuffle sizing scales with executors. AQE is
on so shuffle partition counts and join strategies re-plan at runtime —
the key knob for surviving a 100x scale-up without retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS``, else the number of cores
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "currency_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``default_cpus()``: ``SPARK_GRAFT_CPUS``, else the
    host's cores. Shuffle partitions track core count for local mode — the
    200 default over-parallelizes small data and under-parallelizes
    100 TB; AQE coalescing fixes the rest at runtime.
    """
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its DEFAULT (true):
        # an A/B of `false` (the conf reference's recommendation for
        # byte-sized partitions) and it regressed the CPU-dense/small-byte
        # operators 1.2-1.5x — AQE coalesced token-pair explodes and
        # collect_list stages to ONE task because their input is
        # kilobytes, serializing per-row work 32 cores should share
        # (measured: dedup_ngram_jaccard 1.4 → 2.0 s, docs_shingle_novelty
        # 1.1 → 1.35 s, in-session A/B ×3). Bytes are the wrong proxy for
        # CPU here; on a real 100 TB cluster set `false` + a tuned
        # advisory size in cluster conf where partitions are byte-bound.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A long-lived session compiles thousands of whole-stage-codegen
        # classes (one catalog sweep ≈ several hundred). The JVM default
        # 240 MB reserved code cache fills partway through, the JIT turns
        # off, and every later query runs interpreted — measured 2-20x
        # per-query slowdowns that track run POSITION, not the query.
        # A 1 GB code cache (+ flushing, the JDK default, as belt and
        # braces) keeps the JIT alive for the whole sweep.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # HotSpot never JIT-compiles a method over 8000 bytecodes
        # (-XX:DontCompileHugeMethods, on by default) — wide codegen units
        # (the 16-min signature aggregate, 8-agg decimal rollups) exceed
        # that, so their generated mega-method runs interpreted FOREVER
        # while C2 burns ~30 s of background CPU on the rest of the class,
        # taxing the queries that follow (measured: the query after the
        # MinHash verify stage ran 10x slow with the default 65535 limit).
        # Capping at the JIT threshold makes Catalyst fall back to the
        # split/interpreted path for those few operators only — measured
        # 2x on a mixed catalog sweep, and the win grows with catalog size.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ces_spark_warehouse"))
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
