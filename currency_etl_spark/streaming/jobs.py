"""Structured Streaming jobs (SURVEY.md §2.10 / §7.2.8).

The reference's daily cron'd micro-batch (dags/currency_etl.py:113-121, T1)
maps to a file-source stream with Trigger.AvailableNow: each arriving raw
partition is one micro-batch, late/corrected records are last-write-wins
via the foreachBatch upsert (warehouse.merge_upsert). The graded entry here
is the windowed-aggregation twin of `events_hourly`: a tumbling 1-hour
aggregation driven end-to-end through the streaming engine into a memory
sink, which must agree exactly with the batch oracle.

At scale the same topology reads Kafka/cloud storage, keeps the window
state in the state store partitioned by (window, event_type), and emits
with a watermark instead of complete mode.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import normalize_events_ts, read_events_raw

#: State-store / shuffle partition count for the graded streaming jobs.
#: Stateful streaming creates one state store per shuffle partition per
#: micro-batch; the right number tracks stateful-key cardinality and
#: cluster size (hundreds-thousands on a real cluster — set the env var),
#: while the local harness default of 32 is pure per-query fixed cost
#: (4 ≈ 2.5k session keys/partition at sf0.1; measured within noise of 8).
STREAM_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "4"))

#: (applicationId, sf_dir) → raw events parquet schema. The batch
#: schema-conversion read is identical for all three jobs — one footer
#: read per session instead of one per graded entry. Population is
#: double-check-locked: the pool start fans builders out over threads,
#: and without the lock every builder pays its own footer read on a cold
#: cache (the nanosAsLong conf those reads flip is separately serialized
#: by sources._NANOS_CONF_LOCK).
_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_LOCK = threading.Lock()


def _landing_key(sf_dir: str) -> str:
    """Landing-dir key for a corpus dir: basename (readability) plus a
    12-hex digest of the ABSOLUTE path (basenames repeat
    across pytest tmp dirs, and a same-basename collision would swap the
    landing file under another run's live readStream; the hash makes
    landing dirs collision-free across runs)."""
    import hashlib

    ap = os.path.abspath(sf_dir.rstrip("/"))
    return (
        os.path.basename(ap) + "-" + hashlib.md5(ap.encode()).hexdigest()[:12]
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (explicit schema — streams
    never infer). events.ts is normalized to session-zone TIMESTAMP via
    sources.normalize_events_ts, same convention as sources.table, so the
    stream tolerates both historical physical encodings. The file stream
    source wants a directory; expose the single file through a stable
    symlink dir (what a landing/bronze dir is in production)."""
    path = os.path.join(sf_dir, "events.parquet")
    key = (spark.sparkContext.applicationId, sf_dir)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        with _SCHEMA_CACHE_LOCK:
            schema = _SCHEMA_CACHE.get(key)
            if schema is None:
                schema = read_events_raw(spark, path).schema
                _SCHEMA_CACHE[key] = schema
    stream_dir = os.path.join("/tmp", "ces_stream", _landing_key(sf_dir), "events")
    _ensure_landing_link(stream_dir, "events.parquet", path)
    return normalize_events_ts(spark.readStream.schema(schema).parquet(stream_dir))


#: Serializes landing-dir symlink setup across the pool's builder
#: threads: lexists-then-symlink is check-then-create, and on a FRESH
#: /tmp landing dir all 8 builders race it — unserialized, the loser
#: crashes the whole pool start with FileExistsError (the same class as
#: the nanosAsLong conf race: a thread-fan-out window that only opens on
#: a cold start).
_LANDING_LOCK = threading.Lock()


def _ensure_landing_link(stream_dir: str, basename: str, path: str) -> None:
    """Idempotent, thread-safe landing-dir setup: ``stream_dir`` exists
    and holds a symlink ``basename`` → ``path``. The collision-free
    landing key makes a differing target near-impossible;
    the retarget stays as armor for a dangling link (deleted tmp dir) or
    a regenerated corpus at the same path. The lock serializes the
    check-unlink-create window; the FileExistsError tolerance covers a
    racing process (two bench/pytest runs sharing the landing key —
    both want the identical target, so losing that race is success)."""
    with _LANDING_LOCK:
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, basename)
        if os.path.islink(link) and os.readlink(link) != path:
            try:
                os.unlink(link)
            except FileNotFoundError:
                pass  # another PROCESS retargeted the stale link first
                # (the in-process lock doesn't cover other processes —
                # mirror of the FileExistsError tolerance on creation)
        if not os.path.lexists(link):
            try:
                os.symlink(path, link)
            except FileExistsError:
                pass  # another PROCESS landed the same target first


def _start_pool_queries(spark, sf_dir) -> dict:
    """Start (without awaiting) every registered memory-sink AvailableNow
    query — the pool's ONLY starter (pooled_sink is the ONLY runner; an
    unpooled path would bypass the pool's key/reset discipline). Returns
    {entry: StreamingQuery-or-Exception}; a job whose build/start fails
    stores its exception for its own entry to raise.

    Conf discipline: the streaming engine clones the session conf at
    start() — so the narrowed shuffle partitions / no-data setting
    travel with each query and the session conf is restored after the
    loop. The conf is session-global, so it is set ONCE per nodata
    group OUTSIDE the thread fan-out (a per-thread set/restore would
    race), and each group's starts complete before the flag flips.

    Thread fan-out: build+start is
    driver-side fixed cost — checkpoint-dir setup, plan analysis,
    micro-batch scheduler spin-up — that grew superlinearly run
    serially (1.81 s at 12 streams, 2.59 s at 13). The per-job calls
    are independent py4j round-trips that release the GIL, so a small
    thread pool overlaps them; per-entry semantics are unchanged (same
    builder, same sink, same cloned conf; results are exact-arithmetic
    deterministic, so start order cannot reorder them).

    Mode notes: `complete` for windowed aggregations, `append` for
    watermark-evicted operators (dedup). No-data micro-batches are
    disabled by default for a stream's lifetime: with
    Trigger.AvailableNow every input row arrives in the data batches,
    so the trailing no-data batch only advances the watermark to evict
    state the teardown discards anyway — measured ~0.3-0.5 s of pure
    fixed cost per entry, with bit-identical emitted results (complete
    mode ignores watermark eviction; append dedup and the inner
    interval join emit on arrival/match, not on watermark). A
    CONTINUOUS deployment should leave the default on — there the
    no-data batch is what flushes final windows during input lulls.
    ``nodata=True`` keeps the trailing no-data batch: required by any
    APPEND-mode windowed aggregation (streaming_late_drop), where the
    final watermark advance IS what emits the last closed windows."""
    from concurrent.futures import ThreadPoolExecutor

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    results: dict = {}

    def _one(item):
        jname, job = item
        try:
            agg = job.builder(spark, sf_dir)
            return jname, (
                agg.writeStream.outputMode(job.mode)
                .format("memory")
                .queryName(job.sink)
                .trigger(availableNow=True)
                .start()
            )
        except Exception as ex:  # noqa: BLE001 — deferred to its own entry
            return jname, ex

    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )
        for nodata in (False, True):
            grp = [(n, j) for n, j in STREAM_JOBS.items() if j.nodata == nodata]
            if not grp:
                continue
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled",
                "true" if nodata else "false",
            )
            # the `with` block joins all starts before the flag flips.
            # 8 workers measured best: a full-width wave (13 workers)
            # contends inside the JVM's streaming-query startup path and
            # read slower AND noisier (3.4-7.4 s vs 2.4-2.6 s) in the
            # same-session A/B at sf0.1.
            with ThreadPoolExecutor(max_workers=min(8, len(grp))) as tp:
                for jname, res in tp.map(_one, grp):
                    results[jname] = res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    return results


class _StreamJob:
    """A pooled streaming job: the stream-side plan builder plus its
    sink name / output mode / no-data policy. The builder returns the
    STREAMING DataFrame only — batch post-processing stays in the
    catalog entry."""

    def __init__(self, sink, mode, nodata, builder):
        self.sink = sink
        self.mode = mode
        self.nodata = nodata
        self.builder = builder


#: Catalog-entry name → _StreamJob, populated by @_stream_job below.
STREAM_JOBS: dict = {}


def _stream_job(name: str, sink: str, mode: str = "complete", nodata: bool = False):
    def deco(fn):
        STREAM_JOBS[name] = _StreamJob(sink, mode, nodata, fn)
        return fn

    return deco


#: The single ACTIVE pool: (applicationId, sf_dir) → {entry: query}.
#: One pool at a time — a new (app, sf_dir) drains and FORGETS the old
#: one, because pools share memory-sink table names: a stale pool serving
#: spark.table(sink) after another pool re-ran the same sink would return
#: the other corpus's rows.
_POOL_KEY = None
_POOL: dict = {}

#: Entry that last STARTED the pool (paid the whole family's stream
#: startup inside its own timed region) — bench.py reports it next to the
#: memo-family attribution, for the same reason: the alphabetically-first
#: streaming entry's per-query time carries a family-wide fixed cost.
_POOL_STARTER = None

#: Wall time of the last pool start (the START loop only — each entry's
#: own awaitTermination stays in its own time), plus a not-yet-reported
#: flag: bench.py drains it to subtract the startup from the paying
#: entry's number and report it as its own line.
_POOL_START_SEC = 0.0
_POOL_START_PENDING = False


def drain_pool_start():
    """(starter_entry, start_sec) of a pool start not yet reported, else
    None. Clears the pending flag — one report per pool start."""
    global _POOL_START_PENDING
    if _POOL_START_PENDING:
        _POOL_START_PENDING = False
        return (_POOL_STARTER, _POOL_START_SEC)
    return None


def _drain_pool() -> None:
    for n, q in _POOL.items():
        if q is not None and not isinstance(q, Exception):
            try:
                q.awaitTermination()
            except Exception:
                pass
    _POOL.clear()


def reset_stream_pool() -> None:
    """Await every in-flight pooled query and forget all pooled results,
    so the next streaming-entry invocation re-runs its stream from
    scratch. bench.py calls this between timed passes: min-of-2 must
    measure the stream lifecycle each pass, never a pooled memory table
    left warm by the previous pass."""
    global _POOL_KEY
    _drain_pool()
    _POOL_KEY = None


def pooled_sink(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lifecycle-pooled streaming runner: the first
    streaming entry invoked for an (app, sf_dir) STARTS every registered
    stream job concurrently; each entry then awaits only ITS OWN query.
    The ~1-2 s/entry of checkpoint-dir + micro-batch-scheduling + state-
    store fixed cost overlaps across the family instead of being paid
    serially nine times — the multiplexed one-source/many-sinks topology
    a production deployment runs. Per-entry semantics are unchanged
    (same builder, same sink, same conf; results are exact-arithmetic
    deterministic, so concurrency cannot reorder them). A job whose
    START fails (e.g. a fixture dir without the enrich dimension) stores
    its exception and raises it only when its own entry is invoked."""
    global _POOL_KEY, _POOL_STARTER, _POOL_START_SEC, _POOL_START_PENDING
    key = (spark.sparkContext.applicationId, sf_dir)
    if _POOL_KEY != key:
        import time as _time

        _t0 = _time.perf_counter()
        _drain_pool()
        _POOL_KEY = key
        _POOL_STARTER = name
        started = _start_pool_queries(spark, sf_dir)
        for jname in STREAM_JOBS:  # registration order, independent of fan-out
            _POOL[jname] = started[jname]
        _POOL_START_SEC = round(_time.perf_counter() - _t0, 3)
        _POOL_START_PENDING = True
    q = _POOL[name]
    if isinstance(q, Exception):
        raise q
    if q is not None:
        q.awaitTermination()
        _POOL[name] = None
    return spark.table(STREAM_JOBS[name].sink)


@register(
    "streaming_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_bucket, event_type
    """,
    tags=("streaming", "window"),
    doc=(
        "Tumbling 1-hour windowed aggregation executed by the streaming "
        "engine (file source → groupBy(window) → memory sink, "
        "Trigger.AvailableNow). Epoch-aligned windows make window.start "
        "equal date_trunc('hour'), so the batch SQL is an exact oracle."
    ),
)
def streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pooled_sink(spark, sf_dir, "streaming_hourly")
        .select(F.col("win.start").alias("hour_bucket"), "event_type", "n_events", "total_value")
        .orderBy("hour_bucket", "event_type")
    )


@_stream_job("streaming_hourly", "streaming_hourly_out")
def _hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@register(
    "streaming_sliding",
    oracle="""
        -- every event belongs to two 2-hour windows sliding by 1 hour:
        -- the ones starting at trunc_hour(ts) and trunc_hour(ts) - 1h
        WITH exploded AS (
            SELECT date_trunc('hour', ts) - to_hours(off) AS win_start,
                   event_type, value
            FROM events, (SELECT unnest([0, 1]) AS off)
        )
        SELECT win_start, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM exploded
        GROUP BY win_start, event_type
        ORDER BY win_start, event_type
    """,
    tags=("streaming", "window", "sliding"),
    doc=(
        "Sliding 2-hour/1-hour windowed aggregation through the streaming "
        "engine — each event lands in two overlapping windows. Completes the "
        "window-type coverage (tumbling, session, sliding); the oracle "
        "derives each event's two containing window starts arithmetically."
    ),
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pooled_sink(spark, sf_dir, "streaming_sliding")
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
        .orderBy("win_start", "event_type")
    )


@_stream_job("streaming_sliding", "streaming_sliding_out")
def _sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return stream.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@register(
    "streaming_sessions",
    oracle="""
        WITH g AS (
            -- >= not >: session_window's windows are half-open [ts, ts+gap),
            -- so an event exactly `gap` later starts a NEW session
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                             OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM g
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM s
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    tags=("streaming", "session"),
    doc=(
        "session_window(ts, 30 min) executed by the streaming engine — the "
        "native stateful twin of the batch lag+cumsum sessionization "
        "(events_sessionize), which doubles as its oracle: gap-based session "
        "starts and event counts must agree exactly."
    ),
)
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pooled_sink(spark, sf_dir, "streaming_sessions")
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
        .orderBy("user_id", "session_start")
    )


@_stream_job("streaming_sessions", "streaming_sessions_out")
def _sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "streaming_sessions_append",
    oracle="""
        WITH g AS (
            -- >= not >: session_window's windows are half-open [ts, ts+gap),
            -- so an event exactly `gap` later starts a NEW session
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                             OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM g
        ),
        sess AS (
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        ),
        wm AS (SELECT max(epoch_us(ts)) - 3600000000 AS w FROM events)
        SELECT user_id, session_start, session_end, n_events
        FROM sess, wm
        WHERE epoch_us(session_end) <= w
        ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "watermark", "late-data"),
    doc=(
        "session_window in APPEND mode — the watermark-closure semantics "
        "of session windows, graded (the complete-mode twin "
        "streaming_sessions grades the session CONTENTS; this grades "
        "WHICH sessions a production append-mode pipeline has actually "
        "emitted when the stream's watermark stands at max event time "
        "minus the delay): a session is released only once the watermark "
        "passes its window end (last event + gap — the point after which "
        "no late event could still merge into it), so the trailing "
        "sessions of the replay are withheld in state, exactly what a "
        "downstream consumer of an append sink sees. The final no-data "
        "batch (nodata=True) advances the eviction watermark to "
        "max(ts) - 1h and flushes everything that closes by it; the "
        "oracle is the batch lag+cumsum sessionization (the "
        "events_sessionize/sessionize operator, operators/sessionize.py) "
        "with the same closure predicate session_end <= watermark — "
        "pinned row-identical to the batch twin on the emitted subset in "
        "tests/test_streaming.py. Output adds session_end (win.end = "
        "last event + gap), the eviction edge itself. Scale shape: one "
        "stateful session aggregation keyed by user_id, state bounded by "
        "the watermark horizon; the sink rollup is batch."
    ),
)
def streaming_sessions_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pooled_sink(spark, sf_dir, "streaming_sessions_append")
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@_stream_job(
    "streaming_sessions_append",
    "streaming_sessions_append_out",
    mode="append",
    nodata=True,
)
def _sessions_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "streaming_dedup",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("streaming", "dedup"),
    doc=(
        "Stateful streaming deduplication — the exactly-once-ingest "
        "primitive of a training-data pipeline: dropDuplicates on "
        "(user_id, event_type) with an event-time watermark (the state "
        "store holds one entry per key; the watermark bounds it on an "
        "unbounded stream), run through the engine in append mode. The "
        "emitted distinct-pair set is order-independent, so the batch "
        "COUNT(DISTINCT) per type is an exact oracle; the per-type rollup "
        "of the sink is plain batch. Only the key columns enter the "
        "stream's projection — the dedup state never stores payloads."
    ),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_dedup")
    return (
        sink.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


@_stream_job("streaming_dedup", "streaming_dedup_out", mode="append")
def _dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .select("ts", "user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )


def interval_join_pairs(events_a: DataFrame, events_b: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join of two event streams (raw
    events schema): purchases from `events_a` ⋈ same-user clicks from
    `events_b` in the preceding hour. Factored from the graded entry so
    tests can drive it with their own multi-file streams (cross-micro-batch
    buffering is the behavior worth testing beyond the batch oracle)."""
    purchases = (
        events_a.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        events_b.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


@register(
    "streaming_interval_join",
    oracle="""
        SELECT p.user_id,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        ORDER BY p.user_id, purchase_id, click_id
    """,
    tags=("streaming", "join", "interval"),
    doc=(
        "Stream-stream time-interval join — the last major stateful "
        "streaming shape (after tumbling/sliding/session aggregation and "
        "watermarked dedup): purchases joined to the same user's clicks "
        "from the preceding hour, with BOTH sides watermarked (2 h) so the "
        "join-state buffers are bounded — the time-range predicate gives "
        "the engine the eviction bound that makes this run forever on an "
        "unbounded stream. Append mode emits exactly the closed pairs; the "
        "batch self-join is an exact oracle. The streaming twin of the "
        "batch bounded as-of join (asof_click_within_1h), keyed the same "
        "way (equi-join on user_id + range on event time). Cross-micro-"
        "batch buffering is unit-tested (tests/test_streaming.py)."
    ),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pooled_sink(spark, sf_dir, "streaming_interval_join")


@_stream_job("streaming_interval_join", "streaming_interval_join_out", mode="append")
def _interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interval_join_pairs(
        _events_stream(spark, sf_dir), _events_stream(spark, sf_dir)
    )


#: Contract of the running-totals stateful operator — shared with its
#: cross-micro-batch test so the test can never drift from the graded
#: entry (value quantization scale, output and state shapes).
RUNNING_TOTALS_SCALE = 10000
RUNNING_TOTALS_OUT_SCHEMA = "user_id long, n_events long, total_q long"
RUNNING_TOTALS_STATE_SCHEMA = "n long, sq long"


def quantize_event_values(df: DataFrame) -> DataFrame:
    """(user_id, vq): value quantized to exact int64 DECIMAL(18,4)
    ten-thousandths, JVM-side — the stateful fold then does only integer
    arithmetic."""
    return df.select(
        "user_id",
        (F.col("value").cast("decimal(18,4)") * RUNNING_TOTALS_SCALE)
        .cast("long")
        .alias("vq"),
    )


def _running_totals_fn(key, pdf_iter, state):
    """Per-user running-total state machine for applyInPandasWithState:
    state = (n_events, total_q) as int64; each micro-batch folds its rows
    in and emits one updated row. `value` arrives pre-quantized to int64
    ten-thousandths (exact DECIMAL(18,4) arithmetic done JVM-side), so the
    pandas sum is exact integer math — no float-order dependence. The
    float-summing teaching twin is streaming/ingest.user_running_totals
    (approx-tested); this variant exists to be HASH-gradable."""
    import pandas as pd

    n, sq = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        sq += int(pdf["vq"].sum())
    state.update((n, sq))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_q": [sq]})


@register(
    "streaming_running_totals",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE)
                   / 10000 AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("streaming", "stateful", "custom"),
    doc=(
        "Custom stateful streaming operator via applyInPandasWithState — "
        "the escape hatch for semantics the built-in stateful operators "
        "can't express (here: a per-user running (count, sum) accumulator "
        "emitting its state every micro-batch, the skeleton of per-entity "
        "counters/rate limiters/feature freshness trackers). State is two "
        "int64s per user in the state store, partitioned by user_id; "
        "value is quantized to exact DECIMAL ten-thousandths JVM-side so "
        "the Arrow-batched pandas fold is exact integer arithmetic. In "
        "update mode each user re-emits per batch; the batch rollup keeps "
        "the final emission per user (max_by on the monotone event count), "
        "which must equal the plain batch GROUP BY — the oracle. At scale "
        "state size tracks distinct users, not events, and a production "
        "deployment adds a processing-time timeout to age out idle keys."
    ),
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_running_totals")
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_q", "n_events").alias("total_q"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("total_q").cast("double") / RUNNING_TOTALS_SCALE).alias("total_value"),
        )
        .orderBy("user_id")
    )


@_stream_job("streaming_running_totals", "streaming_running_totals_out", mode="update")
def _running_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = quantize_event_values(_events_stream(spark, sf_dir))
    return stream.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_OUT_SCHEMA,
        stateStructType=RUNNING_TOTALS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _scd2_fn(key, pdf_iter, state):
    """Per-user SCD2 change detector for applyInPandasWithState: state is
    (current_type, current_valid_from_us, version); each micro-batch is
    sorted by (ts, event_id) — the stream is an append-ordered log ACROSS
    batches (the standard CDC ingestion contract), and the sort makes
    within-batch arrival order irrelevant — and every type CHANGE emits
    one immutable version row. Timestamps travel as int64 micros so the
    state never holds engine-specific time types."""
    import pandas as pd

    if state.exists:
        cur_type, _cur_from, version = state.get
    else:
        cur_type, _cur_from, version = None, 0, 0
    frames = [pdf for pdf in pdf_iter]
    rows = pd.concat(frames).sort_values(["ts_us", "event_id"])
    out_type, out_from, out_ver = [], [], []
    for t_us, et in zip(rows["ts_us"], rows["event_type"]):
        if cur_type is None or et != cur_type:
            version += 1
            cur_type = et
            _cur_from = int(t_us)
            out_type.append(et)
            out_from.append(int(t_us))
            out_ver.append(version)
    state.update((cur_type, _cur_from, version))
    if out_ver:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_ver),
                "event_type": out_type,
                "valid_from_us": out_from,
                "version": out_ver,
            }
        )


@register(
    "streaming_scd2",
    oracle=None,  # bound below to the batch history oracle — exact twin
    tags=("streaming", "stateful", "scd2", "custom"),
    doc=(
        "Streaming SCD2 — CDC interval-building as a custom stateful "
        "operator: applyInPandasWithState tracks each user's current "
        "type/version in the state store and emits one immutable row per "
        "change; the batch rollup closes intervals (lead over the emitted "
        "versions) exactly like the batch events_scd2_history, whose "
        "oracle grades this entry verbatim. The contract is an append-"
        "ordered log per key across micro-batches (standard CDC); within "
        "a batch arrival order is irrelevant (sorted in the fold). State "
        "is one (type, from, version) triple per user — O(entities), not "
        "O(events) — so dimension history maintains itself incrementally "
        "at 100 TB instead of being rebuilt by nightly backfills."
    ),
)
def streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    sink = pooled_sink(spark, sf_dir, "streaming_scd2")
    # close the intervals: version order IS (ts, event_id) order by
    # construction, so lead over version reproduces the batch history
    w = W.partitionBy("user_id").orderBy("version")
    return (
        sink.select(
            "user_id",
            "event_type",
            F.timestamp_micros("valid_from_us").alias("valid_from"),
            "version",
        )
        .select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(w).alias("valid_to"),
            "version",
            F.lead("valid_from").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@_stream_job("streaming_scd2", "streaming_scd2_out", mode="update")
def _scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        _scd2_fn,
        outputStructType="user_id long, event_type string, valid_from_us long, version long",
        stateStructType="cur_type string, cur_from long, version long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


from currency_etl_spark.catalog import CATALOG as _CATALOG  # noqa: E402
# imported for its registration side effect: Python workers re-import this
# module to unpickle _scd2_fn, and the binding below must resolve there
# too, regardless of module import order
from currency_etl_spark.queries import extras as _extras  # noqa: E402, F401

_CATALOG["streaming_scd2"].oracle = _CATALOG["events_scd2_history"].oracle


@register(
    "streaming_enrich",
    oracle="""
        SELECT c.c_mktsegment AS segment, e.event_type,
               count(*) AS n_events,
               CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1, 2
        ORDER BY segment, event_type
    """,
    tags=("streaming", "join", "enrichment"),
    doc=(
        "Stream-static enrichment join: the event stream joined against "
        "the static customer dimension (user_id = c_custkey) inside the "
        "streaming query, then aggregated per (market segment, event "
        "type). This is the standard real-time enrichment topology — the "
        "static side is re-planned per micro-batch, broadcast to the "
        "stream's tasks, and needs NO watermark or state (unlike "
        "stream-stream joins); only the post-join aggregation is "
        "stateful. At 100 TB the dimension is a broadcast (or bucketed) "
        "lookup table refreshed between micro-batches, and the identical "
        "batch SQL is the exactness oracle."
    ),
)
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pooled_sink(spark, sf_dir, "streaming_enrich")
        .select("segment", "event_type", "n_events", "total_value")
        .orderBy("segment", "event_type")
    )


@_stream_job("streaming_enrich", "streaming_enrich_out")
def _enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.sources import table

    stream = _events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    return enriched.groupBy("segment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


#: Watermark delay for the late-data accounting entry (microseconds twin
#: lives in the oracle as 1800000000).
LATE_DELAY = "30 minutes"

#: Deterministic late-arrival rule: every 7th event replays late.
LATE_MOD = 7


def _staged_late_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as a 3-file landing sequence for the
    late-data entry: two on-time files split at the exact epoch midpoint
    (integer arithmetic, mirrored by the oracle), then the late replay
    file (event_id % LATE_MOD == 0). File mtimes are pinned so the file
    stream source's modification-time ordering is deterministic. Built
    once per corpus VERSION: the marker records the source path plus the
    events file's (mtime_ns, size) fingerprint, so a driver-side corpus
    regeneration under the same path (the landing dir under /tmp
    outlives the corpus it was staged from) forces a rebuild instead of
    silently streaming the previous corpus's data."""
    import hashlib

    src = os.path.join(sf_dir, "events.parquet")
    st_src = os.stat(src)
    fingerprint = f"{sf_dir}|{st_src.st_mtime_ns}|{st_src.st_size}"
    stage = os.path.join(
        "/tmp", "ces_stream_late", hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    marker = os.path.join(stage, "_SOURCE")
    if os.path.isfile(marker) and open(marker).read() == fingerprint:
        return stage
    os.makedirs(stage, exist_ok=True)
    from currency_etl_spark.sources import table

    pdf = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "event_type")
        .toPandas()
    )
    ts = pdf["ts"]
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    pdf["ts"] = ts.astype("datetime64[us]")
    us = pdf["ts"].astype("int64")
    late = (pdf["event_id"] % LATE_MOD) == 0
    ontime = pdf[~late]
    mid = (us[~late].min() + us[~late].max()) // 2
    files = [
        ontime[us[~late] <= mid],
        ontime[us[~late] > mid],
        pdf[late],
    ]
    for i, part in enumerate(files):
        path = os.path.join(stage, f"{i:02d}.parquet")
        part.reset_index(drop=True).to_parquet(path)
        os.utime(path, (1700000000 + i * 100, 1700000000 + i * 100))
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return stage


@register(
    "streaming_late_drop",
    oracle=f"""
        -- mirrors Spark's two-watermark semantics (empirically decoded,
        -- see tests/test_streaming_late.py): the late filter in batch N
        -- uses the watermark REPORTED at batch N-1 (max event time through
        -- batch N-2 minus delay), eviction uses the current one, and a row
        -- merges before its window evicts. With the 3-file staging
        -- [on-time<=mid, on-time>mid, late]:
        --   * late rows (batch 2) filter against max(file A) - 30min;
        --   * emitted windows are those closing by max(on-time) - 30min
        --     (the final no-data batch's eviction watermark).
        WITH ontime AS (
            SELECT ts, event_type FROM events
            WHERE ts IS NOT NULL AND event_id % {LATE_MOD} <> 0
        ),
        late AS (
            SELECT ts, event_type FROM events
            WHERE ts IS NOT NULL AND event_id % {LATE_MOD} = 0
        ),
        bounds AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM ontime),
        amax AS (
            SELECT max(epoch_us(ts)) AS m FROM ontime, bounds
            WHERE epoch_us(ts) <= (lo + hi) // 2
        ),
        allmax AS (SELECT max(epoch_us(ts)) AS m FROM ontime),
        kept AS (
            SELECT ts, event_type FROM ontime
            UNION ALL
            SELECT l.ts, l.event_type FROM late l, amax
            WHERE epoch_us(date_trunc('hour', l.ts)) + 3600000000 > amax.m - 1800000000
        )
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events
        FROM kept, allmax
        WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= allmax.m - 1800000000
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("streaming", "window", "watermark", "late-data"),
    doc=(
        "Late-data accounting — the watermark POLICY itself, graded: an "
        "append-mode tumbling aggregation over a 3-file replay (on-time "
        "first half, on-time second half, then a deterministic late "
        "batch) where some late rows are genuinely DROPPED by the "
        "watermark and the final windows flush on the trailing no-data "
        "batch. The oracle reproduces Spark's exact two-watermark "
        "semantics (late filter lags eviction by one batch; merge "
        "precedes evict) from the raw table — so the grade pins which "
        "rows a production pipeline silently loses at a given delay, not "
        "just the happy path. Complements streaming_hourly (complete "
        "mode, nothing dropped) and streaming_dedup (append, key "
        "eviction)."
    ),
)
def streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_late_drop")
    return sink.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    ).orderBy("window_start", "event_type")


@_stream_job("streaming_late_drop", "streaming_late_drop_out", mode="append", nodata=True)
def _late_drop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _staged_late_dir(spark, sf_dir)
    st = (
        spark.readStream.schema("event_id bigint, ts timestamp_ntz, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    )
    return (
        st.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (explicit schema from
    one cached footer read) — the 'new ingest' side of the streaming
    dedup screen. Same stable-symlink landing-dir convention as
    _events_stream."""
    path = os.path.join(sf_dir, "documents.parquet")
    key = (spark.sparkContext.applicationId, sf_dir, "documents")
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    stream_dir = os.path.join("/tmp", "ces_stream", _landing_key(sf_dir), "documents")
    _ensure_landing_link(stream_dir, "documents.parquet", path)
    return spark.readStream.schema(schema).parquet(stream_dir)


@register(
    "streaming_dedup_screen",
    oracle=None,  # composed below from the MinHash family's SQL fragments
    tags=("streaming", "dedup", "incremental", "llm"),
    doc=(
        "Streaming twin of dedup_incremental — the continuously-ingesting "
        "form of the LSH screen: the NEW slice (doc_id % 10 = 7) arrives "
        "as a document stream; each micro-batch is screened against the "
        "STORED corpus index (the memoized MinHash signature/band "
        "relations of the old slice — exactly the persistent LSH index a "
        "production pipeline keeps) via two stateless stream-static "
        "joins: md5 digest against the old digest set (exact layer) and "
        "per-row MinHash band keys against the old band index (near "
        "layer). MinHash on the stream side is computed PER ROW "
        "(array_min over the transformed distinct-shingle hashes — min "
        "is duplicate-insensitive, so it is bit-identical to the batch "
        "explode + groupBy-min) because a stateless screen cannot "
        "aggregate. The sink holds (doc_id, exact_hit, candidate) match "
        "rows; the per-doc rollup and triage verdict are batch "
        "post-processing. Scale shape: state-free stream (no watermark, "
        "no state store — the only state is the broadcast/static index), "
        "batch×corpus candidate work bounded by the index's DF_CAP hub "
        "cap, new×new pairs never generated."
    ),
)
def streaming_dedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_dedup_screen")
    agg = sink.groupBy("doc_id").agg(
        F.coalesce(F.max("exact_hit"), F.lit(False)).alias("exact_dup"),
        F.countDistinct("dup_of").cast("long").alias("n_candidates"),
    )
    return agg.select(
        "doc_id",
        "exact_dup",
        "n_candidates",
        F.when(F.col("exact_dup"), "exact")
        .when(F.col("n_candidates") > 0, "near_candidate")
        .otherwise("unique")
        .alias("verdict"),
    ).orderBy("doc_id")


@_stream_job("streaming_dedup_screen", "streaming_dedup_screen_out", mode="append")
def _dedup_screen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.llm_ops import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_BANDS,
        MINHASH_P,
        _bands,
        _cap_groups,
        _shingles,
        _sig_base,
        _with_tokens,
    )
    from currency_etl_spark.sources import table

    new = _documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    # per-row MinHash signature: x = 28-bit md5 prefix of each distinct
    # shingle, h_i = min over the row's shingle array — bit-identical to
    # the batch _signatures (min ignores duplicates), no aggregation
    xs = F.transform(
        F.array_distinct(_shingles(F.col("t"))),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )
    hs = [
        F.array_min(
            F.transform(F.col("xs"), lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P)
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    sig = (
        _with_tokens(new, "text")
        .select("doc_id", F.md5("text").alias("dig"), xs.alias("xs"))
        .select("doc_id", "dig", *hs)
    )
    # the STORED index: old-slice digests + df-capped old-slice band keys
    # (cap over the corpus side only — the index drops hub buckets at
    # build time; an arriving doc's own bands are never capped)
    docs = table(spark, sf_dir, "documents")
    old_digs = (
        docs.filter(F.col("doc_id") % 10 != 7)
        .select(F.md5("text").alias("dig"))
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    old_bands = _cap_groups(
        _bands(_sig_base(spark, sf_dir)).filter(F.col("doc_id") % 10 != 7),
        ["band_idx", "band_key"],
    ).select("band_idx", "band_key", F.col("doc_id").alias("dup_of"))
    band_keys = F.array(
        *[
            F.concat_ws("-", *[f"h{band * 4 + j}" for j in range(4)])
            for band in range(MINHASH_BANDS)
        ]
    )
    per_doc = sig.join(old_digs, "dig", "left")
    banded = per_doc.select(
        "doc_id", "exact_hit", F.posexplode(band_keys).alias("band_idx", "band_key")
    )
    return banded.join(old_bands, ["band_idx", "band_key"], "left").select(
        "doc_id", "exact_hit", "dup_of"
    )


def _screen_oracle() -> str:
    from currency_etl_spark.queries.llm_ops import (
        DF_CAP,
        MINHASH_BANDS,
        _SQL_SHINGLES,
        _band_key_sql,
        _minhash_sig_sql,
    )

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig"
        for band in range(MINHASH_BANDS)
    )
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))), 1, 7)) AS BIGINT) AS x
            FROM toks
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM sh GROUP BY doc_id
        ),
        bands AS ({bands_union}),
        old_capped AS (
            SELECT * FROM bands WHERE doc_id % 10 <> 7
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        cand AS (
            SELECT n.doc_id, count(DISTINCT o.doc_id) AS n_candidates
            FROM (SELECT * FROM bands WHERE doc_id % 10 = 7) n
            JOIN old_capped o
              ON n.band_idx = o.band_idx AND n.band_key = o.band_key
            GROUP BY n.doc_id
        ),
        dig AS (SELECT doc_id, md5(text) AS dg FROM documents),
        exact AS (
            SELECT d.doc_id, TRUE AS hit FROM dig d
            WHERE d.doc_id % 10 = 7
              AND d.dg IN (SELECT dg FROM dig WHERE doc_id % 10 <> 7)
        )
        SELECT d.doc_id,
               coalesce(e.hit, FALSE) AS exact_dup,
               CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
               CASE WHEN coalesce(e.hit, FALSE) THEN 'exact'
                    WHEN coalesce(c.n_candidates, 0) > 0 THEN 'near_candidate'
                    ELSE 'unique' END AS verdict
        FROM documents d
        LEFT JOIN exact e ON e.doc_id = d.doc_id
        LEFT JOIN cand c ON c.doc_id = d.doc_id
        WHERE d.doc_id % 10 = 7
        ORDER BY d.doc_id
    """


from currency_etl_spark.catalog import CATALOG as _CATALOG  # noqa: E402

_CATALOG["streaming_dedup_screen"].oracle = _screen_oracle()


@register(
    "streaming_text_oov",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tok AS (
            SELECT doc_id, unnest(t) AS term FROM toks WHERE doc_id % 10 = 7
        ),
        svocab AS (
            SELECT DISTINCT term
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            WHERE doc_id % 10 <> 7
        ),
        o AS (
            SELECT k.doc_id, k.term, (s.term IS NULL) AS oov
            FROM tok k LEFT JOIN svocab s ON s.term = k.term
        )
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_batch_docs,
               CAST(count(DISTINCT term) AS BIGINT) AS batch_vocab,
               CAST(count(*) AS BIGINT) AS batch_tokens,
               CAST(count(DISTINCT CASE WHEN oov THEN term END) AS BIGINT)
                   AS oov_terms,
               CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
                   AS oov_tokens,
               round(sum(CASE WHEN oov THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS oov_token_share
        FROM o
    """,
    tags=("streaming", "text", "search", "eval", "incremental", "llm"),
    doc=(
        "Streaming twin of text_index_staleness's OOV layer — the "
        "continuously-ingesting form of the text-drift monitor, "
        "completing the batch/stream drift square the vector side "
        "already has (embeddings_drift_psi : streaming_drift_psi :: "
        "text_index_staleness : this): arriving documents (doc_id % 10 "
        "= 7 as a document stream) tokenize per row, explode to "
        "(doc_id, term) token occurrences, and each token checks "
        "membership against the STORED vocabulary via a stateless "
        "stream-static LEFT join (the static side derives from the "
        "memoized text_tf checkpoint pruned to pre-batch docs — the "
        "persisted index, never rebuilt per micro-batch; term-keyed "
        "join, the shape that scales to a millions-term vocab where an "
        "in-row broadcast array lookup cannot). The sink holds "
        "token-level (doc_id, term, oov) rows — the dedup-screen "
        "convention — and the audit rollup (batch docs/vocab/tokens, "
        "OOV terms and token mass, the OOV share rounded to 6 decimals "
        "that is the "
        "staleness audit's first rebuild trigger) is batch "
        "post-processing, pinned bit-identical to text_index_staleness "
        "on the shared columns by a cross-entry test. Scale shape: "
        "state-free stream (no watermark, no state store — the only "
        "state is the static vocabulary), per-batch work linear in the "
        "arriving tokens."
    ),
)
def streaming_text_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_text_oov")
    agg = sink.agg(
        F.countDistinct("doc_id").cast("long").alias("n_batch_docs"),
        F.countDistinct("term").cast("long").alias("batch_vocab"),
        F.count(F.lit(1)).cast("long").alias("batch_tokens"),
        F.countDistinct(F.when(F.col("oov"), F.col("term")))
        .cast("long")
        .alias("oov_terms"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
    )
    return agg.select(
        "n_batch_docs",
        "batch_vocab",
        "batch_tokens",
        "oov_terms",
        "oov_tokens",
        F.round(
            F.col("oov_tokens").cast("double") / F.col("batch_tokens"), 6
        ).alias("oov_token_share"),
    )


@_stream_job("streaming_text_oov", "streaming_text_oov_out", mode="append")
def _text_oov_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.llm_ops import _text_tf_base, _with_tokens

    new = _documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    tok = _with_tokens(new, "text").select(
        "doc_id", F.explode("t").alias("term")
    )
    svocab = (
        _text_tf_base(spark, sf_dir)
        .filter(F.col("doc_id") % 10 != 7)
        .select("term")
        .distinct()
        .withColumn("known", F.lit(True))
    )
    return tok.join(svocab, "term", "left").select(
        "doc_id", "term", F.col("known").isNull().alias("oov")
    )


from currency_etl_spark.queries.training import (  # noqa: E402
    BPE_MERGES,
    BPE_TOP_TOKENS,
    _bpe_stream_census_oracle,
)


@register(
    "streaming_bpe_encode",
    oracle=_bpe_stream_census_oracle(BPE_MERGES, BPE_TOP_TOKENS),
    tags=("streaming", "text", "tokenizer", "incremental", "llm"),
    doc=(
        "Tokenize-on-ingest — the streaming twin of docs_bpe_encode, "
        "completing the batch/stream square for the tokenizer family "
        "the way streaming_text_oov completed text drift's: the merge "
        "table is TRAINED ONCE on the stored pre-batch corpus slice "
        "(doc_id % 10 <> 7 — the persisted tokenizer artifact, built at "
        "pool start; its per-step argmax collects are the enumerated "
        "_bpe_train sites, chained under the stream's own checkpoint "
        "tag so a concurrent batch training can never release its "
        "blocks), and arriving documents encode PER ROW: whitespace "
        "words boundary-encode and the k learned merges apply as "
        "literal replaces — a stateless narrow map, so out-of-"
        "vocabulary words encode fine (they simply never merge), no "
        "watermark, no state store, the only state is the k-row merge "
        "table baked into the plan. The sink holds occurrence-level "
        "token rows of the arriving slice (the streaming_text_oov "
        "convention) and the graded rollup is the batch-side census: "
        f"top-{BPE_TOP_TOKENS} post-encoding tokens by occurrence "
        "count with exact counts, token length, and batch-share. The "
        "oracle re-derives the stored-corpus training chain AND the "
        "batch's from-scratch encoding declaratively. Scale shape: the "
        "merge table is k tiny literals (the artifact a production "
        "tokenizer ships to every ingest worker); per-row encode cost "
        "is O(word length x k); the census is one token-keyed "
        "map-side-combinable count and a TakeOrderedAndProject head."
    ),
)
def streaming_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_bpe_encode")
    from pyspark.sql import Window as W

    toks = sink.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    tot = toks.agg(F.sum("n_occurrences").cast("long").alias("total"))
    top = toks.orderBy(F.desc("n_occurrences"), "token").limit(BPE_TOP_TOKENS)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number()
            .over(W.orderBy(F.desc("n_occurrences"), "token"))
            .cast("long")
            .alias("rank"),
            "token",
            "n_occurrences",
            F.length("token").cast("long").alias("token_len"),
            F.round(
                F.col("n_occurrences").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
        .orderBy("rank")
    )


@_stream_job("streaming_bpe_encode", "streaming_bpe_encode_out", mode="append")
def _bpe_encode_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.training import (
        _bpe_enc0,
        _bpe_train,
        _bpe_words,
    )

    merges, _ = _bpe_train(
        spark,
        sf_dir,
        BPE_MERGES,
        "bpe_enc_stream",
        words=_bpe_words(spark, sf_dir, F.col("doc_id") % 10 != 7),
        corpus_key="stored_slice_mod10ne7",
    )
    new = _documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    words = new.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    enc = _bpe_enc0(F.col("w"))
    for _step, tl, tr, _m, _c in merges:
        enc = F.replace(enc, F.lit(f"|{tl}|{tr}"), F.lit(f"|{tl}{tr}"))
    return (
        words.select(F.explode(F.split(enc, r"\|")).alias("token"))
        .filter(F.length("token") > 0)
    )


def _embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings table — the 'new vectors'
    side of the streaming ANN screen. Same stable-symlink landing-dir
    convention as _documents_stream."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    key = (spark.sparkContext.applicationId, sf_dir, "embeddings")
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    stream_dir = os.path.join("/tmp", "ces_stream", _landing_key(sf_dir), "embeddings")
    _ensure_landing_link(stream_dir, "embeddings.parquet", path)
    return spark.readStream.schema(schema).parquet(stream_dir)


@register(
    "streaming_knn_screen",
    oracle=None,  # assigned below: graded verbatim against the batch twin's oracle
    tags=("streaming", "vector", "ann", "incremental"),
    doc=(
        "Streaming twin of knn_incremental — the continuously-ingesting "
        "form of the ANN screen, completing the batch/stream × text/"
        "vector screen square (dedup_incremental : streaming_dedup_screen "
        ":: knn_incremental : this). The NEW slice (vec_id % 10 = 7) "
        "arrives as an embedding stream; each micro-batch quantizes "
        "per row, picks its nprobe nearest cells IN-ROW against the "
        "broadcast STORED codebook (array_sort + slice — the identical "
        "expression the batch screen plans), and equi-joins the probe "
        "cells against the STORED cell-assignment relation (both memoized "
        "checkpoints — the persisted index, never rebuilt per batch). "
        "The sink holds per-candidate (vec_id, neighbor, cell, exact "
        "int64 distance) rows; the per-vector top-1 election and "
        "candidate count are batch post-processing over the sink "
        "(min(struct) — window-free), so the result is graded VERBATIM "
        "against knn_incremental's DuckDB oracle. Scale shape: state-"
        "free stream (no watermark, no state store — the only state is "
        "the static index), candidate work per arriving vector bounded "
        "by nprobe cell sizes, new×new pairs never formed. All "
        "arithmetic on the shared 1e6 int64 lattice, so stream and "
        "batch screens are bit-identical (pinned by a cross-entry test)."
    ),
)
def streaming_knn_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.vectors import screen_top1

    sink = pooled_sink(spark, sf_dir, "streaming_knn_screen")
    # the SHARED election (vectors.screen_top1) — one definition of the
    # tie order and the Q_SCALE² denormalization for both twins
    return screen_top1(sink)


@_stream_job("streaming_knn_screen", "streaming_knn_screen_out", mode="append")
def _knn_screen_stream(
    spark: SparkSession, sf_dir: str, *, nprobe: "int | None" = None
) -> DataFrame:
    from currency_etl_spark.queries.vectors import (
        IVF_NPROBE,
        KNN_BATCH_MOD,
        KNN_BATCH_REM,
        _ivf_cents_base,
        _ivf_index_base,
        _q_longs,
        screen_candidates,
    )

    # the recall knob, threaded exactly as the batch twin's kwarg (graded
    # default: the shared module constant) — the pool calls builders
    # without kwargs, so the graded stream always runs IVF_NPROBE; tests
    # pin twin agreement at a NON-default nprobe through this parameter
    if nprobe is None:
        nprobe = IVF_NPROBE
    new = _embeddings_stream(spark, sf_dir).filter(
        F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM
    )
    q = new.select("vec_id", "label", _q_longs().alias("qv"))
    cents = _ivf_cents_base(spark, sf_dir)
    idx = _ivf_index_base(spark, sf_dir)
    # the SHARED candidate plan (vectors.screen_candidates) — stateless
    # probe + stream-static equi-join, bit-identical to the batch screen
    return screen_candidates(q, cents, idx, nprobe)


# graded verbatim against the batch twin's oracle — one source of truth
# for the screen's semantics (the streaming_scd2 pattern); vectors is
# imported at module scope above via the catalog lookup's owning module
from currency_etl_spark.queries import vectors as _vectors  # noqa: E402, F401

_CATALOG["streaming_knn_screen"].oracle = _CATALOG["knn_incremental"].oracle


@register(
    "streaming_phash_screen",
    oracle=None,  # assigned below: composed from the phash family's SQL chain
    tags=("streaming", "multimodal", "dedup", "incremental", "pandas-udf"),
    doc=(
        "Streaming perceptual-dedup screen — the stream twin that "
        "completes the batch/stream screen square for the THIRD modality: "
        "text (streaming_dedup_screen), vector (streaming_knn_screen), "
        "and now binary assets. The NEW slice (doc_id % 10 = 7) arrives "
        "as an asset stream; each micro-batch fingerprints its blobs "
        "with the SAME one-Arrow-pass perceptual_hash operator the "
        "stored index was built with (mapInPandas is stateless — "
        "phash + checksum per row, no aggregation), then screens via "
        "two stateless stream-static joins against the STORED old-slice "
        "fingerprint index (the memoized phash_base checkpoint — the "
        "persisted artifact, never rebuilt per batch): the exact layer "
        "joins the md5 checksum against the old checksum set "
        "(byte-identical copies), the near layer explodes the 17-bucket "
        "Hamming-1 multiprobe (own hash + each single-bit flip — "
        "exactly multimodal_phash_near's device) and equi-joins the "
        "probed bucket keys against the old hashes. The sink holds "
        "(doc_id, exact_hit, dup_of) match rows; the per-asset rollup "
        "and triage verdict are batch post-processing, graded against "
        "the composed DuckDB oracle of the family's gradient-hash "
        "chain. Scale shape: state-free stream (no watermark, no state "
        "store — the only state is the static index), a bounded 17x "
        "fanout of 16-byte rows per arriving asset, hash equi-joins "
        "only — new x new pairs never formed, blob bytes never cross "
        "a shuffle (the Arrow pass reduces each asset to 24 bytes "
        "before any exchange)."
    ),
)
def streaming_phash_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pooled_sink(spark, sf_dir, "streaming_phash_screen")
    agg = sink.groupBy("doc_id").agg(
        F.coalesce(F.max("exact_hit"), F.lit(False)).alias("exact_dup"),
        F.countDistinct("dup_of").cast("long").alias("n_candidates"),
    )
    return agg.select(
        "doc_id",
        "exact_dup",
        "n_candidates",
        F.when(F.col("exact_dup"), "exact")
        .when(F.col("n_candidates") > 0, "near_candidate")
        .otherwise("unique")
        .alias("verdict"),
    ).orderBy("doc_id")


@_stream_job("streaming_phash_screen", "streaming_phash_screen_out", mode="append")
def _phash_screen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.multimodal import (
        attach_blob,
        hamming1_probes,
        perceptual_hash,
    )
    from currency_etl_spark.queries.multimodal import _phash_base

    new = _documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    # stateless per-row fingerprint: the SAME Arrow operator the stored
    # index was built with — bit-identity with the batch family is by
    # construction, not by parallel reimplementation
    ph = perceptual_hash(attach_blob(new).select("doc_id", "blob"))
    # the STORED index: old-slice rows of the memoized fingerprint
    # relation (one Arrow pass per session, shared with the batch
    # entries) — exact checksum set + Hamming-bucket keys
    old = _phash_base(spark, sf_dir).filter(F.col("doc_id") % 10 != 7)
    old_sums = (
        old.select("checksum").distinct().withColumn("exact_hit", F.lit(True))
    )
    old_idx = old.select(
        F.col("doc_id").alias("dup_of"), F.col("phash").alias("nbr_hash")
    )
    probes = ph.join(old_sums, "checksum", "left").select(
        "doc_id",
        "exact_hit",
        F.explode(hamming1_probes("phash")).alias("probe"),
    )
    return probes.join(
        old_idx, probes["probe"] == old_idx["nbr_hash"], "left"
    ).select("doc_id", "exact_hit", "dup_of")


def _phash_screen_oracle() -> str:
    # the family's gradient-hash CTE chain (multimodal_phash_dedup's
    # oracle, verbatim semantics), split by the arriving slice and
    # extended with the exact-checksum layer and the Hamming-1
    # multiprobe against the OLD side only
    return """
        WITH d AS (
            SELECT doc_id, text, md5(text) AS checksum,
                   octet_length(encode(text)) AS total
            FROM documents
        ),
        pos AS (
            SELECT doc_id, text, unnest(generate_series(1, total)) AS i
            FROM d
        ),
        counts AS (
            SELECT doc_id, ord(substring(text, i, 1)) % 16 AS bin, count(*) AS c
            FROM pos GROUP BY doc_id, ord(substring(text, i, 1)) % 16
        ),
        grid AS (
            SELECT d.doc_id, g.bin
            FROM d, (SELECT unnest(generate_series(0, 15)) AS bin) g
        ),
        dense AS (
            SELECT g.doc_id, g.bin, CAST(coalesce(c.c, 0) AS BIGINT) AS c
            FROM grid g
            LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bin = g.bin
        ),
        ph AS (
            SELECT a.doc_id,
                   CAST(coalesce(sum(CASE WHEN a.c > b.c
                        THEN (CAST(1 AS BIGINT) << a.bin) END), 0) AS BIGINT)
                       AS phash
            FROM dense a
            JOIN dense b ON b.doc_id = a.doc_id AND b.bin = (a.bin + 1) % 16
            GROUP BY a.doc_id
        ),
        new AS (
            SELECT ph.doc_id, ph.phash, d.checksum
            FROM ph JOIN d ON d.doc_id = ph.doc_id
            WHERE ph.doc_id % 10 = 7
        ),
        old AS (
            SELECT ph.doc_id, ph.phash, d.checksum
            FROM ph JOIN d ON d.doc_id = ph.doc_id
            WHERE ph.doc_id % 10 <> 7
        ),
        exact AS (
            SELECT n.doc_id, TRUE AS hit FROM new n
            WHERE n.checksum IN (SELECT checksum FROM old)
        ),
        probes AS (
            SELECT doc_id,
                   CASE WHEN f.i = 16 THEN phash
                        ELSE xor(phash, CAST(1 AS BIGINT) << f.i) END AS probe
            FROM new, (SELECT unnest(generate_series(0, 16)) AS i) f
        ),
        cand AS (
            SELECT p.doc_id, count(DISTINCT o.doc_id) AS n_candidates
            FROM probes p JOIN old o ON o.phash = p.probe
            GROUP BY p.doc_id
        )
        SELECT n.doc_id,
               coalesce(e.hit, FALSE) AS exact_dup,
               CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
               CASE WHEN coalesce(e.hit, FALSE) THEN 'exact'
                    WHEN coalesce(c.n_candidates, 0) > 0 THEN 'near_candidate'
                    ELSE 'unique' END AS verdict
        FROM new n
        LEFT JOIN exact e ON e.doc_id = n.doc_id
        LEFT JOIN cand c ON c.doc_id = n.doc_id
        ORDER BY n.doc_id
    """


_CATALOG["streaming_phash_screen"].oracle = _phash_screen_oracle()


@register(
    "streaming_drift_psi",
    oracle=None,  # assigned below: graded verbatim against the batch twin's oracle
    tags=("streaming", "vector", "ann", "eval", "drift"),
    doc=(
        "Streaming twin of embeddings_drift_psi — the drift monitor in "
        "the form a production pipeline actually runs it: continuously, "
        "on the ingest stream, so the rebuild flag fires DURING the "
        "drift instead of at the next scheduled audit. The arriving "
        "slice (vec_id % 10 = 7) comes in as an embedding stream; each "
        "micro-batch quantizes per row and takes its rank-1 stored-cell "
        "assignment IN-ROW against the broadcast memoized codebook — "
        "the SHARED assign_cells plan (vectors.py), the identical "
        "probe_cells election the batch audit and the ANN screens use, "
        "so drift is measured against exactly the partitioning the "
        "index serves. The sink holds (vec_id, cid) assignment rows "
        "— a stateless stream-static cross of each row with the 1-row "
        "codebook; no watermark, no state store, the only state is the "
        "static index. The per-cell histogram, smoothed exact-int PSI, "
        "and rebuild compare are batch post-processing over the sink "
        "through the SHARED psi_report (one definition of smoothing, "
        "quantization, and the bar for both twins), so the result is "
        "graded VERBATIM against embeddings_drift_psi's DuckDB oracle "
        "and a cross-entry test pins stream == batch bit-identically. "
        "Scale shape: each arriving vector contributes one 16-byte "
        "assignment row; the monitor's incremental state in a real "
        "deployment is the cells-sized running histogram (a streaming "
        "groupBy(cid).count() — mergeable, tiny), and the PSI rollup "
        "costs one cells-sized pass whenever it is read."
    ),
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.vectors import (
        PSI_REBUILD_BAR,
        _ivf_cents_base,
        _ivf_index_base,
        psi_report,
    )

    sink = pooled_sink(spark, sf_dir, "streaming_drift_psi")
    bh = sink.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("batch_cnt")
    )
    # the SHARED post-processing (vectors.psi_report) — one definition
    # of smoothing, quantization, and the rebuild bar for both twins
    return psi_report(
        bh,
        _ivf_cents_base(spark, sf_dir),
        _ivf_index_base(spark, sf_dir),
        PSI_REBUILD_BAR,
    )


@_stream_job("streaming_drift_psi", "streaming_drift_psi_out", mode="append")
def _drift_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.queries.vectors import (
        KNN_BATCH_MOD,
        KNN_BATCH_REM,
        _ivf_cents_base,
        _q_longs,
        assign_cells,
    )

    new = _embeddings_stream(spark, sf_dir).filter(
        F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM
    )
    q = new.select("vec_id", _q_longs().alias("qv"))
    # the SHARED rank-1 assignment (vectors.assign_cells) — stateless
    # in-row election against the broadcast stored codebook
    return assign_cells(q, _ivf_cents_base(spark, sf_dir))


# graded verbatim against the batch twin's oracle — one source of truth
# for the audit's semantics (the streaming_knn_screen pattern; vectors
# is already imported at module scope above)
_CATALOG["streaming_drift_psi"].oracle = _CATALOG["embeddings_drift_psi"].oracle
