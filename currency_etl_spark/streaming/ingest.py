"""Streaming ingest: the reference's scheduled micro-batch (T1) as a real
Structured Streaming pipeline.

Reference semantics (SURVEY.md §2.10): a daily cron fires
extract → transform → load; late/corrected records are last-write-wins via
the (cc, exchangedate) upsert. Streaming form: a file source watches the
raw landing dir, each arriving batch of NBU JSON becomes one micro-batch,
and `foreachBatch` applies the same set-based MERGE the batch pipeline
uses — so batch and streaming share one writer and one semantics
(exactly-once per batch via idempotent MERGE).

A stateful custom operator (`user_running_totals`) shows
applyInPandasWithState: per-key running aggregates that survive across
micro-batches in the state store — the building block the reference's
subscription listener (T2) would use at scale.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from currency_etl_spark.sources import NBU_RAW_SCHEMA
from currency_etl_spark.transforms import transform_rates
from currency_etl_spark.warehouse import ParquetUpsertTable


def stream_ingest_upsert(
    spark: SparkSession,
    landing_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
) -> None:
    """Watch `landing_dir` for NBU JSON, MERGE each micro-batch into the
    warehouse, process everything currently available, then stop.

    Repeated invocations resume from the checkpoint — only new files are
    processed, and reprocessing a batch is harmless (idempotent MERGE)."""
    raw = (
        spark.readStream.schema(NBU_RAW_SCHEMA)
        .option("multiLine", "true")
        .json(landing_dir)
    )
    table = ParquetUpsertTable(spark, warehouse_path, ["cc", "exchangedate"])

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        processed = transform_rates(batch_df).filter(F.col("exchangedate").isNotNull())
        table.merge_upsert(processed)

    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


#: output / state schemas for the stateful operator
_TOTALS_OUT = "user_id long, n_events long, total_value double"
_TOTALS_STATE = "n long, total double"


def _totals_fn(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running (count, sum) per user, carried in the state store."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def user_running_totals(events_stream: DataFrame):
    """Custom stateful operator: per-user lifetime totals via
    applyInPandasWithState. Updated rows are emitted every micro-batch; the
    state store holds one (n, total) pair per user, partitioned by key —
    the 100 TB form is the same plan with a real state store backend.
    The graded catalog twin is `streaming_running_totals`
    (streaming/jobs.py), which quantizes value to int64 ten-thousandths so
    its output is exact and hash-comparable against a SQL oracle."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
