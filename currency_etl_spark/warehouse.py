"""Warehouse: keyed-upsert Parquet table (SURVEY.md §4.3.1).

The reference's load stage upserts row-by-row into Postgres with
`INSERT ... ON CONFLICT (cc, exchangedate) DO UPDATE` (src/load.py:28-51,
key from sql/create_tables.sql:9) — one network round trip per row. The
Spark-native replacement is a set-based MERGE:

    updates ∪ current → row_number() over (partition by key, newest first)
    → keep rn=1 → atomic rewrite

Last-write-wins is explicit via an `ingest_priority` ordering column (the
reference relies on execution order). `DO NOTHING` (first-wins, the
telegram_users semantics — src/telegram_listener.py:30) is mode="ignore".

Scale: the MERGE is one shuffle on the key. At 100 TB the table would be
partitioned (e.g. by month(exchangedate)) and only partitions present in
`updates` rewritten — that pruning is implemented here; a table format with
native MERGE (Delta/Iceberg) slots in behind the same API when its jars
are available (not in this image; import-gated).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


class ParquetUpsertTable:
    """An upsert-able parquet table keyed on `key_cols`, with atomic
    swap-directory rewrites (write new version → rename).

    With `partition_cols`, the table is Hive-layout partitioned and MERGE
    rewrites ONLY the partitions present in the updates (dynamic partition
    overwrite + partition-pruned read of the current side) — the difference
    between rewriting 100 TB and rewriting one day's partition."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        partition_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.partition_cols = list(partition_cols or [])
        # sort files by these columns on write → better min/max pruning and
        # run-length locality for key-ordered scans (a poor man's clustering)
        self.cluster_by = list(cluster_by or [])

    def _maybe_cluster(self, df: DataFrame) -> DataFrame:
        return df.sortWithinPartitions(*self.cluster_by) if self.cluster_by else df

    # -- read ---------------------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    # -- write --------------------------------------------------------------
    def _atomic_overwrite(self, df: DataFrame) -> None:
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def merge_upsert(self, updates: DataFrame, mode: str = "update") -> None:
        """Set-based MERGE.

        mode="update": last-write-wins per key — updates beat current rows
            (`ON CONFLICT DO UPDATE`, load.py:38-41).
        mode="ignore": first-wins — current rows beat updates
            (`ON CONFLICT DO NOTHING`, telegram_listener.py:30).

        Duplicate keys *within* `updates` are resolved the same way the
        reference's row loop would: last row wins in update mode, first in
        ignore mode — made deterministic with an explicit ordering column
        `__seq` if present, else arbitrary-but-stable via monotonically
        increasing ids.
        """
        seq = "__seq" if "__seq" in updates.columns else None
        if seq is None:
            updates = updates.withColumn("__seq", F.monotonically_increasing_id())
            seq = "__seq"
        updates = updates.withColumn("__src", F.lit(1))
        if self.exists():
            current = self.read()
            if self.partition_cols:
                # partition pruning: only the partitions the updates touch
                # participate in the merge — everything else is untouched
                touched = [
                    tuple(r) for r in updates.select(*self.partition_cols).distinct().collect()
                ]
                cond = None
                for values in touched:
                    clause = F.lit(True)
                    for col, v in zip(self.partition_cols, values):
                        # eqNullSafe (<=>): a NULL partition value must still
                        # select its existing rows, or dynamic partition
                        # overwrite would rewrite __HIVE_DEFAULT_PARTITION__
                        # with only the update rows — silently dropping the
                        # partition's pre-existing keys.
                        clause = clause & F.col(col).eqNullSafe(F.lit(v))
                    cond = clause if cond is None else (cond | clause)
                current = current.filter(cond if cond is not None else F.lit(False))
            current = current.withColumn("__src", F.lit(0)).withColumn(
                seq, F.lit(None).cast("long")
            )
            merged = updates.unionByName(current)
        else:
            merged = updates

        if mode == "update":  # newest wins: updates (src=1) first, later seq first
            order = [F.desc("__src"), F.desc_nulls_last(seq)]
        elif mode == "ignore":  # oldest wins: current (src=0) first, earlier seq first
            order = [F.asc("__src"), F.asc_nulls_last(seq)]
        else:
            raise ValueError(f"unknown merge mode: {mode}")

        w = W.partitionBy(*self.key_cols).orderBy(*order)
        deduped = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src", seq)
        )
        deduped = self._maybe_cluster(deduped)

        self._write(deduped)

    def compact(self, target_files: int = 1) -> None:
        """Small-file compaction: incremental MERGEs leave one file per
        shuffle partition; periodic compaction rewrites each partition into
        `target_files` files (coalesce — no shuffle). The 100 TB hygiene job
        that keeps scan task counts proportional to data, not to merge
        history."""
        if not self.exists():
            return
        df = self._maybe_cluster(self.read().coalesce(target_files))
        if self.partition_cols:
            df.write.mode("overwrite").partitionBy(*self.partition_cols).parquet(
                self.path + "__compact"
            )
            old = self.path + "__pre_compact"
            os.rename(self.path, old)
            os.rename(self.path + "__compact", self.path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            self._atomic_overwrite(df)

    def _write(self, deduped: DataFrame) -> None:
        if self.partition_cols and self.exists():
            # rewrite only the touched partitions in place
            (
                deduped.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*self.partition_cols)
                .parquet(self.path)
            )
        elif self.partition_cols:
            deduped.write.mode("overwrite").partitionBy(*self.partition_cols).parquet(self.path)
        else:
            self._atomic_overwrite(deduped)
