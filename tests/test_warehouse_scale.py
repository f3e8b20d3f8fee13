"""Scale-path storage tests: partitioned upsert and bronze re-landing
rewrite only touched partitions; latest-partition reads are
partition-pruned (checked in the physical plan, not just the results)."""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os

import pytest

from pyspark.sql import functions as F

from currency_etl_spark.sinks import read_latest_silver, write_bronze, write_silver
from currency_etl_spark.transforms import transform_rates
from currency_etl_spark.sources import read_nbu_json
from currency_etl_spark.warehouse import ParquetUpsertTable
from tests.fixtures import START, nbu_records, rate_for, write_raw_json


def _month_partitioned(spark, raw_df):
    return transform_rates(raw_df).withColumn(
        "month", F.date_format("exchangedate", "yyyy-MM")
    )


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    raw = write_raw_json(nbu_records(days=60), str(tmp_path / "raw" / "r.json"))
    df = _month_partitioned(spark, read_nbu_json(spark, raw))
    wh = str(tmp_path / "wh_part")
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"], partition_cols=["month"])
    t.merge_upsert(df)
    assert t.read().count() == 120  # 60 days × USD/EUR
    months = sorted(os.path.basename(p) for p in glob.glob(f"{wh}/month=*"))
    assert months == ["month=2024-01", "month=2024-02"]

    jan_files_before = {
        p: os.path.getmtime(p) for p in glob.glob(f"{wh}/month=2024-01/*.parquet")
    }

    # update one February row only
    feb_fix = df.filter(
        (F.col("cc") == "USD") & (F.col("exchangedate") == _dt.date(2024, 2, 10))
    ).withColumn("rate", F.lit(77.77))
    t.merge_upsert(feb_fix)

    cur = t.read()
    assert cur.count() == 120
    assert cur.filter("rate = 77.77").count() == 1
    # January partition untouched on disk — the merge pruned it out entirely
    jan_files_after = {
        p: os.path.getmtime(p) for p in glob.glob(f"{wh}/month=2024-01/*.parquet")
    }
    assert jan_files_after == jan_files_before


def test_partitioned_upsert_preserves_untouched_rows(spark, tmp_path):
    raw = write_raw_json(nbu_records(days=60), str(tmp_path / "raw" / "r.json"))
    df = _month_partitioned(spark, read_nbu_json(spark, raw))
    wh = str(tmp_path / "wh_part2")
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"], partition_cols=["month"])
    t.merge_upsert(df)
    before = {
        (r["cc"], r["exchangedate"]): r["rate"]
        for r in t.read().collect()
    }
    feb_fix = df.filter(
        (F.col("cc") == "EUR") & (F.col("exchangedate") == _dt.date(2024, 2, 5))
    ).withColumn("rate", F.lit(55.55))
    t.merge_upsert(feb_fix)
    after = {(r["cc"], r["exchangedate"]): r["rate"] for r in t.read().collect()}
    assert after[("EUR", _dt.date(2024, 2, 5))] == 55.55
    changed = {k for k in before if before[k] != after[k]}
    assert changed == {("EUR", _dt.date(2024, 2, 5))}


def test_bronze_rewrite_replaces_only_its_partition(spark, tmp_path):
    """write_bronze lands records as received, one ingest_date partition
    per landing: re-landing a date replaces that partition's files and
    leaves every other date's files untouched, and the JSON reads back
    as the records that came in."""
    recs = nbu_records(days=4)
    day1, day2 = recs[:8], recs[8:16]
    reissued = [dict(r, rate=round(r["rate"] + 1, 2)) for r in day1[:3]]
    bronze = str(tmp_path / "bronze")
    by_key = lambda r: (r["exchangedate"], r["cc"])  # noqa: E731

    def land(rows, name, date):
        raw = write_raw_json(rows, str(tmp_path / "raw" / name))
        write_bronze(read_nbu_json(spark, raw), bronze, date)

    def files(date):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{bronze}/ingest_date={date}/*.json")
        }

    def read_back(date):
        rows = []
        for p in files(date):
            with open(p, encoding="utf-8") as f:
                rows += [json.loads(line) for line in f if line.strip()]
        return sorted(rows, key=by_key)

    land(day1, "d1.json", "2024-01-01")
    land(day2, "d2.json", "2024-01-02")
    day1_files, day2_files = files("2024-01-01"), files("2024-01-02")
    assert day1_files and day2_files
    land(reissued, "d1b.json", "2024-01-01")

    parts = sorted(os.path.basename(p) for p in glob.glob(f"{bronze}/ingest_date=*"))
    assert parts == ["ingest_date=2024-01-01", "ingest_date=2024-01-02"]
    assert files("2024-01-02") == day2_files
    assert not set(files("2024-01-01")) & set(day1_files)
    assert read_back("2024-01-01") == sorted(reissued, key=by_key)
    assert read_back("2024-01-02") == sorted(day2, key=by_key)


def test_latest_silver_is_partition_pruned(spark, tmp_path):
    silver = str(tmp_path / "silver")
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        df = spark.range(5).select(
            F.col("id"), F.lit(day).alias("batch_tag")
        )
        write_silver(df, silver, day)

    latest = read_latest_silver(spark, silver)
    rows = latest.collect()
    assert {r["batch_tag"] for r in rows} == {"2024-01-03"}
    assert len(rows) == 5

    jvm = latest.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(latest._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "ingest_date" in pf_line  # pruning on the partition column, not a post-scan filter


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    raw = write_raw_json(nbu_records(days=30), str(tmp_path / "raw" / "r.json"))
    df = _month_partitioned(spark, read_nbu_json(spark, raw))
    wh = str(tmp_path / "wh_compact")
    t = ParquetUpsertTable(
        spark, wh, ["cc", "exchangedate"], partition_cols=["month"], cluster_by=["cc", "exchangedate"]
    )
    # several small merges → small-file buildup
    for d in range(0, 30, 10):
        chunk = df.filter(
            (F.col("exchangedate") >= START + _dt.timedelta(days=d))
            & (F.col("exchangedate") < START + _dt.timedelta(days=d + 10))
        )
        t.merge_upsert(chunk)
    before = t.read().orderBy("cc", "exchangedate").collect()
    n_files_before = len(glob.glob(f"{wh}/month=*/*.parquet"))

    t.compact(target_files=1)
    after = t.read().orderBy("cc", "exchangedate").collect()
    n_files_after = len(glob.glob(f"{wh}/month=*/*.parquet"))
    assert after == before
    assert n_files_after <= n_files_before
    assert n_files_after <= 2  # one file per month partition


def test_partitioned_upsert_null_partition_value_preserves_rows(spark, tmp_path):
    # a NULL partition value lands in __HIVE_DEFAULT_PARTITION__; the merge's
    # partition-pruning predicate must still select those existing rows
    # (eqNullSafe) or dynamic overwrite would rewrite the null partition with
    # only the update rows, silently deleting its other keys
    wh = str(tmp_path / "wh_nullpart")
    t = ParquetUpsertTable(spark, wh, ["k"], partition_cols=["month"])
    base = spark.createDataFrame(
        [("a", 1.0, None), ("b", 2.0, None), ("c", 3.0, "2024-01")],
        "k string, v double, month string",
    )
    t.merge_upsert(base)
    assert t.read().count() == 3

    fix = spark.createDataFrame([("a", 9.0, None)], "k string, v double, month string")
    t.merge_upsert(fix)
    after = {r["k"]: r["v"] for r in t.read().collect()}
    assert after == {"a": 9.0, "b": 2.0, "c": 3.0}  # 'b' must survive


def test_partitioned_upsert_null_key_raises_and_commits_nothing(spark, tmp_path):
    # dynamic overwrite replaces partitions in place, so a NULL key must
    # fail the write job itself: every partition file stays as it was
    raw = write_raw_json(nbu_records(days=60), str(tmp_path / "raw" / "r.json"))
    df = _month_partitioned(spark, read_nbu_json(spark, raw))
    wh = str(tmp_path / "wh_part_null")
    t = ParquetUpsertTable(spark, wh, ["cc", "exchangedate"], partition_cols=["month"])
    t.merge_upsert(df)

    def files():
        out = {}
        for root, _, names in os.walk(wh):
            for n in names:
                full = os.path.join(root, n)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, wh)] = (fh.read(), os.stat(full).st_mtime_ns)
        return out

    before = files()
    fix = df.filter(F.col("exchangedate") == _dt.date(2024, 2, 10)).withColumn(
        "rate", F.lit(77.77)
    )
    bad = fix.unionByName(fix.limit(1).withColumn("exchangedate", F.lit(None).cast("date")))
    with pytest.raises(Exception, match="NULL key"):
        t.merge_upsert(bad)
    assert files() == before
    assert t.read().filter("rate = 77.77").count() == 0
