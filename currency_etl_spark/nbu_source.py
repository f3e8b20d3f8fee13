"""`nbu` custom data source (SURVEY.md §2.1 S1): the reference's extract
stage (src/extract.py:13-18 — GET the NBU exchange-rates REST API, 10 s
timeout, raise on HTTP error) as a Spark 4 Python Data Source, so ingest is
`spark.read.format("nbu")` instead of driver-side requests + createDataFrame.

Options:
  url           REST endpoint (default: the public NBU statdirectory URL)
  fixture_path  read a local NBU-shaped JSON file instead of HTTP — the
                injection point for tests and air-gapped environments
  timeout       HTTP timeout seconds (default 10, like the reference)

One partition: the upstream payload is one small document (~60 records/day).
A date-range backfill variant would emit one InputPartition per day and
fetch in parallel on executors — the shape is already partition-based.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StructType

from currency_etl_spark.sources import NBU_RAW_SCHEMA

NBU_URL = "https://bank.gov.ua/NBUStatService/v1/statdirectory/exchange?json"


class NBUDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "nbu"

    def schema(self) -> StructType:
        return NBU_RAW_SCHEMA

    def reader(self, schema: StructType) -> "NBUReader":
        return NBUReader(self.options)


class NBUReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)

    def read(self, partition):
        fixture = self.options.get("fixture_path")
        if fixture:
            with open(fixture, encoding="utf-8") as f:
                records = json.load(f)
        else:  # pragma: no cover - needs network
            import urllib.request

            url = self.options.get("url", NBU_URL)
            timeout = float(self.options.get("timeout", "10"))
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                if resp.status != 200:  # raise_for_status parity (extract.py:17)
                    raise IOError(f"NBU API returned HTTP {resp.status}")
                records = json.load(resp)
        for r in records:
            yield (
                int(r["r030"]) if r.get("r030") is not None else None,
                r.get("txt"),
                float(r["rate"]) if r.get("rate") is not None else None,
                r.get("cc"),
                r.get("exchangedate"),
            )


def register(spark) -> None:
    """Idempotently register the `nbu` format on a session."""
    spark.dataSource.register(NBUDataSource)
