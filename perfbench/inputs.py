"""Seeded input generators. The same seed always yields the same files."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

#: (cc, r030, base rate in UAH) for 60 currencies, shaped like the NBU
#: statdirectory payload (the first two are the reference pipeline's own).
CURRENCIES = (
    ("USD", 840, 26.0), ("EUR", 978, 29.0), ("GBP", 826, 34.0), ("PLN", 985, 6.8),
    ("CHF", 756, 26.5), ("JPY", 392, 0.22), ("CNY", 156, 3.9), ("CAD", 124, 20.0),
    ("AUD", 36, 19.0), ("CZK", 203, 1.1), ("DKK", 208, 3.9), ("HUF", 348, 0.09),
    ("NOK", 578, 3.1), ("SEK", 752, 3.0), ("TRY", 949, 7.0), ("INR", 356, 0.4),
    ("KRW", 410, 0.022), ("MXN", 484, 1.6), ("NZD", 554, 18.0), ("SGD", 702, 19.0),
    ("HKD", 344, 3.4), ("ZAR", 710, 2.0), ("ILS", 376, 7.0), ("EGP", 818, 1.5),
    ("SAR", 682, 7.0), ("AED", 784, 7.1), ("THB", 764, 0.8), ("IDR", 360, 0.002),
    ("MYR", 458, 6.3), ("VND", 704, 0.0011), ("KZT", 398, 0.07), ("MDL", 498, 1.5),
    ("GEL", 981, 9.0), ("AZN", 944, 15.0), ("RON", 946, 6.3), ("BGN", 975, 14.8),
    ("RSD", 941, 0.25), ("ISK", 352, 0.2), ("LBP", 422, 0.017), ("DZD", 12, 0.2),
    ("BDT", 50, 0.3), ("AMD", 51, 0.055), ("DOP", 214, 0.5), ("IRR", 364, 0.0006),
    ("IQD", 368, 0.02), ("KGS", 417, 0.35), ("MNT", 496, 0.009), ("TJS", 972, 2.5),
    ("TMT", 934, 7.4), ("UZS", 860, 0.0025), ("TND", 788, 9.5), ("PHP", 608, 0.5),
    ("PKR", 586, 0.15), ("CLP", 152, 0.035), ("ARS", 32, 0.4), ("BRL", 986, 6.5),
    ("COP", 170, 0.008), ("PEN", 604, 7.6), ("XAU", 959, 31000.0), ("XAG", 961, 400.0),
)
HISTORY_START = dt.date(2015, 1, 1)
HISTORY_DAYS = 3650  # ten years: 2 x 3650 = 7,300 USD/EUR warehouse rows


def _nbu_date(d: dt.date) -> str:
    return d.strftime("%d.%m.%Y")


class RateSeries:
    """A seeded random walk per currency, one 4-decimal rate per day.

    ``rate(cc, day)`` is the rate NBU publishes first for day index ``day``
    (0 = ``HISTORY_START``); ``correction(cc, day)`` is the re-issued rate a
    later payload carries for the same key."""

    def __init__(self, seed: int, days: int):
        rng = np.random.default_rng(seed)
        steps = rng.normal(0.0, 0.004, size=(len(CURRENCIES), days))
        base = np.array([b for _, _, b in CURRENCIES])[:, None]
        self._rates = np.round(base * np.exp(np.cumsum(steps, axis=1)), 4)
        self._fix = np.round(rng.uniform(0.001, 0.02, size=days), 4)
        self._index = {cc: i for i, (cc, _, _) in enumerate(CURRENCIES)}
        self.days = days

    def rate(self, cc: str, day: int) -> float:
        return float(self._rates[self._index[cc], day])

    def correction(self, cc: str, day: int) -> float:
        return round(self.rate(cc, day) + float(self._fix[day]), 4)

    def day_records(self, day: int) -> list[dict]:
        date = _nbu_date(HISTORY_START + dt.timedelta(days=day))
        return [
            {"r030": r030, "txt": f"Currency {cc}", "rate": self.rate(cc, day),
             "cc": cc, "exchangedate": date}
            for cc, r030, _ in CURRENCIES
        ]


def write_history(series: RateSeries, out_dir: str, days: int) -> str:
    """Days ``[0, days)`` as one JSON array per calendar month; file names
    sort chronologically, which is the order backfill gives priority by.
    Returns the glob that matches every file."""
    os.makedirs(out_dir, exist_ok=True)
    months: dict[str, list[dict]] = {}
    for day in range(days):
        d = HISTORY_START + dt.timedelta(days=day)
        months.setdefault(f"{d:%Y-%m}", []).extend(series.day_records(day))
    for name, records in months.items():
        with open(os.path.join(out_dir, f"{name}.json"), "w", encoding="utf-8") as f:
            json.dump(records, f)
    return os.path.join(out_dir, "*.json")


def write_day(series: RateSeries, out_dir: str, day: int, reissue_cc: str) -> str:
    """The payload landed on day ``day``: that day's records, then the
    previous day's ``reissue_cc`` record with a corrected rate."""
    prev = series.day_records(day - 1)
    fixed = next(r for r in prev if r["cc"] == reissue_cc)
    fixed = dict(fixed, rate=series.correction(reissue_cc, day - 1))
    path = os.path.join(out_dir, f"{HISTORY_START + dt.timedelta(days=day)}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(series.day_records(day) + [fixed], f)
    return path


#: The corpus's word list and languages (the shape of the synthetic
#: ``documents`` table the engine's catalog is written against).
WORDS = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


def write_documents(seed: int, out_dir: str, n_docs: int) -> str:
    """``documents.parquet`` with ``n_docs`` rows: 10-100 words drawn with
    Zipf weights, so the tail words are rare enough for BM25 to query (a
    few short docs the quality gate drops), 5 languages, 20 sources, and
    about 3 % exact or one-word-edit copies of earlier documents so the
    near-duplicate clustering has clusters to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(WORDS) + 1)
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split(" ")
            if r < 0.015:
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            n = int(rng.integers(3, 10)) if r > 0.97 else int(rng.integers(10, 101))
            words = [WORDS[j] for j in rng.choice(len(WORDS), size=n, p=weights)]
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


#: Row counts of the tables the catalog_mix entries read, at the corpus's
#: sf0.01 size.
CATALOG_ROWS = {"customer": 1500, "orders": 15000, "documents": 500}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng, start: dt.date, span: int, n: int):
    """``n`` midnight timestamps within ``span`` days of ``start``."""
    return np.datetime64(start, "us") + rng.integers(0, span, size=n).astype("timedelta64[D]")


def write_catalog_tables(seed: int, out_dir: str) -> str:
    """The three corpus tables the catalog_mix entries read (``customer``,
    ``orders``, ``documents``), one parquet file each, in the corpus's
    schema and at its sf0.01 row counts, money with two decimals as in the
    corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    n = CATALOG_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    nc, no = n["customer"], n["orders"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=nc), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=nc).tolist(), pa.string()),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), size=no).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=no), 2), pa.float64()),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2404, no), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=no).tolist(), pa.string()),
    })
    write_documents(seed, out_dir, n["documents"])
    return out_dir
