"""The benchmark's workloads. Each has ``setup`` (counted in ``setup_s``),
``prepare(i)`` (lands op ``i``'s input, off the op clock), ``op`` (one unit
of user work, what ``op_p50_s`` times), ``check`` (raises ``CheckFailed``
when the output is wrong) and ``annotate`` (adds derived layer values to a
traced op's record). Expected outputs are computed from the generated
inputs in plain Python or DuckDB, never by the engine under test.
``warmup_ops`` ops run in set-up; ``nominal_op_s`` is the op time on a
quiet 4-core host, from which the run sizes its timed phase."""

from __future__ import annotations

import datetime as dt
import glob
import math
import os

import numpy as np

import inputs


class CheckFailed(AssertionError):
    """An op's output differs from the value computed outside Spark."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# -- etl_daily ----------------------------------------------------------------

TRACKED = ("USD", "EUR")  # pipeline.run_pipeline's default currencies


def expected_report(rows: dict, today: dt.date) -> dict:
    """The report ``run_pipeline`` must produce for a warehouse holding
    ``rows`` ({(cc, date): rate}), mirroring the reference's 11 queries:
    the month change compares the latest rate with the one at row
    ``LEAST(cnt, 31)`` in date-descending order."""
    out = {}
    for cc in TRACKED:
        series = sorted(((d, r) for (c, d), r in rows.items() if c == cc), reverse=True)
        rates = [r for _, r in series]
        year = [r for d, r in series if d >= today - dt.timedelta(days=365)]
        cur = cc.lower()
        out[cur] = {
            "last": rates[0],
            "change_month": rates[0] - rates[min(len(rates), 31) - 1],
            "range_year": {f"min_{cur}": min(year), f"max_{cur}": max(year)},
            "avg_all_time": sum(rates) / len(rates),
            "days": len(rates),
        }
    out["general"] = {"num_currencies": len(TRACKED)}
    return out


def check_report(got: dict, want: dict) -> None:
    """Exact on every value the engine copies or subtracts; the all-time
    average is a floating-point sum whose order Spark picks, so it is
    compared to 1e-9 relative."""
    require(got.keys() == want.keys(), f"report sections {sorted(got)}")
    require(got["general"] == want["general"], f"general {got['general']}")
    for cur in ("usd", "eur"):
        g, w = got[cur], want[cur]
        for key in ("last", "change_month", "range_year", "days"):
            require(g[key] == w[key], f"{cur}.{key}: {g[key]!r} != {w[key]!r}")
        require(
            math.isclose(g["avg_all_time"], w["avg_all_time"], rel_tol=1e-9),
            f"{cur}.avg_all_time: {g['avg_all_time']!r} != {w['avg_all_time']!r}",
        )


class EtlDaily:
    """The reference's daily DAG: ten years of NBU history backfilled into
    the warehouse, then each op lands the next day's payload (60 records
    plus one re-issued previous-day record) and runs the whole pipeline."""

    name = "etl_daily"
    warmup_ops = 3
    nominal_op_s = 2.5
    other_span = "pipeline.other_s"

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp = spark, tmp
        self.rng = np.random.default_rng(seed)
        self.series = inputs.RateSeries(seed, inputs.HISTORY_DAYS + 100)
        self.warehouse = os.path.join(tmp, "warehouse", "exchange_rates")
        self.daily_dir = os.path.join(tmp, "raw", "daily")
        self.reports_dir = os.path.join(tmp, "reports")
        self.rows: dict = {}

    def setup(self, tracer) -> None:
        from currency_etl_spark import pipeline

        history = inputs.write_history(
            self.series, os.path.join(self.tmp, "raw", "history"), inputs.HISTORY_DAYS
        )
        os.makedirs(self.daily_dir)
        with tracer.span("pipeline.backfill"):
            n = pipeline.backfill(self.spark, history, self.warehouse)
        for day in range(inputs.HISTORY_DAYS):
            for cc in TRACKED:
                self.rows[(cc, self._date(day))] = self.series.rate(cc, day)
        require(n == len(self.rows), f"backfill wrote {n} rows, want {len(self.rows)}")

    @staticmethod
    def _date(day: int) -> dt.date:
        return inputs.HISTORY_START + dt.timedelta(days=day)

    def prepare(self, i: int):
        """Land op ``i``'s payload (outside the op's clock) and record in
        the Python model what the warehouse must hold after it."""
        day = inputs.HISTORY_DAYS + i
        reissue = TRACKED[int(self.rng.integers(0, len(TRACKED)))]
        path = inputs.write_day(self.series, self.daily_dir, day, reissue)
        for cc in TRACKED:
            self.rows[(cc, self._date(day))] = self.series.rate(cc, day)
        self.rows[(reissue, self._date(day - 1))] = self.series.correction(reissue, day - 1)
        return path, self._date(day)

    def op(self, prepared):
        from currency_etl_spark import pipeline

        path, today = prepared
        return pipeline.run_pipeline(
            self.spark, path, self.warehouse, self.reports_dir, str(today)
        )

    def check(self, prepared, result) -> None:
        _, today = prepared
        check_report(result["report"], expected_report(self.rows, today))
        # history rows plus a flat five-day forecast per tracked currency
        require(
            result["forecast_rows"] == len(self.rows) + 5 * len(TRACKED),
            f"forecast_rows {result['forecast_rows']}",
        )
        require(os.path.exists(result["paths"]["json"]), "report json not written")

    def annotate(self, prepared, rec: dict) -> None:
        """Warehouse bytes rewritten per byte of the landed payload."""
        path, _ = prepared
        rec["warehouse.write_amplification"] = (
            rec.get("warehouse.bytes_written", 0) / os.path.getsize(path)
        )


# -- corpus_build -------------------------------------------------------------

N_DOCS = 5000  # the documents table at sf0.1


def cheap_stats(docs, langs: tuple[str, ...]) -> dict:
    """What of ``CorpusStats`` pandas recomputes cheaply from the documents
    table: the input count, the default quality gate (10-2000 tokens split
    on single spaces, as the engine splits) and two upper bounds. Exact
    copies must collapse into one cluster, so at most the distinct texts
    among the quality docs survive dedup, and at most the distinct texts
    among the quality docs in ``langs`` survive the language filter."""
    n_tok = docs["text"].str.split(" ").str.len()
    quality = docs[(n_tok >= 10) & (n_tok <= 2000)]
    return {
        "n_input": len(docs),
        "n_after_quality": len(quality),
        "max_after_dedup": int(quality["text"].nunique()),
        "max_after_lang": int(quality.loc[quality["lang"].isin(langs), "text"].nunique()),
    }


def written_rows(out_path: str) -> tuple[int, int, set]:
    """(rows, sum of n_tokens, languages) of the lang-partitioned output,
    read with pyarrow rather than Spark."""
    import pyarrow.parquet as pq

    rows = tokens = 0
    langs = set()
    for part in glob.glob(os.path.join(out_path, "lang=*")):
        langs.add(part.rsplit("=", 1)[1])
        for f in glob.glob(os.path.join(part, "*.parquet")):
            t = pq.read_table(f, columns=["n_tokens"])
            rows += t.num_rows
            tokens += int(t.column("n_tokens").to_numpy().sum())
    return rows, tokens, langs


class CorpusBuild:
    """``build_training_corpus`` over a 5,000-document corpus with default
    gates and three of the five languages. Memos are reset before each op,
    so the MinHash/LSH and component builds run inside it. Every op's stats
    must equal the first op's: the build is deterministic."""

    name = "corpus_build"
    warmup_ops = 1
    nominal_op_s = 4.5
    other_span = "corpus_pipeline.other_s"

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        rng = np.random.default_rng(seed)
        self.langs = tuple(sorted(rng.choice(inputs.LANGS, size=3, replace=False).tolist()))
        self.sf_dir = os.path.join(tmp, "corpus")
        self.out = os.path.join(tmp, "training_corpus")
        self.want: dict = {}
        self.first = None

    def setup(self, tracer) -> None:
        import pandas as pd

        inputs.write_documents(self.seed, self.sf_dir, N_DOCS)
        docs = pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet"))
        self.want = cheap_stats(docs, self.langs)

    def prepare(self, i: int):
        from currency_etl_spark.operators.ckpt import reset_memos

        reset_memos()

    def op(self, prepared):
        from currency_etl_spark.corpus_pipeline import build_training_corpus

        return build_training_corpus(self.spark, self.sf_dir, self.out, langs=self.langs)

    def check(self, prepared, stats) -> None:
        want = self.want
        require(stats.n_input == want["n_input"], f"n_input {stats.n_input}")
        require(stats.n_after_quality == want["n_after_quality"],
                f"n_after_quality {stats.n_after_quality} != {want['n_after_quality']}")
        require(stats.n_after_dedup <= want["max_after_dedup"],
                f"n_after_dedup {stats.n_after_dedup}: exact copies kept")
        require(stats.n_after_dedup >= stats.n_after_lang,
                f"counts grow along the pipeline: {stats}")
        require(stats.n_after_lang <= want["max_after_lang"],
                f"n_after_lang {stats.n_after_lang}: exact copies kept")
        require(stats.n_final == stats.n_after_lang, f"n_final {stats.n_final} without sampling")
        rows, tokens, langs = written_rows(self.out)
        require(rows == stats.n_final, f"{rows} rows written, stats say {stats.n_final}")
        require(tokens == stats.total_tokens, f"{tokens} tokens written")
        require(langs <= set(self.langs), f"languages written {sorted(langs)}")
        if self.first is None:
            self.first = stats
        require(stats == self.first, f"stats {stats} != first op's {self.first}")

    def annotate(self, prepared, rec: dict) -> None:
        pass


# -- catalog_mix --------------------------------------------------------------

#: Catalog entries of one pass: ROADMAP rewrite targets (runtime Bloom
#: filter, BM25, the RFM memo shared by customer_rfm and
#: customers_rfm_segments, the Arrow/pandas path). The run budget leaves
#: out the costlier targets, the stream pool (its first entry starts all
#: 16 pooled queries) and PageRank; see README.md.
CATALOG_ENTRIES = (
    "orders_bloom_prefilter", "docs_bm25_search", "customer_rfm",
    "customers_rfm_segments", "multimodal_features",
)


def normalize(df):
    """A result frame in a canonical form: sorted columns, timestamps at
    microseconds, rows sorted by their string form."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def check_frame(name: str, got, want) -> None:
    """Exact equality with the oracle's frame, up to row order and dtype."""
    import pandas as pd

    got, want = normalize(got), normalize(want)
    require(list(got.columns) == list(want.columns),
            f"{name}: columns {list(got.columns)} != {list(want.columns)}")
    require(len(got) == len(want), f"{name}: {len(got)} rows, oracle has {len(want)}")
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        raise CheckFailed(f"{name}: {e}") from None


class CatalogMix:
    """One op is one pass over ``CATALOG_ENTRIES`` in a seeded order, each
    entry's ``QuerySpec.spark_fn`` executed into the noop sink, after
    ``reset_memos()``: shared memo builds happen inside the pass and later
    entries of the pass hit them. Warm-up passes collect every result
    instead and compare it with the entry's DuckDB oracle; a timed pass
    must run every entry."""

    name = "catalog_mix"
    warmup_ops = 1
    nominal_op_s = 3.5
    other_span = "catalog.other_s"

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.seed = spark, seed
        self.rng = np.random.default_rng(seed)
        self.sf_dir = os.path.join(tmp, "catalog")
        self.tracer = None
        self.want: dict = {}

    def setup(self, tracer) -> None:
        import duckdb

        from currency_etl_spark.catalog import load_catalog

        self.tracer = tracer
        self.catalog = load_catalog()
        inputs.write_catalog_tables(self.seed, self.sf_dir)
        con = duckdb.connect()
        for table in inputs.CATALOG_ROWS:
            path = os.path.join(self.sf_dir, f"{table}.parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        self.want = {n: con.sql(self.catalog[n].oracle).df() for n in CATALOG_ENTRIES}
        con.close()

    def _run(self, name: str, collect: bool):
        df = self.catalog[name].spark_fn(self.spark, self.sf_dir)
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def prepare(self, i: int):
        from currency_etl_spark.operators.ckpt import reset_memos

        reset_memos()
        order = [CATALOG_ENTRIES[j] for j in self.rng.permutation(len(CATALOG_ENTRIES))]
        return order, i < self.warmup_ops

    def op(self, prepared):
        order, collect = prepared
        out = {}
        for name in order:
            with self.tracer.span(f"catalog.{name}"):
                out[name] = self._run(name, collect)
        return out

    def check(self, prepared, out) -> None:
        order, collect = prepared
        require(list(out) == order, f"entries run {list(out)}, want {order}")
        if collect:
            for name in order:
                check_frame(name, out[name], self.want[name])

    def annotate(self, prepared, rec: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (EtlDaily, CorpusBuild, CatalogMix)}
