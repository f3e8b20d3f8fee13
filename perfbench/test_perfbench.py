"""The benchmark's own checks, without Spark: a corrupted result or a
raising op is reported as a failed op. Run with
``python3 -m pytest perfbench``."""

from __future__ import annotations

import copy
import dataclasses
import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import run
import spans
from currency_etl_spark.corpus_pipeline import CorpusStats
from workloads import (
    CatalogMix,
    CheckFailed,
    CorpusBuild,
    EtlDaily,
    cheap_stats,
    check_report,
    expected_report,
)

D0 = dt.date(2024, 1, 1)


def warehouse(days: int) -> dict:
    return {(cc, D0 + dt.timedelta(days=d)): base + d * 0.25
            for cc, base in (("USD", 40.0), ("EUR", 44.0)) for d in range(days)}


def test_month_change_clamps_to_oldest_row():
    today = D0 + dt.timedelta(days=9)
    rep = expected_report(warehouse(10), today)
    assert rep["usd"]["change_month"] == (40.0 + 9 * 0.25) - 40.0
    assert rep["usd"]["days"] == 10
    long = expected_report(warehouse(400), D0 + dt.timedelta(days=399))
    assert long["eur"]["change_month"] == pytest.approx(30 * 0.25)
    assert long["eur"]["range_year"]["min_eur"] == 44.0 + 34 * 0.25


@pytest.mark.parametrize("corrupt", [
    lambda r: r["usd"].__setitem__("last", r["usd"]["last"] + 0.0001),
    lambda r: r["eur"].__setitem__("avg_all_time", r["eur"]["avg_all_time"] * 1.001),
    lambda r: r["usd"].__setitem__("days", r["usd"]["days"] - 1),
    lambda r: r["eur"]["range_year"].__setitem__("max_eur", 0.0),
    lambda r: r["general"].__setitem__("num_currencies", 3),
])
def test_corrupted_report_fails_check(corrupt):
    want = expected_report(warehouse(40), D0 + dt.timedelta(days=39))
    check_report(copy.deepcopy(want), want)
    got = copy.deepcopy(want)
    corrupt(got)
    with pytest.raises(CheckFailed):
        check_report(got, want)


def test_day_payload_reissues_previous_day(tmp_path):
    series = inputs.RateSeries(7, 10)
    path = inputs.write_day(series, str(tmp_path), 5, "EUR")
    records = pd.read_json(path)
    assert len(records) == len(inputs.CURRENCIES) + 1
    last = records.iloc[-1]
    assert last["cc"] == "EUR" and last["rate"] == series.correction("EUR", 4)


class Corrupting:
    """A workload whose op returns a corrupted report or raises."""

    warmup_ops = 0
    other_span = "pipeline.other_s"

    def __init__(self, mode: str):
        self.mode = mode
        self.want = expected_report(warehouse(40), D0 + dt.timedelta(days=39))

    def prepare(self, i):
        return None

    def op(self, prepared):
        if self.mode == "raise":
            raise RuntimeError("engine failure")
        got = copy.deepcopy(self.want)
        if self.mode == "corrupt":
            got["usd"]["last"] += 1.0
        return got

    def check(self, prepared, got):
        check_report(got, self.want)

    def annotate(self, prepared, rec):
        pass


@pytest.mark.parametrize("mode,passed", [("ok", True), ("corrupt", False), ("raise", False)])
def test_run_op_counts_failures(mode, passed):
    op = run.run_op(Corrupting(mode), None, spans.Tracer(enabled=False), 0, record=False)
    assert op.ok is passed


def write_corpus_out(out: str, tokens_by_lang: dict) -> None:
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    for lang, tokens in tokens_by_lang.items():
        os.makedirs(os.path.join(out, f"lang={lang}"))
        pq.write_table(pa.table({"n_tokens": pa.array(tokens, pa.int64())}),
                       os.path.join(out, f"lang={lang}", "part-0.parquet"))


def test_corpus_check_rejects_wrong_stats_and_output(tmp_path):
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": ["a b " * 6, "a b " * 6, "x " * 12, "short", "y z " * 8],
        "lang": ["en", "en", "de", "en", "fr"],
    })
    wl = CorpusBuild(None, str(tmp_path), 0)
    wl.langs = ("de", "en")
    wl.want = cheap_stats(docs, wl.langs)
    assert wl.want == {"n_input": 5, "n_after_quality": 4, "max_after_dedup": 3,
                       "max_after_lang": 2}
    write_corpus_out(wl.out, {"en": [13], "de": [13]})
    good = CorpusStats(n_input=5, n_after_quality=4, n_after_dedup=3, n_after_lang=2,
                       n_final=2, total_tokens=26)
    wl.check(None, good)
    for bad in (dict(n_after_quality=5), dict(n_after_dedup=1), dict(n_final=1),
                dict(total_tokens=25)):
        wl.first = None  # each case against the checks, not the first op
        with pytest.raises(CheckFailed):
            wl.check(None, dataclasses.replace(good, **bad))
    # no dedup at all: the exact copy survives, and the output agrees with
    # the stats, so only the distinct-text bounds can catch it
    wl.first = None
    write_corpus_out(wl.out, {"en": [13, 13], "de": [13]})
    with pytest.raises(CheckFailed, match="exact copies kept"):
        wl.check(None, CorpusStats(n_input=5, n_after_quality=4, n_after_dedup=4,
                                   n_after_lang=3, n_final=3, total_tokens=39))
    wl.first = None
    write_corpus_out(wl.out, {"en": [13]})
    with pytest.raises(CheckFailed):
        wl.check(None, good)


def test_corpus_check_rejects_stats_that_change_between_ops(tmp_path):
    wl = CorpusBuild(None, str(tmp_path), 0)
    wl.want = {"n_input": 5, "n_after_quality": 4, "max_after_dedup": 4, "max_after_lang": 4}
    os.makedirs(wl.out)
    empty = CorpusStats(n_input=5, n_after_quality=4, n_after_dedup=3, n_after_lang=0,
                        n_final=0, total_tokens=0)
    wl.check(None, empty)
    with pytest.raises(CheckFailed):
        wl.check(None, dataclasses.replace(empty, n_after_dedup=2))


def test_bytes_written_counts_new_parquet_files_only(tmp_path):
    table = tmp_path / "t"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"x" * 100)
    (table / ".part-0.parquet.crc").write_bytes(b"c" * 8)
    before = spans.parquet_files(str(table))
    (table / "part-1.parquet").write_bytes(b"y" * 40)
    (table / ".part-1.parquet.crc").write_bytes(b"c" * 8)
    (table / "_SUCCESS").write_bytes(b"")
    assert spans.bytes_written(before, spans.parquet_files(str(table))) == 40
    (table / "part-0.parquet").unlink()
    assert spans.bytes_written(before, spans.parquet_files(str(table))) == 40


def test_catalog_check_rejects_wrong_or_missing_results():
    wl = CatalogMix(None, "", 0)
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wl.want = {"a": want, "b": want.iloc[:0]}
    order = ["b", "a"]
    wl.check((order, True), {"b": want.iloc[:0], "a": want.iloc[::-1]})
    wl.check((order, False), {"b": None, "a": None})
    for got in (want.assign(v=[0.5, 1.5, 2.6]), want.iloc[:2], want.rename(columns={"v": "w"})):
        with pytest.raises(CheckFailed):
            wl.check((order, True), {"b": want.iloc[:0], "a": got})
    with pytest.raises(CheckFailed):
        wl.check((order, False), {"b": None})


def test_spans_self_time_and_other():
    tracer = spans.Tracer(enabled=True)
    tracer.begin_op(None, 0, record=False)
    tracer.recording = True
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    times = tracer.self_times()
    total = tracer.spans[0]["end"] - tracer.spans[0]["start"]
    assert times["outer_s"] + times["inner_s"] == pytest.approx(total)
    assert tracer.top_level_s() == pytest.approx(total)


def test_etl_model_matches_payloads(tmp_path):
    wl = EtlDaily(None, str(tmp_path), 3)
    os.makedirs(wl.daily_dir)
    path, today = wl.prepare(0)
    assert today == inputs.HISTORY_START + dt.timedelta(days=inputs.HISTORY_DAYS)
    records = pd.read_json(path)
    reissued = records.iloc[-1]
    prev = today - dt.timedelta(days=1)
    assert wl.rows[(reissued["cc"], prev)] == reissued["rate"]
