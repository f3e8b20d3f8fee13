"""Deterministic NBU-shaped fixtures (FIXTURES.md §A): multi-day,
multi-currency raw records with extra upstream fields the transform must
drop, plus malformed/duplicate variants for strict-parse and upsert tests."""

from __future__ import annotations

import datetime as _dt
import json
import os

BASE_RATE = {"USD": 41.0, "EUR": 45.0, "GBP": 52.0, "PLN": 10.0}
NAMES = {"USD": "Долар США", "EUR": "Євро", "GBP": "Фунт стерлінгів", "PLN": "Злотий"}
START = _dt.date(2024, 1, 1)


def rate_for(cc: str, day: int) -> float:
    """Deterministic, slightly wiggly series (2-decimal values)."""
    return round(BASE_RATE[cc] + 0.07 * day + (0.31 if day % 3 == 0 else -0.11), 2)


def nbu_records(days: int = 40, currencies=("USD", "EUR", "GBP", "PLN")) -> list[dict]:
    out = []
    for d in range(days):
        date = START + _dt.timedelta(days=d)
        for i, cc in enumerate(currencies):
            out.append(
                {
                    "r030": 840 + i,  # extra upstream field — must be dropped
                    "txt": NAMES[cc],
                    "rate": rate_for(cc, d),
                    "cc": cc,
                    "exchangedate": date.strftime("%d.%m.%Y"),
                }
            )
    return out


def write_raw_json(records: list[dict], path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False, indent=2)
    return path


def write_documents(tmpdir: str, rows: list) -> str:
    """documents-shaped parquet from (doc_id, text, lang, source) rows —
    the ONE fixture writer for the corpus `documents` schema, so a schema
    change lands in every test that synthesizes documents (the round-4
    corpus-drift lesson)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array([d for d, _, _, _ in rows], pa.int64()),
            "text": pa.array([x for _, x, _, _ in rows], pa.string()),
            "lang": pa.array([l for _, _, l, _ in rows], pa.string()),
            "source": pa.array([s for _, _, _, s in rows], pa.string()),
            "n_chars": pa.array([len(x) for _, x, _, _ in rows], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(tmpdir, "documents.parquet"))
    return tmpdir


def write_events(tmpdir: str, rows: list, values: list | None = None) -> str:
    """events-shaped parquet from (event_id, user_id) rows (timestamps,
    types, and values filled deterministically; user_id may be None) —
    the ONE fixture writer for the corpus `events` schema. Pass
    ``values`` (same length, entries may be None) to override the
    deterministic value fill — the NULL-value regression corpora."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if values is None:
        values = [float(e % 7) for e, _ in rows]
    t = pa.table(
        {
            "event_id": pa.array([e for e, _ in rows], pa.int64()),
            "ts": pa.array(
                [_dt.datetime(2024, 1, 1 + (e % 28), e % 24) for e, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for _, u in rows], pa.int64()),
            "event_type": pa.array(
                [("click", "view", "purchase")[e % 3] for e, _ in rows],
                pa.string(),
            ),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}" for _ in rows], pa.string()),
        }
    )
    pq.write_table(t, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


# ---------------------------------------------------------------------------
# AQE final-plan readers
# ---------------------------------------------------------------------------

_PLAN_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter")


def final_plan_nodes(df):
    """(node, ancestor class names) over ``df``'s AQE final plan — run an
    action on ``df`` first. Reads through query stages and subqueries;
    codegen wrappers are left out of the ancestor names."""
    root = df._jdf.queryExecution().executedPlan()
    assert root.isFinalPlan(), "run an action on the DataFrame first"

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node, above):
        yield node, above
        name = node.getClass().getSimpleName()
        if "QueryStageExec" in name:
            kids = [node.plan()]
        elif name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        else:
            kids = seq(node.children())
        below = above if name in _PLAN_WRAPPERS else above + (name,)
        for kid in kids + seq(node.subqueries()):
            yield from walk(kid, below)

    yield from walk(root.executedPlan(), ())


def right_below_exchange(df, hit) -> list:
    """Final-plan nodes ``hit`` accepts whose nearest ancestor is a
    ShuffleExchangeExec: the map-side operators of a shuffle."""
    return [
        n
        for n, above in final_plan_nodes(df)
        if hit(n) and above[-1:] == ("ShuffleExchangeExec",)
    ]


def jobs_run_by(spark, build):
    """(build(), ids of the Spark jobs that ran while it built)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-by-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
