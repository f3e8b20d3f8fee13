"""Tests for the remaining reference surface (Telegram subscriber registry,
DDL, delivery sink)."""

from __future__ import annotations

import pytest

from currency_etl_spark.ddl import ensure_tables
from currency_etl_spark.notify import (
    TELEGRAM_USERS_SCHEMA,
    send_report,
    subscribe,
    subscribers_table,
    unsubscribe,
)


def _users(spark, rows):
    return spark.createDataFrame(rows, TELEGRAM_USERS_SCHEMA)


def test_subscribe_is_insert_if_absent(spark, tmp_path):
    t = subscribers_table(spark, str(tmp_path / "subs"))
    subscribe(t, _users(spark, [(1, "a", "A", None), (2, "b", "B", None)]))
    # /start again with a changed username must NOT overwrite (DO NOTHING)
    subscribe(t, _users(spark, [(1, "a_changed", "A", None), (3, "c", "C", None)]))
    rows = {r["chat_id"]: r["username"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}

    unsubscribe(t, [2])
    assert sorted(r["chat_id"] for r in t.read().collect()) == [1, 3]


def test_send_report_driver_and_distributed(spark, tmp_path):
    t = subscribers_table(spark, str(tmp_path / "subs2"))
    subscribe(t, _users(spark, [(10, "x", None, None), (20, "y", None, None)]))
    sent = []
    n = send_report(t.read(), "rate report", lambda cid, msg: sent.append((cid, msg)))
    assert n == 2
    assert sorted(sent) == [(10, "rate report"), (20, "rate report")]
    # distributed path executes without error (side effects land on executors)
    assert send_report(t.read(), "x", lambda cid, msg: None, distributed=True) == -1


def test_ensure_tables_idempotent(spark, tmp_path):
    ensure_tables(spark, db="currency_test", base_path=str(tmp_path / "cat"))
    ensure_tables(spark, db="currency_test", base_path=str(tmp_path / "cat"))  # rerun OK
    cols = [f.name for f in spark.table("currency_test.exchange_rates").schema.fields]
    assert cols == ["cc", "txt", "rate", "rate_per_100", "exchangedate", "created_at"]
    assert spark.table("currency_test.telegram_users").count() == 0
