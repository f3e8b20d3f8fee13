"""Catalog-wide invariants: guard rails that keep every graded query
deterministic and contract-compliant, independent of its specific logic.

These catch the regressions the per-query oracle tests can't see coming:
someone adds current_date() to a new query and it passes today's oracle
run but diverges the day the driver re-runs it."""

from __future__ import annotations

import json
import os
import re

import pytest

import currency_etl_spark.catalog as catalog_mod
from currency_etl_spark.catalog import _grading_order, load_catalog

CATALOG = load_catalog()

#: expressions that make results time- or randomness-dependent
FORBIDDEN_PLAN_TOKENS = (
    "current_timestamp",
    "current_date",
    "now()",
    "rand(",
    "randn(",
    "uuid(",
    "shuffle(",  # array shuffle — nondeterministic order
)

# streaming queries build sinks eagerly; analyzed-plan text is checked for
# the batch queries where the logical plan is cheap to render
_PLAN_CHECKED = [
    name for name, spec in CATALOG.items() if "streaming" not in (spec.tags or ())
]


@pytest.mark.parametrize("name", sorted(_PLAN_CHECKED))
def test_no_nondeterministic_expressions(name, spark, sf_dir):
    df = CATALOG[name].spark_fn(spark, sf_dir)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "extended").lower()
    for token in FORBIDDEN_PLAN_TOKENS:
        assert token not in plan, f"{name}: nondeterministic expression {token!r} in plan"


def test_oracles_reference_only_corpus_tables():
    corpus = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        # FROM/JOIN targets must be corpus views or inline subqueries
        for tbl in re.findall(r"(?:FROM|JOIN)\s+([a-zA-Z_][a-zA-Z0-9_]*)", spec.oracle):
            assert tbl.lower() in corpus or tbl.lower() in {"", "r"} or tbl in (
                # CTE names are fine — they must be defined in the same query
                # (optionally with a recursive column list: name(a, b) AS (),
                # or DuckDB's materialization hint: name AS MATERIALIZED ()
                *re.findall(
                    r"(\w+)\s*(?:\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(",
                    spec.oracle,
                ),
            ), f"{name}: oracle references unknown table {tbl!r}"


def test_every_query_has_doc_and_tags():
    for name, spec in CATALOG.items():
        assert spec.doc and len(spec.doc) > 30, f"{name}: missing doc"
        assert spec.tags, f"{name}: missing tags"


def test_catalog_size_monotonic():
    # a floor, so an entry cannot be dropped silently
    assert len(CATALOG) >= 93
    # every entry is hash-graded against a DuckDB oracle; none is rows-only
    assert all(s.oracle for s in CATALOG.values())


def _write_round(root, rnd, names):
    """A CORRECTNESS_r{rnd}.json whose key order is the grading order."""
    rows = {n: {"hash_match": True} for n in names}
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


_NAMES = ["a", "b", "c", "d", "e", "f"]


def test_grading_order_without_files_is_registration_order(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text("{}")  # not a correctness file
    assert _grading_order(_NAMES, tmp_path) == _NAMES


def test_grading_order_leads_with_never_graded_then_oldest_rows(tmp_path):
    _write_round(tmp_path, 1, ["d", "b", "e"])
    _write_round(tmp_path, 2, ["e", "c"])
    # never graded: a, f (registration order); then newest rows
    # d=(1,0), b=(1,1), e=(2,0), c=(2,1), oldest first
    assert _grading_order(_NAMES, tmp_path) == ["a", "f", "d", "b", "e", "c"]


def test_grading_order_rotates_a_new_rounds_entries_to_the_back(tmp_path):
    _write_round(tmp_path, 1, ["d", "b", "e"])
    _write_round(tmp_path, 2, ["e", "c"])
    window = _grading_order(_NAMES, tmp_path)[:3]
    # the grading harness grades the leading entries and writes the file
    _write_round(tmp_path, 3, window)
    assert _grading_order(_NAMES, tmp_path) == ["b", "e", "c", "a", "f", "d"]


def test_load_catalog_returns_every_entry_once_in_grading_order():
    names = list(CATALOG)
    assert sorted(names) == sorted(catalog_mod.CATALOG)
    root = os.path.dirname(os.path.dirname(os.path.abspath(catalog_mod.__file__)))
    assert names == _grading_order(catalog_mod.CATALOG, root)
