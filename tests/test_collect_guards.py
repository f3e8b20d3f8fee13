"""Source-level guard on driver-side materialization: every ``.collect()``
/ ``.toPandas()`` / ``.toLocalIterator()`` in the package must be an
enumerated site with a stated reason it stays small (a scalar, a
partition/file list, a split histogram, a reference-scale report row set)
or is deliberately out of the distributed hot path (chart rendering,
fixture staging). An operator iterating ``.collect()`` results over data-
proportional rows isn't distributed. A new site fails the suite until
its bound is argued here, and an allowance whose site is gone fails it
too, so the table names only live sites."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "currency_etl_spark")

#: (file relative to the package, enclosing function) → why it's bounded.
ALLOWED_SITES = {
    ("__main__.py", "main"): "CLI report rows — reference-scale (analyze.py parity), not a data-plane operator",
    ("currency_queries.py", "currency_groups"): "one row per currency from a single grouped query",
    ("forecast.py", "render_png"): "chart sink renders a days-sized series — matplotlib needs local arrays",
    ("notify.py", "send_report"): "telegram message rows — reference-scale report output",
    ("sinks.py", "read_latest_silver"): "1-row max(partition) lookup",
    ("warehouse.py", "merge_upsert"): "distinct touched-partition list for pruned dynamic overwrite — O(partitions)",
    ("streaming/jobs.py", "_staged_late_dir"): "fixture staging for the late-replay landing dir (test scaffolding, built once per corpus version), not the streaming operator",
    ("operators/multimodal.py", "size_balanced"): "per-partition byte totals for bin packing — O(partitions)",
    ("queries/extras.py", "_exact_percentiles_distributed"): "1-row extrema/count aggregate",
    ("queries/extras.py", "_values_at_ranks"): "≤32-row split histogram per recursion level, ≤2·|qs| probed rank rows",
    ("queries/training.py", "_bpe_train_build"): "1-row argmax merge winner per step (≤ BPE_MERGES rows total) — the scalar iterative-training decision (bpe_merge_loop body, shared with docs_bpe_encode); BFS convergence-check precedent",
}


def _sites():
    found = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PACKAGE)
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("collect", "toPandas", "toLocalIterator")
                ):
                    fn = next(
                        (name for s, e, name in funcs if s <= node.lineno <= e),
                        "<module>",
                    )
                    found.append((rel, fn, node.lineno))
    return found


def test_every_materialization_site_is_justified():
    unknown = [
        f"{rel}:{line} in {fn}()"
        for rel, fn, line in _sites()
        if (rel, fn) not in ALLOWED_SITES
    ]
    assert unknown == [], (
        f"new driver-side materialization sites: {unknown} — keep the "
        "operator distributed, or add the site with its size bound to "
        "ALLOWED_SITES"
    )


def test_allowlist_does_not_rot():
    live = {(rel, fn) for rel, fn, _ in _sites()}
    stale = [k for k in ALLOWED_SITES if k not in live]
    assert stale == [], f"allowlisted sites no longer in source: {stale}"


def test_checkpoints_go_through_release_helpers():
    """Eager localCheckpoint blocks are never freed by Spark until the
    session ends, so every checkpoint must flow through operators/ckpt's
    one-live-per-tag helpers. A raw .localCheckpoint( anywhere else is
    an unbounded storage leak across re-invocations."""
    allowed = {
        ("operators/ckpt.py", "swap_checkpoint"),
        ("operators/ckpt.py", "chain_checkpoint"),
    }
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PACKAGE)
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    fn = next(
                        (name for s, e, name in funcs if s <= node.lineno <= e),
                        "<module>",
                    )
                    if (rel, fn) not in allowed:
                        offenders.append(f"{rel}:{node.lineno} in {fn}()")
    assert offenders == [], (
        f"raw localCheckpoint outside the release helpers: {offenders} — "
        "use operators.ckpt.swap_checkpoint/chain_checkpoint"
    )
