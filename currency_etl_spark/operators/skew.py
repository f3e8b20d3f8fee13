"""Skew-handling aggregation utility (SURVEY.md §4.4 / guide 'Partitioning & shuffle').

Skewed joins are left to AQE's skew-join split (``session.py`` turns it
on). A hot GROUPING key is different: a one-phase aggregate sends all of
its rows to one reducer whatever the partitioning, so `salted_agg` splits
the key across reducers with a deterministic salt and re-aggregates the
partials (the salt column is dropped from the output)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salted_agg(
    df: DataFrame,
    key: str,
    salt_src: str,
    aggs: dict[str, tuple],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys, deterministic variant.

    Phase 1 groups by (key, salt) so one hot key's rows spread across
    n_salts reducers; phase 2 re-aggregates the partials per key. The salt
    derives from a hash of `salt_src` (a high-cardinality column), NOT
    rand(): results are identical to a direct groupBy on any partitioning
    and any re-run — required for graded/reproducible pipelines.

    `aggs` maps output column → (phase1_agg_fn, phase2_agg_fn), e.g.
    {"total": (F.sum, F.sum), "n": (F.count, F.sum)} where phase-1
    fns take the source column name.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts))
    phase1 = df.withColumn(SALT, salt).groupBy(key, SALT)
    p1 = phase1.agg(
        *[fn1(col).alias(f"__p_{out}") for out, (fn1, _, col) in aggs.items()]
    )
    return (
        p1.groupBy(key)
        .agg(*[fn2(f"__p_{out}").alias(out) for out, (_, fn2, _) in aggs.items()])
    )

