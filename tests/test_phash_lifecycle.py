"""Perceptual-index lifecycle invariants.

multimodal_phash_staleness / multimodal_phash_rebuild complete the
screen → staleness → rewrite verb set for the phash index family. Pin:
(1) both entries plan as reads of the memoized phash_base checkpoint —
zero parquet scans, zero extra Arrow passes (deletion and auditing are
METADATA-speed); (2) full python re-derivations from the parquet corpus
(third engine beside Spark and the DuckDB oracle); (3) the cross-entry
contracts — the staleness audit's hit+rescued equals the streaming
screen's probed-candidate count (same probes, same stored side), and
the rebuild's touched pages reconcile exactly with
multimodal_phash_dedup's full census."""

from __future__ import annotations

import hashlib

import pandas as pd

SF = "/root/testdata/sf0.001"


def _plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _base(sf: str):
    """doc_id -> (phash, checksum) via the operator's own gradient hash."""
    from currency_etl_spark.operators.multimodal import _gradient_hash

    docs = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
    return {
        int(r.doc_id): (
            _gradient_hash(r.text.encode("utf-8")),
            hashlib.md5(r.text.encode("utf-8")).hexdigest(),
        )
        for r in docs.itertuples()
    }


def test_staleness_plan_reads_checkpoint_only(spark):
    from currency_etl_spark.queries.multimodal import multimodal_phash_staleness

    p = _plan_of(multimodal_phash_staleness(spark, SF))
    # both sides (stored buckets, batch probes) read the ONE memoized
    # Arrow fingerprint pass — the audit never rescans the corpus or
    # re-decodes a blob
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p


def test_rebuild_plan_reads_checkpoint_only(spark):
    from currency_etl_spark.queries.multimodal import multimodal_phash_rebuild

    p = _plan_of(multimodal_phash_rebuild(spark, SF))
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "MapInPandas" not in p  # no second Arrow pass: metadata-speed


def test_staleness_matches_python_rederivation(spark):
    from currency_etl_spark.queries.multimodal import multimodal_phash_staleness

    base = _base(SF)
    stored = {d: h for d, (h, _) in base.items() if d % 10 != 7}
    batch = {d: h for d, (h, _) in base.items() if d % 10 == 7}
    sb = set(stored.values())
    hit = sum(1 for h in batch.values() if h in sb)
    any_hit = sum(
        1
        for h in batch.values()
        if ({h} | {h ^ (1 << i) for i in range(16)}) & sb
    )
    nb = len(batch)
    row = multimodal_phash_staleness(spark, SF).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_index_assets"] == len(stored)
    assert r["index_buckets"] == len(sb)
    assert r["n_batch_assets"] == nb
    assert r["batch_buckets"] == len(set(batch.values()))
    assert r["hit_assets"] == hit
    assert r["rescued_assets"] == any_hit - hit
    assert r["novel_assets"] == nb - any_hit
    assert r["exact_miss_share"] == round((nb - hit) / nb, 6)
    assert r["novel_share"] == round((nb - any_hit) / nb, 6)
    assert r["rebuild"] == (
        ((nb - hit) * 2 > nb) or ((nb - any_hit) * 4 > nb)
    )


def test_staleness_pins_to_streaming_screen(spark):
    """hit + rescued == the screen's probed-candidate count: both derive
    from the same 17-probe fanout against the same stored-slice bucket
    keys, so an asset has n_candidates > 0 in the screen exactly when
    the audit counts it as exact-hit or Hamming-rescued."""
    from currency_etl_spark.queries.multimodal import multimodal_phash_staleness
    from currency_etl_spark.streaming.jobs import streaming_phash_screen

    r = multimodal_phash_staleness(spark, SF).collect()[0]
    screen = streaming_phash_screen(spark, SF).collect()
    probed = sum(1 for s in screen if s["n_candidates"] > 0)
    assert r["hit_assets"] + r["rescued_assets"] == probed
    assert r["n_batch_assets"] == len(screen)


def test_rebuild_matches_python_rederivation(spark):
    from currency_etl_spark.queries.multimodal import multimodal_phash_rebuild

    base = _base(SF)
    by_bucket: dict = {}
    for d, (h, c) in base.items():
        by_bucket.setdefault(h, []).append((d, c))
    want = []
    for h in sorted(by_bucket):
        members = by_bucket[h]
        removed = [d for d, _ in members if d % 10 == 3]
        live = [(d, c) for d, c in members if d % 10 != 3]
        if not removed:
            continue
        want.append(
            (
                h,
                len(removed),
                len(live),
                min((d for d, _ in live), default=-1),
                len({c for _, c in live}),
                not live,
            )
        )
    got = [
        tuple(r)
        for r in multimodal_phash_rebuild(spark, SF).collect()
    ]
    assert got == want
    assert len(got) > 0


def test_rebuild_reconciles_with_dedup_census(spark):
    """Cross-entry contract with multimodal_phash_dedup (the full
    census): a touched page's removed+live must equal the full census's
    member count, its canonical must agree whenever the full canonical
    survived the delete, and every bucket ABSENT from the rebuild
    output must hold zero tombstoned members (the touched-page
    convention emits exactly the delete's footprint)."""
    from currency_etl_spark.queries.multimodal import (
        _phash_base,
        multimodal_phash_dedup,
        multimodal_phash_rebuild,
    )

    dedup = {
        r["phash"]: r for r in multimodal_phash_dedup(spark, SF).collect()
    }
    touched = {
        r["phash"]: r for r in multimodal_phash_rebuild(spark, SF).collect()
    }
    assert set(touched) <= set(dedup)
    for h, r in touched.items():
        full = dedup[h]
        assert r["n_removed"] + r["n_live"] == full["n_assets"]
        if full["canonical_doc"] % 10 != 3:
            # the full census's canonical survived → the page keeps it
            assert r["canonical_doc"] == full["canonical_doc"]
        elif not r["bucket_dropped"]:
            # canonical was deleted → the page re-elects a later live one
            assert r["canonical_doc"] > full["canonical_doc"]
    # untouched pages: no tombstoned member anywhere in the bucket
    tombed = {
        r["phash"]
        for r in _phash_base(spark, SF)
        .where("doc_id % 10 = 3")
        .select("phash")
        .distinct()
        .collect()
    }
    assert tombed == set(touched)
