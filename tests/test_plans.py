"""Physical-plan regression tests: lock in the properties that make these
queries scale — predicate pushdown, column pruning, broadcast joins, top-k
without global sorts, and absence of needless shuffles. A refactor that
silently drops one of these still returns correct rows; these tests are
what catches the 100 TB regression at sf0.001."""

from __future__ import annotations

import re

import pytest

from currency_etl_spark.queries.corpus import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    top_customers,
    topk_orders_per_segment,
)
from currency_etl_spark.queries.llm_ops import dedup_exact, text_stats
from currency_etl_spark.queries.vectors import knn_brute


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q1_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # unused columns pruned from the scan
    assert "l_partkey" not in read_schema


def test_q3_broadcasts_customer_and_topk(spark, sf_dir):
    p = plan_of(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # LIMIT 10 never global-sorts


def test_q5_single_shuffle_join_tree(spark, sf_dir):
    p = plan_of(q5_local_supplier_volume(spark, sf_dir))
    # all four dims broadcast; at most the fact-fact join shuffles
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", p)) <= 1
    assert p.count("BroadcastHashJoin") >= 4


def test_top_customers_aggregates_before_join(spark, sf_dir):
    p = plan_of(top_customers(spark, sf_dir))
    # the orders aggregate must sit BELOW the customer join in the plan tree:
    # join input is |customers|, not |orders|
    agg_pos = p.find("HashAggregate")
    join_pos = p.find("BroadcastHashJoin")
    assert agg_pos != -1 and join_pos != -1
    assert "TakeOrderedAndProject" in p


def test_topk_per_group_no_global_sort(spark, sf_dir):
    p = plan_of(topk_orders_per_segment(spark, sf_dir))
    assert "Window" in p
    # exactly the window shuffle on the group key; no rangepartitioning sort
    assert "rangepartitioning" not in p.lower()


def test_narrow_maps_have_no_shuffle(spark, sf_dir):
    for q in (text_stats,):
        p = plan_of(q(spark, sf_dir))
        assert "Exchange" not in p, f"{q.__name__} should be shuffle-free"


def test_dedup_exact_shuffles_digest_not_text(spark, sf_dir):
    p = plan_of(dedup_exact(spark, sf_dir))
    # the detail block "(N) Exchange\nInput [...]" lists what actually shuffles
    m = re.search(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert m, p
    shuffled_cols = m.group(1)
    assert "content_key" in shuffled_cols  # keyed on the md5 digest
    assert "text#" not in shuffled_cols  # the document body never shuffles


def test_knn_brute_broadcasts_query_vector(spark, sf_dir):
    p = plan_of(knn_brute(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_knn_lsh_broadcasts_probe_no_nested_loop(spark, sf_dir):
    from currency_etl_spark.queries.vectors import knn_lsh

    p = plan_of(knn_lsh(spark, sf_dir))
    # the probe is an equi-join on the bucket key — never a nested-loop scan
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_range_join_binned_is_equi_join(spark, sf_dir):
    from currency_etl_spark.queries.extras import events_range_join_binned

    p = plan_of(events_range_join_binned(spark, sf_dir))
    # binning must turn the inequality join into a hash equi-join on bin
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_stratified_sample_single_pass_no_join(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import docs_stratified_sample

    p = plan_of(docs_stratified_sample(spark, sf_dir))
    # one conditional-agg pass: a single scan, no joins, one agg exchange
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_multiprobe_equi_join_no_nested_loop(spark, sf_dir):
    from currency_etl_spark.queries.vectors import knn_lsh_multiprobe

    p = plan_of(knn_lsh_multiprobe(spark, sf_dir))
    # the widened probe set is still a hash equi-join on the bucket key
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_pii_and_repetition_are_narrow(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import docs_pii_scrub, docs_repetition_score

    for q in (docs_pii_scrub, docs_repetition_score):
        p = plan_of(q(spark, sf_dir))
        assert "Exchange" not in p, f"{q.__name__} should be shuffle-free"


def test_vocab_topk_no_global_sort(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import docs_vocab_coverage

    p = plan_of(docs_vocab_coverage(spark, sf_dir))
    # vocab top-K plans as per-partition heaps, never a global rank window
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # the tiny vocab broadcasts


def test_jaccard_est_branches_read_checkpoints(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import minhash_jaccard_est

    p = plan_of(minhash_jaccard_est(spark, sf_dir))
    # every branch reads the two materialized relations — the shingle
    # explode and the signature aggregation each ran exactly once, so no
    # parquet scan appears anywhere in the final plan
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p


def test_spread_is_noop_when_well_split(spark):
    from currency_etl_spark.sources import spread

    well_split = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
    assert spread(well_split) is well_split  # guard false → same plan object
    under_split = spark.range(0, 1000, 1, 1)
    assert spread(under_split).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_scd2_history_single_shuffle_two_windows(spark, sf_dir):
    from currency_etl_spark.queries.extras import events_scd2_history

    p = plan_of(events_scd2_history(spark, sf_dir))
    # both window passes (lag change-detect, lead/row_number interval close)
    # must share ONE user_id hash exchange — and no presentation sort adds
    # a range exchange on top
    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: ([^,\n(]+)", p)
    assert [e for e in exchanges if e.startswith("hashpartitioning")], p[:400]
    assert len(exchanges) == 1, exchanges
    assert p.count("(‹broadcast›") == 0  # no stray joins


def test_price_histogram_broadcast_stats_pruned_scan(spark, sf_dir):
    from currency_etl_spark.queries.extras import lineitem_price_histogram

    p = plan_of(lineitem_price_histogram(spark, sf_dir))
    # pass-1 min/max broadcast back; fact scan reads ONLY the price column
    assert "BroadcastNestedLoopJoin" in p and "BuildRight" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any(rs == "l_extendedprice:double" for rs in read_schemas), read_schemas


def test_concurrency_daily_fully_parallel_no_single_partition(spark, sf_dir):
    from currency_etl_spark.queries.extras import sessions_concurrency_daily

    p = plan_of(sessions_concurrency_daily(spark, sf_dir))
    # the whole occupancy pipeline must stay hash-partitioned — the classic
    # +1/-1 sweep would show a SinglePartition exchange for its global
    # prefix sum, which is exactly what this formulation avoids
    assert "SinglePartition" not in p
    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: ([^,\n(]+)", p)
    assert all(e.startswith("hashpartitioning") for e in exchanges), exchanges


def test_snapshot_diff_one_join_partial_agg(spark, sf_dir):
    from currency_etl_spark.queries.extras import orders_snapshot_diff

    p = plan_of(orders_snapshot_diff(spark, sf_dir))
    # one full-outer join on the key; the per-class rollup partial-aggregates
    # map-side before its exchange
    assert p.count("SortMergeJoin FullOuter") == 1
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


def test_sequence_pack_single_partition_window(spark, sf_dir):
    from currency_etl_spark.queries.training import docs_sequence_pack

    p = plan_of(docs_sequence_pack(spark, sf_dir))
    # packing is per-lang (= per-shard at scale): the cumsum window and the
    # (lang, seq_id) aggregation share hash partitioning — never a global
    # sort over the corpus, never a SinglePartition exchange on data
    assert "Window" in p
    assert "SinglePartition" not in p
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "source" not in read_schema  # unused column pruned


def test_domain_cap_prunes_text_from_scan(spark, sf_dir):
    from currency_etl_spark.queries.training import docs_domain_cap

    p = plan_of(docs_domain_cap(spark, sf_dir))
    # the quota rank needs only (source, doc_id): the document text must
    # not cross the wire — at 100 TB that is the difference between
    # shuffling keys and shuffling the corpus
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "text" not in read_schema, read_schema
    assert "Window" in p


def test_kmeans_assign_is_map_side(spark, sf_dir):
    from currency_etl_spark.queries.training import kmeans_assign_step

    p = plan_of(kmeans_assign_step(spark, sf_dir))
    # centroids enter as ONE broadcast row (array of structs); assignment is
    # an expression over the scan, so the vector table is never shuffled
    # before assignment and the only data-sized exchange is the k-key mean
    # aggregation (partial map-side first)
    assert "BroadcastNestedLoopJoin" in p and "BuildRight" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_ivf_kmeans_no_shuffle_joins(spark, sf_dir):
    from currency_etl_spark.queries.vectors import knn_ivf_kmeans

    p = plan_of(knn_ivf_kmeans(spark, sf_dir))
    # the trained index and the probe list always enter as broadcasts over
    # the vector scan; the final top-k never global-sorts
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p
    # the training chain is materialized once: the plan reads the 1-row
    # checkpointed index (ExistingRDD), not a re-derived aggregation tree
    assert "ExistingRDD" in p


def test_quality_filter_and_subword_tokens_are_narrow(spark, sf_dir):
    from currency_etl_spark.queries.curation import (
        docs_quality_filter,
        docs_subword_tokens,
    )

    for q in (docs_quality_filter, docs_subword_tokens):
        p = plan_of(q(spark, sf_dir))
        assert "Exchange" not in p, f"{q.__name__} should be shuffle-free"


def test_decontaminate_broadcasts_eval_single_shuffle(spark, sf_dir):
    from currency_etl_spark.queries.curation import docs_decontaminate

    p = plan_of(docs_decontaminate(spark, sf_dir))
    # the eval n-gram set is the broadcast side; the corpus-sized training
    # side joins map-side and partial-aggregates in the scan stage, so the
    # only exchange carries (doc_id, count) partials — never gram strings
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # exchanges: the eval-side distinct (gram-only, benchmark-sized) and the
    # per-doc count aggregation (doc_id + count partials). The corpus-sized
    # exploded stream — (doc_id, g) pairs — must never hit an exchange.
    exchanges = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert exchanges, p
    for cols in exchanges:
        assert not ("doc_id#" in cols and "g#" in cols), cols
    assert "partial_count" in p


def test_quantile_rollup_single_events_sized_exchange(spark, sf_dir):
    from currency_etl_spark.queries.extras import events_quantile_rollup

    p = plan_of(events_quantile_rollup(spark, sf_dir))
    # the only events-sized exchange is the (d, type, bin) daily summary's
    # partial aggregation; everything downstream (level-2 merge, cumulative
    # window, bin pick) runs on summary-sized relations, and the totals /
    # exact-percentile sides join broadcast
    assert "partial_count" in p
    assert "BroadcastHashJoin" in p
    exchanges = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert exchanges, p
    # no exchange may carry the raw value column — binning happens scan-side
    for cols in exchanges:
        assert "value#" not in cols, cols


def test_bigram_surprisal_two_content_exchanges_pruned_scan(spark, sf_dir):
    # pin the score table's BUILD plan (the memoized entry's final plan
    # is a checkpoint read — the geometry lives in _surprisal_build)
    from currency_etl_spark.queries.llm_ops import _surprisal_build

    p = plan_of(_surprisal_build(spark, sf_dir))
    # the full document text never crosses a KEYED exchange: bigram df
    # shuffles (bigram, partial count), the final aggregate shuffles doc_id
    # + partials. spread()'s RoundRobin repartition (a local-parallelism
    # shim, no-op on a well-split cluster scan) is exempt — it's the one
    # exchange allowed to carry text.
    keyed = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning",
        p,
    )
    assert keyed, p
    for cols in keyed:
        assert "text#" not in cols, cols
    # the 1-row corpus-size scalar enters broadcast, not via a shuffle join
    assert "BroadcastNestedLoopJoin" in p


def _rank_exchanges(p: str) -> "list[str]":
    """Partitioning of the first exchange below each
    AttachDistributedSequence (the sequence-id rank) in a formatted plan.
    The rank's child is a linear Project/Sort/Exchange chain, so the next
    Exchange line in the tree is the one it reads."""
    tree = p.split("\n\n", 1)[0].splitlines()
    out = []
    for i, line in enumerate(tree):
        if "AttachDistributedSequence" not in line:
            continue
        for below in tree[i + 1 :]:
            m = re.search(r"Exchange \((\d+)\)", below)
            if m:
                args = re.search(
                    rf"\({m.group(1)}\) Exchange\nInput \[\d+\]: \[[^\]]*\]\n"
                    r"Arguments: (\w+)",
                    p,
                )
                out.append(args.group(1))
                break
    return out


def test_zorder_rank_windows_are_partitioned(spark, sf_dir):
    """Both z-order audit layouts rank the fact relation through a
    range-partitioned sort (a rangepartitioning exchange under each
    sequence-id rank) — never an unpartitioned row_number window, the
    single-task bottleneck distributed_global_rank exists to avoid."""
    from currency_etl_spark.queries.extras import events_zorder_audit

    p = plan_of(events_zorder_audit(spark, sf_dir))
    assert _rank_exchanges(p) == ["rangepartitioning"] * 2, p
    assert "row_number()" not in p


def test_market_basket_topk_and_broadcast_prefilter(spark, sf_dir):
    from currency_etl_spark.queries.extras import orders_market_basket

    p = plan_of(orders_market_basket(spark, sf_dir))
    # rounded-lift top-25 never global-sorts, and the frequent-part
    # prefilter joins as a broadcast (never a shuffled dim)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    # the only single-partition stage is the 1-row n_orders scalar
    assert p.count("SinglePartition") <= 1


def test_interorder_gap_and_attribution_windows_are_keyed(spark, sf_dir):
    from currency_etl_spark.queries.extras import (
        customers_interorder_gap,
        events_click_attribution,
    )

    for fn in (customers_interorder_gap, events_click_attribution):
        p = plan_of(fn(spark, sf_dir))
        # lag()/count() windows partition on custkey / purchase id —
        # no global single-partition window anywhere in the plan
        assert "SinglePartition" not in p


def test_dim_stats_join_free_partial_agg(spark, sf_dir):
    from currency_etl_spark.queries.vectors import embeddings_dim_stats

    p = plan_of(embeddings_dim_stats(spark, sf_dir))
    # moment profile is explode → partial agg → one dim-keyed exchange:
    # no join and no single-partition stage at any point
    assert "Join" not in p
    assert "SinglePartition" not in p
    assert "HashAggregate" in p


def test_shingle_novelty_never_pairs_docs(spark, sf_dir):
    from currency_etl_spark.queries.llm_ops import docs_shingle_novelty

    p = plan_of(docs_shingle_novelty(spark, sf_dir))
    # the join keys on the shingle (dictionary relation), never doc×doc:
    # no nested-loop join over documents
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p


def test_stats_trio_broadcast_only_no_fact_reshuffle(spark, sf_dir):
    from currency_etl_spark.queries.extras import (
        docs_lang_source_chi2,
        nation_supplier_hhi,
        part_brand_price_elasticity,
    )

    for fn in (part_brand_price_elasticity, nation_supplier_hhi, docs_lang_source_chi2):
        p = plan_of(fn(spark, sf_dir))
        # dimension/marginal tables always broadcast; the fact table is
        # never on the build side of a shuffled join
        assert "BroadcastHashJoin" in p
        assert not re.findall(r"SortMergeJoin|ShuffledHashJoin", p)
        assert "CartesianProduct" not in p


def test_ntile_entries_have_no_unpartitioned_fact_window(spark, sf_dir):
    """The rank and ntile entries never funnel the fact/customer relation
    through an unpartitioned ORDER BY window: every rank is a sequence id
    over a rangepartitioning exchange, ntile() is gone (the closed-form
    bucket replaces it), and the only unpartitioned windows order the
    ≤10-row decile curve."""
    from currency_etl_spark.queries.extras import (
        customer_rfm,
        customers_rfm_segments,
        customers_segment_migration,
        customers_spend_gini,
        order_value_deciles,
        parts_revenue_pareto,
    )

    for fn, n_ranks in (
        (order_value_deciles, 1),
        (customer_rfm, 3),
        (customers_rfm_segments, 3),
        (customers_segment_migration, 2),
        (customers_spend_gini, 1),
        (parts_revenue_pareto, 1),
    ):
        p = plan_of(fn(spark, sf_dir))
        assert "ntile(" not in p, fn.__name__
        assert _rank_exchanges(p) == ["rangepartitioning"] * n_ranks, fn.__name__
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
            head = spec.split(",")[0]
            if " ASC" in head or " DESC" in head:
                assert head.startswith("decile#"), (fn.__name__, spec)


def test_equidepth_histogram_distributed_boundaries(spark, sf_dir):
    """lineitem_equidepth_histogram's round-6 rewrite: boundary
    percentiles come from split-histogram rank probes, never the builtin
    percentile() whose TypedImperativeAggregate merges every partition's
    value map on one node (ObjectHashAggregate in the plan). The returned
    plan is the final bucketing pass — it must read ONLY l_extendedprice
    and aggregate with codegen-friendly HashAggregate against literal
    boundaries."""
    from currency_etl_spark.queries.extras import lineitem_equidepth_histogram

    p = plan_of(lineitem_equidepth_histogram(spark, sf_dir))
    assert "ObjectHashAggregate" not in p  # builtin percentile is gone
    assert "percentile" not in p
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_quantity" not in read_schema
    assert "HashAggregate" in p


def _plan_path(node, hit):
    """Nodes from ``node`` down to the first descendant ``hit`` accepts,
    reading through AQE query stages, or None when nothing matches."""
    if hit(node):
        return [node]
    if "QueryStageExec" in node.getClass().getSimpleName():
        kids = [node.plan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for kid in kids:
        path = _plan_path(kid, hit)
        if path is not None:
            return [node] + path
    return None


def test_bloom_prefilter_is_a_scan_stage_broadcast_join(spark, sf_dir):
    """orders_bloom_prefilter leaves the row filtering to the planner:
    building the DataFrame runs no Spark job, and in the AQE final plan
    the orders scan feeds a BroadcastHashJoin inside its own stage, so
    non-matching orders are dropped before any exchange."""
    from currency_etl_spark.queries.extras import orders_bloom_prefilter

    sc = spark.sparkContext
    orders_bloom_prefilter(spark, sf_dir).collect()  # warm the table cache
    group = "test-bloom-prefilter-build"
    sc.setJobGroup(group, group)
    try:
        df = orders_bloom_prefilter(spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    df.collect()
    final = df._jdf.queryExecution().executedPlan()
    assert final.isFinalPlan()
    path = _plan_path(
        final.executedPlan(),
        lambda n: n.getClass().getSimpleName() == "FileSourceScanExec"
        and "orders.parquet" in n.toString(),
    )
    assert path is not None, final.toString()
    names = [n.getClass().getSimpleName() for n in path]
    joins = [i for i, n in enumerate(names) if n == "BroadcastHashJoinExec"]
    assert joins, names
    below_join = names[joins[-1] + 1:]
    assert not [n for n in below_join if "Exchange" in n or "QueryStage" in n], names


def test_knn_graph_bucketed_equi_joins_only(spark, sf_dir):
    """knn_graph_bucketed: the kNN graph must come from LSH-bucketed
    EQUI-joins — a nested-loop or shuffle join here means the all-pairs
    product leaked back in."""
    from currency_etl_spark.queries.vectors import knn_graph_bucketed

    p = plan_of(knn_graph_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert not re.findall(r"SortMergeJoin|ShuffledHashJoin", p)


def test_storage_quota_prunes_unused_columns(spark, sf_dir):
    """multimodal_storage_quota sizes assets from octet_length(text);
    the scan must read exactly (doc_id, text, lang) — source/n_chars
    pruned. At 100 TB with real blob columns this pruning is the
    difference between a metadata pass and dragging every asset byte
    through the scan."""
    from currency_etl_spark.queries.multimodal import multimodal_storage_quota

    p = plan_of(multimodal_storage_quota(spark, sf_dir))
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema and "lang" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_phash_dedup_single_arrow_pass_pruned_scan(spark, sf_dir):
    """The shared fingerprint BUILD must run exactly ONE Arrow
    mapInPandas pass over the blob column (fingerprint + checksum from
    the same scan — a second pass would re-read every asset byte at
    100 TB) and scan only (doc_id, text); the consuming entries
    (phash_dedup, phash_near) must read the memoized materialization
    (ExistingRDD, zero MapInPandas re-runs) and never plan an all-pairs
    comparison, with map-side partial combine on the 64-bit phash key."""
    from currency_etl_spark.queries.multimodal import (
        _phash_build,
        multimodal_phash_dedup,
        multimodal_phash_near,
    )

    pb = plan_of(_phash_build(spark, sf_dir))
    # one "(n) MapInPandas" detail header == one physical Arrow pass (the
    # formatted dump also names the node in the tree summary, so a raw
    # substring count reads 2 for a single node)
    assert len(re.findall(r"\(\d+\) MapInPandas", pb)) == 1, pb
    read_schema = pb.split("ReadSchema", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema

    for fn in (multimodal_phash_dedup, multimodal_phash_near):
        p = plan_of(fn(spark, sf_dir))
        assert "MapInPandas" not in p, p  # reads the checkpoint, no re-run
        assert "ExistingRDD" in p
        assert "partial_count" in p  # map-side combine before the exchange
        assert "NestedLoop" not in p and "Cartesian" not in p


def test_dedup_semantic_plan_shape(spark, sf_dir):
    """SemDeDup entry: the centroid codebook rides ONE broadcast (no N×k
    row explosion, no shuffled join anywhere before the Gram stage), the
    Gram tile is a single Arrow grouped-map (FlatMapGroupsInPandas, never
    BatchEvalPython), and the cap window partitions on centroid_id."""
    from currency_etl_spark.queries.llm_ops import dedup_semantic

    p = plan_of(dedup_semantic(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert spec.split(",")[0].startswith("centroid_id"), spec


def test_dup_span_hits_builder_shape(spark, sf_dir):
    """The shared ExactSubstr detection relation (memoized since r9):
    duplicated grams reach the gram stream as a LEFT-SEMI join — no pair
    generation, no collect_list — and exactly the two sides of the semi
    join re-run the gram generator (detect + probe, the standard
    recompute-vs-checkpoint trade INSIDE the one memoized build)."""
    from currency_etl_spark.queries.llm_ops import _dup_span_hits, _with_tokens
    from currency_etl_spark.sources import spread, table

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    p = plan_of(_dup_span_hits(docs))
    assert "LeftSemi" in p
    assert "collect_list" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Generate", p)) == 2


def test_dup_span_coverage_plan_shape(spark, sf_dir):
    """Exact-substring coverage: the hits relation is read from the
    memoized checkpoint (one detection build per session per SF, shared
    with the removal twin), and the only window partitions on doc_id
    (bounded by doc length)."""
    from currency_etl_spark.queries.llm_ops import docs_dup_span_coverage

    p = plan_of(docs_dup_span_coverage(spark, sf_dir))
    assert "Scan ExistingRDD" in p  # the memoized hits checkpoint
    assert "collect_list" not in p
    assert "CartesianProduct" not in p
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, "coverage lead() window missing"
    for spec in specs:
        assert spec.split(",")[0].startswith("doc_id"), spec


def test_dup_span_removal_plan_shape(spark, sf_dir):
    """ExactSubstr cut step: reads the memoized hits checkpoint (shared
    with the coverage twin), all windows partition on doc_id, the span
    list re-enters on a doc_id equi-join — never a cross join — and
    clean-text assembly is a row-local projection: ZERO Generate nodes
    (the corpus is never exploded to token rows for the cut)."""
    from currency_etl_spark.queries.llm_ops import docs_dup_span_removal

    p = plan_of(docs_dup_span_removal(spark, sf_dir))
    assert "Scan ExistingRDD" in p  # the memoized hits checkpoint
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert spec.split(",")[0].startswith("doc_id"), spec
    assert len(re.findall(r"\(\d+\) Generate", p)) == 0


def test_bm25_plan_shape(spark, sf_dir):
    """BM25 retrieval: the query-term relation is top-K-bounded and enters
    the posting scan as a BROADCAST join, the 1-row stats relation rides
    broadcast nested-loop cross joins, the top-N is TakeOrderedAndProject
    (never a global sort), and no window function appears anywhere."""
    from currency_etl_spark.queries.llm_ops import docs_bm25_search

    p = plan_of(docs_bm25_search(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "windowspecdefinition" not in p


def test_pq_adc_plan_shape(spark, sf_dir):
    """IVF-PQ/ADC search: coarse assignment and PQ coding are map-side
    array expressions over broadcast codebooks — NO window function
    anywhere in the Spark plan (the oracle's ROW_NUMBER is DuckDB-side
    only), the cell probe is a broadcast equi-join, the top-N is
    TakeOrderedAndProject, and nothing cartesian."""
    from currency_etl_spark.queries.vectors import knn_pq_adc

    p = plan_of(knn_pq_adc(spark, sf_dir))
    assert "windowspecdefinition" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_dedup_canonical_shuffles_digests_not_text(spark, sf_dir):
    """Same contract as dedup_exact: the group-by shuffle carries the
    40-byte digests, never the document body."""
    from currency_etl_spark.queries.llm_ops import dedup_canonical

    p = plan_of(dedup_canonical(spark, sf_dir))
    m = re.search(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert m, p
    shuffled = m.group(1)
    assert "content_key" in shuffled
    assert "text#" not in shuffled


def test_index_compact_reads_stored_checkpoint_only(spark, sf_dir):
    """The compaction ACTION rewrites the persisted assignment relation:
    its whole plan reads the memoized ivf_index checkpoint — zero parquet
    scans, no cartesian anything, no Python in the plan."""
    from currency_etl_spark.queries.vectors import knn_index_compact

    p = plan_of(knn_index_compact(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_index_rebuild_reads_stored_checkpoints_only(spark, sf_dir):
    """The rebuild ACTION retrains from the memoized codebook/assignment
    checkpoints and its own locally-checkpointed intermediates (probe
    elections, retrained centroids, rebuilt assignment, truth tiles):
    the final plan reads checkpoints only — zero parquet scans, nothing
    cartesian, no Python (the numpy truth tiles are paid inside the
    truth checkpoint's build, not in the served plan)."""
    from currency_etl_spark.queries.vectors import knn_index_rebuild

    p = plan_of(knn_index_rebuild(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "FlatMapCoGroupsInPandas" not in p


def test_lsh_recall_reads_memoized_bases(spark, sf_dir):
    """The recall report consumes the family's materialized index — no
    parquet rescan of the corpus anywhere in the final plan — and its
    truth-pair generation stays the join-free capped posting-list shape
    (windows only on the sx cap; no cartesian anything)."""
    from currency_etl_spark.queries.llm_ops import dedup_lsh_recall

    p = plan_of(dedup_lsh_recall(spark, sf_dir))
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_cdc_chunks_plan_is_row_local(spark, sf_dir):
    """Content-defined chunking is scan-bound: boundary selection and
    cut-list assembly are higher-order expressions, one explode emits
    the chunks, no join or window anywhere, no data-keyed shuffle."""
    from currency_etl_spark.queries.llm_ops import docs_cdc_chunks

    p = plan_of(docs_cdc_chunks(spark, sf_dir))
    assert "Join" not in p
    assert "windowspecdefinition" not in p
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    assert "hashpartitioning" not in p  # spread round-robin + sort only


def test_plans_doc_is_regenerated_with_the_catalog():
    """docs/PLANS.md records the catalog size it was generated for, and
    this test fails when they differ; the doc must also hold a section for
    every headliner. Growing the catalog or the headliner list without
    re-running tools/dump_plans.py fails here instead of silently
    under-representing new entries."""
    import os
    import sys

    from currency_etl_spark.catalog import load_catalog

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from dump_plans import HEADLINERS
    finally:
        sys.path.pop(0)
    doc = open(os.path.join(root, "docs", "PLANS.md")).read()
    cat = load_catalog()
    m = re.search(r"PLANS_CATALOG_SIZE = (\d+) \(headliners: (\d+)\)", doc)
    assert m, "marker missing — regenerate with python tools/dump_plans.py"
    assert int(m.group(1)) == len(cat), (
        f"PLANS.md generated against {m.group(1)} catalog entries, "
        f"catalog now has {len(cat)} — re-run python tools/dump_plans.py"
    )
    assert int(m.group(2)) == len(HEADLINERS)
    for name in HEADLINERS:
        assert name in cat, f"headliner {name} is not a catalog entry"
        assert f"## {name}" in doc, (
            f"headliner {name} has no section — re-run python tools/dump_plans.py"
        )
