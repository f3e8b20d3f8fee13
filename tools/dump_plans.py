#!/usr/bin/env python
"""Regenerate docs/PLANS.md: formatted physical plans of headline queries
with the scale-relevant reading of each. Run after changing any query:

    python tools/dump_plans.py [sf_dir]

With ``--round N``, capture the before/after evidence of a plan change
instead: each named entry's formatted plan, at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test corpus), goes to plans/rN/<entry>_<before|after>.txt:

    python tools/dump_plans.py --round 18 before q1_pricing_summary graph_pagerank_bipartite
    python tools/dump_plans.py --round 18 after graph_pagerank_bipartite
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from currency_etl_spark.catalog import load_catalog
from currency_etl_spark.session import get_spark

HEADLINERS = {
    "q1_pricing_summary": (
        "Scan-heavy aggregate. Check: PushedFilters carries the shipdate "
        "predicate into parquet; ReadSchema holds only the 7 needed columns; "
        "partial_* aggregate functions show map-side combine before the single "
        "exchange."
    ),
    "q5_local_supplier_volume": (
        "6-way join. Check: every dimension joins as BroadcastHashJoin; at "
        "most one shuffle-side join (orders⋈lineitem) in the whole tree."
    ),
    "top_customers": (
        "Aggregate-then-join. Check: the orders HashAggregate sits below the "
        "customer BroadcastHashJoin (join input is |customers|, not |orders|); "
        "TakeOrderedAndProject for the LIMIT — no global sort."
    ),
    "topk_orders_per_segment": (
        "Per-group top-k. Check: one hashpartitioning exchange on the group "
        "key feeding WindowGroupLimit/Window — no rangepartitioning sort."
    ),
    "dedup_exact": (
        "Digest-keyed dedup. Check: the Exchange Input row carries "
        "content_key (md5) + partial aggregates — the document text column "
        "does not cross the wire."
    ),
    "dedup_minhash_lsh": (
        "MinHash+LSH. Check: one pass computes all 16 signature mins; band "
        "keys posexplode from an array (no repeated signature jobs); pairs "
        "come from posting-list explosion, no self-join of the band table."
    ),
    "asof_purchase_last_click": (
        "As-of join via union-sort. Check: a single hashpartitioning "
        "exchange on user_id feeding one Window sort — no range-join "
        "explosion, no per-group Python."
    ),
    "knn_brute": (
        "Vector top-k. Check: the 1-row query vector enters via "
        "BroadcastNestedLoopJoin; TakeOrderedAndProject keeps only k rows "
        "per partition before the driver merge."
    ),
    "docs_clean_corpus": (
        "Cleaning composition. Check: the quality filters sit below the "
        "dedup Exchange (pushed ahead of the shuffle); the Exchange carries "
        "the md5 digest + partial aggregates, not text."
    ),
    "events_rolling_24h": (
        "RANGE-frame window. Check: a single hashpartitioning exchange on "
        "user_id; the Window node shows a RANGE specification over the "
        "epoch column, evaluated incrementally."
    ),
    "minhash_jaccard_est": (
        "LSH verify stage. Check: ZERO parquet scans — every branch reads "
        "the family's memoized checkpoints (Scan ExistingRDD: "
        "signatures, candidate pairs, and — since r16 — the exact-"
        "overlap pair relation shared verbatim with dedup_lsh_recall "
        "via the minhash_overlap memo), so the shingle explode, the "
        "16-min signature aggregation AND the capped posting-list "
        "pair-gen each ran exactly once per session per SF."
    ),
    "knn_lsh_multiprobe": (
        "Multi-probe ANN. Check: the widened probe set still enters as a "
        "BroadcastHashJoin on the bucket key (never BroadcastNestedLoop); "
        "TakeOrderedAndProject caps the merge at k rows."
    ),
    "docs_vocab_coverage": (
        "Vocab coverage. Check: the vocab top-k plans as "
        "TakeOrderedAndProject (per-partition heaps, no global rank "
        "window) and re-enters the coverage join as a BroadcastHashJoin."
    ),
    "events_scd2_history": (
        "SCD2 from a changelog. Check: exactly ONE hashpartitioning "
        "exchange on user_id feeds BOTH Window operators (lag change-"
        "detect, lead/row_number interval close) — the second window "
        "reuses the first's partitioning and ordering; no range exchange "
        "(unordered return)."
    ),
    "lineitem_price_histogram": (
        "Two-pass equi-width histogram. Check: the fact scan's ReadSchema "
        "is only l_extendedprice; the 1-row min/max aggregate re-enters as "
        "BroadcastNestedLoopJoin BuildRight (broadcast stats, never a "
        "shuffle join); two-phase partial/final HashAggregate on the "
        "bucket key."
    ),
    "docs_sequence_pack": (
        "Sequence packing. Check: the cumsum Window partitions on "
        "(lang, shard) — partition count grows with the corpus, never "
        "pinned to |languages|; no SinglePartition exchange; ReadSchema "
        "carries only (doc_id, lang, text)."
    ),
    "kmeans_assign_step": (
        "K-means Lloyd step. Check: centroids enter as ONE broadcast row "
        "(BroadcastNestedLoopJoin BuildRight over an array of structs) so "
        "assignment is map-side; the only data-sized exchange is the k-key "
        "partial/final mean aggregation; no SortMergeJoin anywhere."
    ),
    "multimodal_dedup_assets": (
        "Content-addressed dedup. Check: the Exchange carries only "
        "(checksum, doc_id, n_bytes) partial aggregates — the blob bytes "
        "never cross the wire; partial_min/partial_count before the "
        "exchange."
    ),
    "docs_decontaminate": (
        "Benchmark decontamination. Check: the eval n-gram set builds on "
        "its own tiny exchange then enters as the BroadcastHashJoin build "
        "side; the corpus-sized exploded gram stream never hits an "
        "exchange (partial_count in the scan stage — the only data-sized "
        "exchange carries (doc_id, count) partials)."
    ),
    "docs_quality_filter": (
        "Composite rule filter. Check: zero Exchange operators — the five "
        "rule booleans and their conjunction are one narrow projection "
        "inside WholeStageCodegen over the scan."
    ),
    "knn_recall_report": (
        "ANN recall eval. Check: the query set and probe list enter as "
        "broadcasts; each per-query top-k runs the salted two-phase "
        "Window ((qid, salt) then qid) so no single task sorts a query's "
        "full candidate list; ONE aggregate computes n_retrieved and "
        "n_overlap together off a LEFT join against the exact top-k "
        "(r16: the two-aggregate form executed the whole methods "
        "subtree — both candidate joins and all four salted windows — "
        "twice; 22 parquet scans → 14)."
    ),
    "embedding_pq": (
        "Product quantization. Check: the codebook is ONE broadcast row "
        "(BroadcastNestedLoopJoin BuildRight); coding+MSE is a single "
        "narrow projection — no Exchange after the broadcast, so the "
        "corpus is scanned exactly once."
    ),
    "graph_pagerank_bipartite": (
        "Iterative PageRank. Check: the edge list (with window-derived "
        "degrees) reads from ONE checkpointed relation (ExistingRDD) in "
        "every iteration — no parquet re-scan per round; the symmetric "
        "edge doubling is an in-row Generate (r16: the old self-union "
        "re-ran the scan + fact-sized distinct once per branch — ONE "
        "Scan parquet and ONE distinct HashAggregate in the checkpoint "
        "build now); each round is one join + integer partial_sum "
        "exchange; the final top-k is TakeOrderedAndProject, never a "
        "global sort."
    ),
    "events_sketch_rollup": (
        "Mergeable-sketch rollup. Check: two aggregation levels — "
        "partial/final hll_sketch_agg per (day, type), then "
        "hll_union_agg per type over the daily sketches; the events "
        "scan happens once per branch and the merge level's input is "
        "sketch-sized (days × types rows), not event-sized."
    ),
    "dedup_incremental": (
        "Incremental (new-batch × corpus) dedup. Check: both the exact "
        "digest join and the band join are batch-vs-corpus only (the "
        "filters on doc_id % 10 sit UNDER the joins, so no corpus×corpus "
        "pair work); the band join keys are the capped band buckets; at "
        "the test SFs the small batch side broadcasts, at 100 TB it "
        "shuffles by band key against the stored index."
    ),
    "events_sliding_wau": (
        "Sliding COUNT(DISTINCT). Check: the (day,user) dedup aggregate "
        "sits directly on the scan (raw events collapse before any join); "
        "the <=7 window-end fanout is a narrow Generate (explode of day "
        "offsets) followed by a BroadcastHashJoin LeftSemi against the "
        "days-sized dimension — no nested-loop range join anywhere; "
        "Expand feeds the two distinct counts from one input."
    ),
    "events_scd2_fact_version": (
        "Join-eliminated temporal stamp. Check: a single hashpartitioning "
        "exchange on user_id feeds one Window housing BOTH the lag "
        "change-detect and the running sum — no join operator anywhere "
        "in the plan, no second exchange."
    ),
    "bpe_pair_merge": (
        "Tokenizer merge step. Check: pair counting aggregates the "
        "vocab-sized word relation (the only corpus-sized work is the "
        "word-frequency groupBy); the argmax merge enters as a "
        "BroadcastNestedLoopJoin of a 1-row relation; the final ranking "
        "is a LIMIT over a tiny pair relation."
    ),
    "docs_weighted_sample": (
        "Weighted sample. Check: scoring is a narrow Project over the "
        "scan (no exchange before the top-k) and the plan ends in "
        "TakeOrderedAndProject — per-partition heaps, never a global "
        "sort."
    ),
    "orders_bloom_prefilter": (
        "Selective-dimension join, filtered by the planner. Check: the "
        "filtered customer side is a BroadcastExchange and the orders scan "
        "feeds the BroadcastHashJoin with no Exchange between them — "
        "non-matching orders drop in the scan stage. Above the broadcast "
        "threshold the join would shuffle and Spark's runtime Bloom filter "
        "would prune the orders side instead."
    ),
    "events_quantile_rollup": (
        "Mergeable quantile rollup. Check: the daily summary aggregate "
        "(d, type, bin) is the only events-sized exchange; the level-2 "
        "merge, cumulative-count window, and bin pick all run on the "
        "summary-sized relation; the exact-percentile branch is a "
        "separate scan feeding a |types|-row join."
    ),
    "docs_bigram_surprisal": (
        "Bigram surprisal. Check: exactly two content exchanges — one "
        "hashpartitioning on bigram building the doc-frequency table "
        "(SortMergeJoin back to the pairs), one on doc_id for the final "
        "aggregate; the corpus-size scalar enters as a "
        "BroadcastNestedLoopJoin of a 1-row relation."
    ),
    "events_zorder_audit": (
        "Z-order layout audit. Check: each layout's rank is "
        "AttachDistributedSequence over a Sort fed by a rangepartitioning "
        "Exchange on (key, event_id) — the range partitioner spreads the "
        "fact relation over parallel sort tasks; no row_number window "
        "ever sees the fact relation."
    ),
    "docs_inverted_index": (
        "Inverted-index build. Check: one exchange to (doc, term) tf "
        "pairs, one term-keyed Window computing df + tf AND rank-capping "
        "posting rows to K before the collect_list aggregate — bounded "
        "aggregation state however hot the term."
    ),
    "orders_market_basket": (
        "Market-basket lift. Check: ZERO parquet scans — the distinct "
        "(orderkey, partkey) basket relation is checkpointed once "
        "(r16: it feeds four branches, which previously re-ran the "
        "lineitem scan + distinct shuffle 5x) and every branch reads "
        "Scan ExistingRDD; the frequent-part top-200 enters as a "
        "BroadcastHashJoin (Apriori prefilter BEFORE the pair "
        "self-join); pairs materialize per order behind the orderkey "
        "join, never globally; the rounded-lift top-25 is "
        "TakeOrderedAndProject."
    ),
    "customers_interorder_gap": (
        "Repurchase cadence. Check: the lag() Window partitions on "
        "o_custkey (millions of small windows, no global sort); the "
        "customer join consumes the per-customer AGGREGATE — join input "
        "is |customers|, not |orders|."
    ),
    "embeddings_dim_stats": (
        "Per-dimension moments. Check: zero joins anywhere; posexplode "
        "feeds partial_sum/partial_count HashAggregates (map-side "
        "combine collapses the exploded stream to |dims| rows per task) "
        "before the single dim-keyed exchange; sums fold 1e6-quantized "
        "int64 + DECIMAL squares, never raw doubles."
    ),
    "docs_source_token_divergence": (
        "Mixture drift. Check: token stream collapses to the (source, "
        "word) frequency grid via partial aggregation before any join; "
        "the vocab table and corpus total enter as broadcasts; the TV "
        "fold sums 1e12-quantized int64 deltas."
    ),
    "events_click_attribution": (
        "Multi-touch attribution. Check: purchases⋈clicks is ONE "
        "user_id-keyed join (the 24 h bound is an intra-partition "
        "filter); the touch-count Window partitions on the purchase id; "
        "credits are 1e6-quantized before the day rollup."
    ),
    "customers_segment_migration": (
        "Segment migration matrix. Check: each half is one partial-agg "
        "pass over orders into a checkpointed customers-sized base; the "
        "data-derived midpoint enters as a 1-row broadcast; the quartile "
        "is distributed_ntile — AttachDistributedSequence over a "
        "rangepartitioning Exchange + Sort, the row count a broadcast "
        "1-row aggregate; the halves align via FULL OUTER SortMergeJoin "
        "on custkey (correctly NOT broadcastable)."
    ),
    "order_value_deciles": (
        "Distributed ntile with TELESCOPED lag/lead. Check: ntile() "
        "absent (closed-form bucket from the rank); the orders-sized "
        "rank is AttachDistributedSequence over a rangepartitioning "
        "Exchange + Sort, feeding a min_by/max_by decile aggregate; the "
        "only window is the 10-row finishing lag ordered by decile; NO "
        "self-joins and NO checkpoint (per-row steps over a "
        "rank-contiguous decile telescope to boundary differences)."
    ),
    "dedup_semantic": (
        "SemDeDup semantic rung. Check: assignment is a map-side "
        "expression over a 1-row BroadcastExchange (the seeded centroid "
        "codebook) — no N×k explosion; the cluster cap's row_number "
        "Window partitions on centroid_id; the Gram tile runs as ONE "
        "FlatMapGroupsInPandas (Arrow) per cluster over ≤SEM_CAP "
        "members — exact int64 dots, no BatchEvalPython; cosine/round/"
        "threshold are JVM-side expressions above it."
    ),
    "streaming_dedup_screen": (
        "Streaming LSH ingest screen (batch post-processing of the "
        "pooled memory sink). Check: the sink rollup is one "
        "doc_id-keyed HashAggregate (max flag + distinct candidates); "
        "the stream side (not in this plan) is stateless — two "
        "stream-static joins against the stored index, no state store."
    ),
    "customers_spend_gini": (
        "Closed-form Gini over the distributed rank. Check: the rank is "
        "AttachDistributedSequence over a rangepartitioning Exchange + "
        "Sort of the 1e4-quantized spend; no window anywhere; the "
        "rank-weighted sum folds as a plain partial/final HashAggregate "
        "to one row."
    ),
    "parts_revenue_pareto": (
        "Pareto curve over the distributed rank. Check: the part-revenue "
        "rank is AttachDistributedSequence over a rangepartitioning "
        "Exchange + Sort of the NEGATED 1e4-quantized revenue; the row "
        "count (__ntot) and the grand total enter as 1-row broadcasts; "
        "the only ordered unpartitioned window runs on the 10-row decile "
        "curve."
    ),
    "docs_shingle_novelty": (
        "Shingle novelty. Check: NO join at all since r16 — the first-"
        "claimant doc is a min() window on the shingle key (the old "
        "groupBy + join-back executed the scan + shingle explode twice "
        "and shuffled the exploded relation twice); one s-keyed "
        "exchange, then per-doc counts re-aggregate on doc_id; still no "
        "doc×doc pairing anywhere."
    ),
    "events_transition_dwell": (
        "Transition dwell. Check: the lag() Window partitions on "
        "user_id; dwell is an exact unix_micros int64 difference — the "
        "(prev, type) rollup sums integers, no float fold."
    ),
    "events_state_machine_audit": (
        "Protocol audit. Check: the whole state machine is ONE "
        "conditional-min aggregate pass on user_id (partial_min per "
        "type) — no window, no ordering, no self-join; the rule rollup "
        "is a 1-row stack()."
    ),
    "multimodal_phash_dedup": (
        "Perceptual near-dup. Check: exactly ONE MapInPandas node (the "
        "fingerprint and checksum come out of the same Arrow pass — a "
        "second pass would re-read every asset byte); ReadSchema is "
        "(doc_id, text) only; partial_count/partial_min fold map-side "
        "before the phash-key exchange; no nested-loop or cartesian "
        "join anywhere (bucket-don't-compare, as in dedup_minhash_lsh)."
    ),
    "knn_graph_bucketed": (
        "kNN-graph build. Check: the self-join keys on the 6-bit LSH "
        "bucket (candidates O(Σ bucket²), never all-pairs); per-vector "
        "norms are computed in the bucketed projection, NOT per pair "
        "(one fold per pair); per-point top-3 is WindowGroupLimit on "
        "vec_id partitions."
    ),
    "supplier_reach_bfs": (
        "Recursive-CTE BFS. Check: the edge list is a localCheckpointed "
        "scan (UnionLoopRef / checkpoint RDD scan), NOT the agg+window+"
        "join pipeline replayed per recursion round; the recursion "
        "operator (UnionLoop) sits above frontier×edges joins only."
    ),
    "knn_truncation_recall": (
        "Truncation-recall audit. Check: the truncated column is a "
        "slice() projection on the same scan (no second embeddings "
        "read per branch beyond plan reuse); both candidate branches "
        "broadcast the 8-row query set; per-query top-k goes through "
        "the salted two-phase window, no single-partition rank."
    ),
    "embedding_power_iteration": (
        "Distributed PCA step. Check: one narrow projection computes "
        "the fold-based dot; posexplode feeds a 64-key partial-agg "
        "HashAggregate (map-side combine collapses per task); the "
        "normalizer is a 1-row broadcast — no join touches the "
        "vector-sized relation twice."
    ),
    "customers_churn_labels": (
        "Point-in-time label build. Check: the cutoff enters as a "
        "1-row broadcast; features and labels are separate partial-agg "
        "passes over orders; the label LEFT join and the segment join "
        "run on customer-sized aggregates."
    ),
    "multimodal_storage_quota": (
        "Byte-budget quota. Check: ReadSchema carries only doc_id/lang/"
        "text metadata (no blob materialization beyond byte length); "
        "the cumulative window partitions per language; the budget cut "
        "is an integer predicate, no float threshold."
    ),
    "multimodal_phash_near": (
        "Radius-1 perceptual multiprobe. Check: the fingerprint relation "
        "is ONE memoized Arrow pass — both the probe side and the bucket "
        "side read the same checkpoint (Scan ExistingRDD twice, zero "
        "MapInPandas re-runs); the 17-probe fanout is a narrow Generate "
        "(explode of a 17-element array); neighbor matching is a hash "
        "equi-join on the probed bucket key — no nested-loop, no "
        "all-pairs; the degree histogram is two partial/final "
        "HashAggregates."
    ),
    "embedding_label_outliers": (
        "Embedding hygiene. Check: centroids fold quantized int64 per "
        "(label, dim) and broadcast back onto the exploded vectors; "
        "squared distances fold 1e12-quantized on vec_id; the p95 table "
        "is a broadcast join of |labels| rows."
    ),
    # --- r9 headliners ---
    "docs_bm25_search": (
        "BM25 retrieval. Check: the query-term relation enters as a "
        "broadcast; per-term postings aggregate BEFORE the score join "
        "(term-keyed partial aggregation); the final top-n is "
        "TakeOrderedAndProject — no global sort of all scored docs."
    ),
    "docs_dup_span_removal": (
        "ExactSubstr CUT step. Check: the duplicated-gram detection "
        "relation is the memoized dup_hits checkpoint (Scan ExistingRDD "
        "— shared verbatim with docs_dup_span_coverage, detection paid "
        "once); interval merge is a per-doc window (doc_id-partitioned), "
        "no pair generation anywhere."
    ),
    "knn_pq_adc": (
        "IVF-PQ asymmetric-distance search. Check: codebook and distance "
        "table enter as 1-row broadcasts; the coarse cell id is a "
        "map-side argmin INSIDE the coded projection (r16: previously a "
        "separate corpus-sized relation joined back on vec_id — the "
        "corpus shuffled twice at scale); candidates come from the "
        "nprobe cell equi-join; ADC scoring is a narrow in-row "
        "projection over PQ codes — full embeddings never touched at "
        "probe time."
    ),
    "dedup_canonical": (
        "Normalization-robust exact dedup. Check: the canonical digest "
        "is computed in the scan projection (regex chain in the "
        "Java/RE2-agreeing subset); the Exchange carries digests only, "
        "never text; partial_count/partial_min fold map-side."
    ),
    "dedup_lsh_recall": (
        "LSH recall calibration. Check: truth pairs read the memoized "
        "minhash_overlap checkpoint (r16: shared verbatim with "
        "minhash_jaccard_est — the capped posting-list pair-gen runs "
        "once per session, not once per entry) and candidates the "
        "memoized band pairs (Scan ExistingRDD, no rebuild); the decile "
        "histogram is a ≤10-row aggregate — no corpus-sized join above "
        "the pair relations."
    ),
    "customers_k_anonymity": (
        "k-anonymity audit. Check: one narrow-QI exchange (the "
        "generalized quasi-identifier tuple) feeding partial/final "
        "HashAggregates; the risk rollup runs on the group-sized "
        "relation; no window over the full customer relation."
    ),
    "docs_cdc_chunks": (
        "Content-defined chunking. Check: rolling-hash cut-point "
        "election is one narrow in-row expression chain over the token "
        "array (size(t) >= W guarded); chunks materialize at scan "
        "speed — zero exchanges before the per-doc chunk explode."
    ),
    # --- r10 headliners ---
    "knn_incremental": (
        "Incremental ANN ingest screen. Check: the stored index enters "
        "as TWO checkpoint reads (Scan ExistingRDD: ivf_cents 1-row "
        "codebook + ivf_index assignments) and the embeddings parquet "
        "is scanned exactly ONCE (the batch); the in-row nprobe cell "
        "election explodes to an equi-join on cell — batch x batch "
        "pairs never form; top-1 is min(struct), window-free."
    ),
    "docs_quality_calibration": (
        "Quality-rule reliability table. Check: dup labels read from "
        "the memoized dedup-family bases (Scan ExistingRDD), never "
        "recomputed; three doc-keyed boolean relations join on doc_id; "
        "the output rollup is a ≤6-row histogram — shuffles never "
        "carry text."
    ),
    "streaming_knn_screen": (
        "Streaming ANN screen (batch post-processing of the pooled "
        "memory sink). Check: the sink rollup is one vec_id-keyed "
        "HashAggregate (min(struct) election via the SHARED "
        "vectors.screen_top1); the stream side (not in this plan) is "
        "stateless — the shared screen_candidates plan, stream-static "
        "joins against the stored index, no state store."
    ),
    "customers_l_diversity": (
        "l-diversity audit. Check: the latest-order sensitive value is "
        "a custkey-bounded groupBy max(struct) — no window over orders; "
        "the distinct-sensitive count rides the narrow-QI exchange; "
        "rollup is group-sized."
    ),
    # --- r11 headliners ---
    "knn_index_staleness": (
        "Index-staleness recall audit. Check: ZERO parquet scans in the "
        "final plan — the stored index enters from the ivf_cents/"
        "ivf_index checkpoints and the probe relation from its own "
        "checkpoint (two consumers, one scan); ground truth is exactly "
        "ONE FlatMapCoGroupsInPandas stage (per-cell exact int64 matmul "
        "tiles emitting cell-local top-K only — the dedup_semantic rule "
        "for pair-dense vector work; no interpreted per-pair folds, no "
        "BatchEvalPython); the only window partitions on vec_id over "
        "<= cells x K rows; the nprobe grid is a Generate (in-row "
        "sequence explode), never a join."
    ),
    "customers_t_closeness": (
        "t-closeness release audit. Check: ONE narrow-QI exchange builds "
        "the (QI, sensitive) count relation, checkpointed (Scan "
        "ExistingRDD × 3 — global distribution, group sizes, and the "
        "fold all read it; customer/orders scanned once, at the "
        "checkpoint build); the global distribution enters as a "
        "bounded-domain broadcast and the total as a 1-row broadcast; "
        "the TV numerator folds exact int64 cross products (no float "
        "accumulation, no value-grid join — absent values close in "
        "closed form); output is a <=10-row band histogram."
    ),
    "streaming_phash_screen": (
        "Streaming perceptual screen (batch post-processing of the "
        "pooled memory sink). Check: the sink rollup is one doc_id-"
        "keyed HashAggregate (max flag + distinct candidates); the "
        "stream side (not in this plan) is stateless and holds exactly "
        "ONE MapInPandas — the arriving batch's fingerprint pass — with "
        "the stored index entering from the memoized phash_base "
        "checkpoint (pinned in tests/test_phash_screen.py)."
    ),
    # --- r13 headliners ---
    "docs_packing_bestfit": (
        "Best-fit-decreasing packer. Check: exactly ONE "
        "FlatMapGroupsInPandas keyed on (lang, shard) — the sequential "
        "greedy fold runs per bounded group (<= SHARD_DOCS docs), group "
        "count grows with the corpus; ONE parquet scan (documents); no "
        "BatchEvalPython, no window at all — everything downstream of "
        "the grouped map is shard- then language-sized HashAggregates."
    ),
    "events_adaptive_salted_agg": (
        "Audit-keyed adaptive aggregation. Check: on the graded skewed "
        "key the plan IS the salted two-phase aggregate — xxhash64 salt "
        "and a (key, __salt) phase-1 HashAggregate before the per-key "
        "phase 2 (at the decision boundary the same builder plans the "
        "plain one-phase GROUP BY: no xxhash64 anywhere — pinned in "
        "tests/test_key_skew.py); the audit's decision scan prunes to "
        "the key column; decision inputs enter as literals from the "
        "1-row collected globals, never a data-sized driver relation."
    ),
    "knn_filtered_search": (
        "Facet-filtered ANN. Check: the stored index enters from the "
        "ivf_cents/ivf_index checkpoints (Scan ExistingRDD), ONE "
        "parquet scan (the batch); the facet predicate composes INSIDE "
        "the probe join (filter on the candidate relation BEFORE the "
        "rank — at 100 TB the assignment table is partitioned by cell "
        "and bucketed by the facet column so this prunes storage); the "
        "only window partitions on vec_id."
    ),
    "docs_hybrid_search_rrf": (
        "Hybrid BM25+vector RRF. Check: tf/df enter from the "
        "text_tf/text_df checkpoints (Scan ExistingRDD — the memoized "
        "stored index, zero documents scans); each arm truncates via "
        "sort-limit (TakeOrderedAndProject) BEFORE its ranking window, "
        "so both windows order 10-row relations; the fusion join is "
        "arm_n x arm_n-bounded; the 1-row query vector and stats ride "
        "broadcasts."
    ),
    "docs_mixture_temperature": (
        "Temperature-scaled mixture. Check: one map-side-combinable "
        "languages-keyed HashAggregate over the corpus scan; the grand "
        "total and Z enter as 1-row broadcast cross joins (never an "
        "unpartitioned window); the pow() lattice weights are computed "
        "on the languages-sized relation only."
    ),
    # --- r14 headliners ---
    "knn_filtered_escalate": (
        "Probe-escalation filtered ANN. Check: every escalation round "
        "reads the SAME ivf_cents/ivf_index checkpoints (Scan "
        "ExistingRDD — never an index rebuild); the shrinking remainder "
        "is checkpointed at each round boundary, so later rounds read "
        "it as ExistingRDD instead of re-executing earlier rounds' "
        "screens (one batch-side parquet scan remains — round 1's); "
        "the per-round windows partition on vec_id; no "
        "CartesianProduct, no BatchEvalPython."
    ),
    "docs_hybrid_eval": (
        "Hybrid retrieval semantic-health eval. Check: the arms are the "
        "SHARED _hybrid_arms plans (tf/df from the text_tf/text_df "
        "checkpoints, sort-limit truncation before the 10-row ranking "
        "windows); everything the eval adds is arm-bounded — 1-row "
        "HashAggregates glued by broadcast joins, the overlap joins "
        "touch <= 2 x arm_n rows."
    ),
    "text_index_staleness": (
        "Text-index staleness audit. Check: ZERO parquet scans in the "
        "final plan — the stored side reads the text_tf checkpoint and "
        "the batch tf enters from its own checkpoint (tokenized once at "
        "build, the knn_index_staleness pattern); the top-term lists "
        "truncate by sort-limit (TakeOrderedAndProject) before the "
        "bounded overlap join; the rebuild flag computes from 1-row "
        "broadcast aggregates, all integer cross-multiplications."
    ),
    "bpe_merge_loop": (
        "K-step BPE merge loop. Check: the final plan is a "
        "LocalTableScan of the <= BPE_MERGES collected winner rows — "
        "the iteration's work happened in per-step jobs, each a "
        "vocab-sized pair count over the chain-checkpointed encoding "
        "with a TakeOrderedAndProject argmax and a 1-row collect; the "
        "corpus parquet is scanned once, into step 0's checkpoint."
    ),
    "text_index_merge": (
        "Incremental index merge (delta posting pages). Check: ZERO "
        "parquet scans — the stored side reads the text_tf checkpoint, "
        "the batch side its shared _text_batch_tf checkpoint; the "
        "union is shuffle-free (doc-disjoint slices); the touched-term "
        "broadcast semi-join prunes the stored postings BEFORE the "
        "term window; the posting head is rank-capped to K rows per "
        "term before any list materializes (no unbounded hot-term "
        "collect_list)."
    ),
    "streaming_text_oov": (
        "Streaming text-drift monitor (batch post-processing plan). "
        "Check: the graded plan aggregates the memory sink's token-level "
        "(doc_id, term, oov) rows — distinct + conditional counts, one "
        "1-row result; the STREAM side (not in this plan) is a "
        "stateless per-token stream-static LEFT join against the "
        "stored-vocabulary relation derived from the text_tf checkpoint "
        "(no watermark, no state store — pinned in "
        "tests/test_streaming_text_oov.py)."
    ),
    "knn_tombstone_screen": (
        "Tombstone-masked ANN serving (the DELETE verb). Check: the "
        "stored index enters from the ivf checkpoints with the delete "
        "mask as a pushed Filter directly over Scan ExistingRDD — no "
        "rebuild, no extra exchange vs knn_incremental; ONE parquet "
        "scan (the batch); the top-1 election is the shared window-free "
        "min(struct)."
    ),
    "text_index_compact": (
        "Text-index compaction (the text DELETE verb). Check: ZERO "
        "parquet scans — compaction SUBTRACTS from the stored text_tf "
        "checkpoint (no corpus re-tokenization); the touched-term "
        "broadcast semi-join bounds everything by the deleted docs' "
        "vocabulary before the term window; the rewritten posting head "
        "is rank-capped to K rows per term; vocab-lost terms emit "
        "COALESCEd zero pages via the left join, never silent absence."
    ),
    "knn_index_compact": (
        "Vector-index compaction (the vector DELETE verb's ACTION). "
        "Check: ZERO parquet scans — the page rewrite SUBTRACTS from "
        "the memoized ivf_index checkpoint; the member head is "
        "rank-capped (row_number <= K) BEFORE any list materializes; "
        "the L1 checksum is a decimal window sum (no int64 wrap); "
        "cell_lost rides the left join's null, never a second pass."
    ),
    "knn_index_rebuild": (
        "Codebook retrain ACTION (the rebuild the drift monitors "
        "decide on). Check: the final plan reads ONLY checkpoints "
        "(Scan ExistingRDD — probe elections, retrained centroids, "
        "rebuilt assignment, truth top-K are all paid inside their "
        "checkpoint builds, so no FlatMapCoGroupsInPandas and no "
        "parquet appear here); the rollups are grid Generates + "
        "hash aggregates; both cost joins broadcast the 8-row cell "
        "sizes. At 100 TB the retrain is one narrow map over the "
        "stored assignment plus a k x dims mean shuffle; re-assignment "
        "is a broadcast argmin map."
    ),
    "docs_bm25_escalate": (
        "BM25 posting-depth escalation (single-pass fixed point). "
        "Check: ONE intersection aggregate over the checkpointed "
        "scored-heads relation computes pair rungs, eff depths, and "
        "the serving pool (no per-tier jobs); the query relation is "
        "BROADCAST; the full-posting tier is reached only by the "
        "anti-joined remainder (empty on graded data, so its join "
        "build side is empty); scoring touches only query-term "
        "postings — the broadcast q-term semi-filter sits below the "
        "df/dl joins; per-query windows partition on qid, never a "
        "global sort."
    ),
    "customers_erasure_cascade": (
        "Erasure-cascade audit (governance DELETE planning). Check: "
        "four branch scans with the cohort predicate pushed to the "
        "customer scan; orders/lineitem/events reached through key "
        "semi-joins (LeftSemi — the lineitem branch re-keys through the "
        "affected orders, child-first like a production cascade); every "
        "money sum is a decimal partial aggregate with map-side "
        "combine; the four 1-row summaries union with no shuffle "
        "beyond the semi-join keys."
    ),
    "customers_erasure_execute": (
        "Erasure EXECUTE (deletion-equals-rebuild). Check: four branch "
        "scans each feeding a key ANTI-join (LeftAnti; the lineitem "
        "branch re-keys child-first through the affected orders' "
        "semi-join); surviving value sums are decimal partial "
        "aggregates with map-side combine and the key checksum a "
        "decimal(38,0) sum — one summary row per relation, no window, "
        "no broadcast assumption on the cohort."
    ),
    "docs_bpe_encode": (
        "BPE encode (train→apply closure). Check: encoding runs over "
        "the DISTINCT-word relation weighted by frequency (one word "
        "groupBy, never per-occurrence encode); the merge applications "
        "are literal replaces over the trainer's final chain "
        "checkpoint (Scan ExistingRDD — the corpus tokenizes once per "
        "training step, never again for encode); the census is one "
        "token-keyed hash aggregate with map-side combine and the "
        "top-N is TakeOrderedAndProject with the rank label a "
        "top_n-row window."
    ),
    "multimodal_asset_gc": (
        "Asset-store GC (the multimodal DELETE verb). Check: the scan's "
        "ReadSchema carries only the reference metadata (blob bytes "
        "never cross the wire); ONE checksum-keyed exchange with "
        "partial_count/partial_min map-side combine; liveness and "
        "reclaimed bytes are narrow projections over the aggregate — "
        "no join, no window."
    ),
    "streaming_bpe_encode": (
        "Tokenize-on-ingest (batch post-processing plan). Check: the "
        "graded plan is one token-keyed hash aggregate with map-side "
        "combine over the memory sink plus a TakeOrderedAndProject "
        "head; the STREAM side (not in this plan) is a stateless "
        "per-row encode whose k merges are literal replaces baked into "
        "the plan — no join, no state store (pinned in "
        "tests/test_batch2_invariants.py)."
    ),
    "streaming_sessions_append": (
        "Append-mode session closure (batch post-processing plan). "
        "Check: the graded plan is a projection + sort over the memory "
        "sink's already-closed session rows — the session merge state "
        "and the watermark eviction live in the STREAM side "
        "(session_window + withWatermark, state bounded by the "
        "watermark horizon; pinned row-identical to the batch "
        "sessionize operator on the emitted subset in "
        "tests/test_streaming.py)."
    ),
    # --- r16 headliners ---
    "multimodal_phash_staleness": (
        "Perceptual-index staleness audit (the phash family's "
        "maintenance decision rung). Check: ZERO parquet scans — both "
        "the stored bucket keys and the batch's 17-probe fanout read "
        "the ONE memoized phash_base checkpoint (Scan ExistingRDD); "
        "the probe fanout is a bounded 17x Generate of 16-byte rows; "
        "everything downstream is hash equi-joins + "
        "map-side-combinable counts; the two 1-row side aggregates "
        "enter via broadcast cross joins; the rebuild flag is integer "
        "cross-multiplication, never a float threshold."
    ),
    "multimodal_phash_rebuild": (
        "Perceptual-index delete-rewrite ACTION (deletion-equals-"
        "rebuild contract, tombstone cohort doc_id % 10 = 3). Check: "
        "ZERO parquet scans and NO MapInPandas — the page rewrite "
        "masks the memoized fingerprint checkpoint (metadata-speed "
        "deletion, no blob re-decode); one phash-keyed hash aggregate "
        "with map-side combine; output bounded by the touched-bucket "
        "count (n_removed > 0 filter); canonical re-election is a "
        "conditional min, -1 when the bucket dropped (never a silent "
        "NULL)."
    ),
    "docs_bpe_staleness": (
        "Tokenizer drift monitor (the BPE family's staleness rung). "
        "Check: training reads the session-cached stored-slice merge "
        "table (a memo hit when the stream pool already trained it; "
        "the per-step argmax collects are the enumerated _bpe_train "
        "sites); both censuses are vocab-sized explodes over the "
        "trainer's chain checkpoint (Scan ExistingRDD) and the "
        "batch's distinct-word relation — never per-occurrence; the "
        "OOV check is ONE token-keyed left join between vocab-sized "
        "censuses; the summary is two 1-row aggregates joined by "
        "broadcast; the retrain flag is decimal cross-multiplication."
    ),
    "supplier_triangle_stats": (
        "Degree-ordered triangle counting (graph local structure). "
        "Check: ZERO parquet scans — the edge list reads the shared "
        "affinity_edges memo (Scan ExistingRDD, one build per session "
        "shared with the BFS) and the oriented relation its own "
        "checkpoint; orientation is two broadcast-eligible degree "
        "joins; the wedge self-join and the closing join are hash "
        "equi-joins (never nested-loop); the per-degree rollup is a "
        "map-side-combinable aggregate and the clustering coefficient "
        "one exact integer division per bin."
    ),
}


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def formatted_plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def capture(round_no: int, suffix: str, names: list[str]) -> None:
    """Write plans/r<round_no>/<entry>_<suffix>.txt for each named entry."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"plan-r{round_no}", cpus=8)
    catalog = load_catalog()
    outdir = os.path.join(ROOT, "plans", f"r{round_no}")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        plan = formatted_plan(spark, catalog[name].spark_fn(spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n\n")
            f.write(plan.rstrip() + "\n")
        print("wrote", path)


def main() -> None:
    if sys.argv[1:2] == ["--round"]:
        ap = argparse.ArgumentParser(prog="dump_plans.py --round")
        ap.add_argument("round_no", type=int)
        ap.add_argument("suffix", choices=("before", "after"))
        ap.add_argument("names", nargs="+")
        args = ap.parse_args(sys.argv[2:])
        capture(args.round_no, args.suffix, args.names)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-dump", cpus=4)
    catalog = load_catalog()

    out = [
        "# Physical plans of headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (Catalyst `formatted` "
        f"explain at `{sf_dir}`; regenerate after query changes). Each entry "
        "notes what to check for the plan to hold at 100 TB — these same "
        "properties are asserted by `tests/test_plans.py`.",
        "",
        # PLANS.md records the catalog size it was generated for, and
        # tests/test_plans.py fails when it differs from len(load_catalog()):
        # growing the catalog without regenerating this doc cannot go
        # unnoticed.
        f"PLANS_CATALOG_SIZE = {len(catalog)} "
        f"(headliners: {len(HEADLINERS)})",
        "",
    ]
    for name, note in HEADLINERS.items():
        plan = formatted_plan(spark, catalog[name].spark_fn(spark, sf_dir))
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
