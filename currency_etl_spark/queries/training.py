"""Training-data assembly operators: sequence packing, per-domain caps,
mixture reporting, and a distributed k-means assignment step.

These extend the LLM-pipeline family (queries/llm_ops.py) with the ops a
pretraining data team runs AFTER cleaning/dedup: turning a document pool
into fixed-token training sequences, enforcing per-source quotas, auditing
the language mixture, and clustering embeddings. Reference scope: the
reference engine has no training-data surface (its capability checklist
ends at SQL analytics, SURVEY.md §2); these follow the same Spark-first
catalog/oracle conventions as every other entry.

Determinism: tokenization is a single-space split (the synthetic corpus is
space-separated), every float leaves double-land before aggregation
(integer quantization / exact long sums), and every output is totally
ordered — the rules from catalog.py's module docstring.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import table

#: Token budget per packed training sequence. Small enough that sf0.001's
#: short docs still produce multi-sequence languages, large enough that
#: sequences hold several documents each.
SEQ_BUDGET = 512

#: Documents per packing shard. Packing is sequential WITHIN a shard (the
#: cumsum window), parallel ACROSS shards — so shard count, not language
#: count, sets the parallelism, and it grows with the corpus. 1000 docs
#: ≈ tens of sequences per shard: big enough that the one partial
#: sequence at each shard tail is noise, small enough that a shard's
#: token stream fits one task comfortably at any corpus size.
SHARD_DOCS = 1000

#: Per-source document quota for the domain-cap sampler.
DOMAIN_CAP = 10

#: k and the quantization scale for the k-means step. Quantizing float
#: embeddings to round(x * 1e6) longs makes every distance and mean an
#: exact integer computation — identical in any summation order on any
#: engine (the same trick embedding_quantize uses for storage).
KMEANS_K = 8
Q_SCALE = 1_000_000


def quantize_vec(col: str = "embedding") -> Column:
    """The shared quantization convention: round(x * Q_SCALE) as longs.
    Single definition — kmeans_assign_step and the trained-IVF ANN entry
    (queries/vectors.py) must agree bit-for-bit with each other and with
    the 1000000-literal their DuckDB oracles embed."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * F.lit(float(Q_SCALE))).cast("long")
    )


def seed_centroids(q: DataFrame, k: int) -> DataFrame:
    """1-row broadcastable codebook: the first k vectors (vec_id < k) of a
    (vec_id, qv)-shaped frame as sort_array(collect_list(struct(cid, cq))).
    SINGLE definition of the deterministic seeding convention — the
    kmeans_assign_step and trained-IVF (queries/vectors.py) oracles both
    hardcode vec_id < k, so Spark-side seeding must never drift between
    them."""
    return (
        q.filter(F.col("vec_id") < k)
        .select(F.struct(F.col("vec_id").alias("cid"), F.col("qv").alias("cq")).alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )


def int_l2(a: Column, b: Column) -> Column:
    """Exact integer squared-L2 between two quantized vectors — summation-
    order-independent, so engine-portable with no float caveats."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _tok_count() -> Column:
    return F.size(F.split(F.col("text"), " ")).cast("long")


def _packed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARED packing geometry of the training-assembly family — the
    single definition of the token stream docs_sequence_pack chunks and
    docs_packing_efficiency audits, so the pack and its audit can never
    measure two different streams: per (language, shard) the documents
    lie in doc_id order and cum_before is the exact token offset where
    each document starts. The cumsum window's partition count GROWS with
    the corpus (lang x shard), never pinning parallelism to |languages|."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("doc_id") / SHARD_DOCS).cast("long").alias("shard"),
        _tok_count().alias("n_tokens"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return docs.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )


@register(
    "docs_sequence_pack",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(floor(doc_id / {SHARD_DOCS}) AS BIGINT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        pos AS (
            SELECT doc_id, lang, shard, n_tokens,
                   COALESCE(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM toks
        )
        SELECT lang, shard,
               CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM pos
        GROUP BY lang, shard, seq_id
        ORDER BY lang, shard, seq_id
    """,
    tags=("llm", "training", "packing"),
    doc=(
        "Concat-then-chunk sequence packing — the step that turns a cleaned "
        f"document pool into fixed-budget ({SEQ_BUDGET}-token) training "
        "sequences: within each (language, shard) the documents are laid on "
        "a token stream in doc_id order and a document belongs to the "
        "sequence containing its first token (GPT-style packing, where "
        "sequences may straddle boundaries). Packing is sequential within "
        f"a shard ({SHARD_DOCS} docs) and parallel across shards, so the "
        "cumsum window's partition count GROWS with the corpus — "
        "partitioning by language alone would pin parallelism to "
        "|languages| tasks forever, the classic 100× scale-up trap. The "
        "price is one possibly-partial sequence per shard tail — noise at "
        "tens of sequences per shard. Reports per-sequence fill so a "
        "mixture owner can audit fragmentation (n_docs, seq_tokens vs "
        "budget) without materializing the packed text."
    ),
)
def docs_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = _packed_stream(spark, sf_dir)
    return (
        pos.groupBy(
            "lang",
            "shard",
            F.floor(F.col("cum_before") / SEQ_BUDGET).cast("long").alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard", "seq_id")
    )


@register(
    "docs_packing_efficiency",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(floor(doc_id / {SHARD_DOCS}) AS BIGINT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        pos AS (
            SELECT doc_id, lang, shard, n_tokens,
                   COALESCE(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM toks
        ),
        per_doc AS (
            SELECT lang, shard, n_tokens,
                   CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS first_seq,
                   CAST(floor((cum_before + n_tokens - 1) / {SEQ_BUDGET}) AS BIGINT)
                       AS last_seq
            FROM pos
        ),
        shard AS (
            SELECT lang, shard,
                   CAST(sum(n_tokens) AS BIGINT) AS t,
                   CAST(sum(last_seq - first_seq) AS BIGINT) AS n_crossings,
                   CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_straddlers
            FROM per_doc
            GROUP BY lang, shard
        ),
        shard2 AS (
            SELECT lang, t, n_crossings, n_straddlers,
                   CAST(floor((t + {SEQ_BUDGET} - 1) / {SEQ_BUDGET}) AS BIGINT)
                       AS n_seqs,
                   CAST(({SEQ_BUDGET} - (t % {SEQ_BUDGET})) % {SEQ_BUDGET} AS BIGINT)
                       AS tail_waste
            FROM shard
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_shards,
               CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
               CAST(sum(t) AS BIGINT) AS total_tokens,
               CAST(sum(n_straddlers) AS BIGINT) AS n_straddlers,
               CAST(sum(n_crossings) AS BIGINT) AS n_crossings,
               CAST(sum(tail_waste) AS BIGINT) AS tail_waste_tokens,
               round(CAST(sum(t) AS DOUBLE)
                     / (CAST(sum(n_seqs) AS BIGINT) * {SEQ_BUDGET}), 6)
                   AS utilization
        FROM shard2
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("llm", "training", "packing", "eval"),
    doc=(
        "Packing-efficiency audit — the evaluation rung that closes the "
        "training-assembly loop the way dedup_lsh_recall closed dedup's, "
        "docs_quality_calibration closed curation's, and "
        "knn_index_staleness/embeddings_drift_psi closed the ANN "
        "family's: for the token stream docs_sequence_pack chunks (the "
        "SHARED _packed_stream geometry — single definition, so the pack "
        "and its audit can never measure two different streams), the two "
        "costs a packing policy trades, per language. (1) PADDING: each "
        f"(lang, shard) stream of T tokens cuts into ceil(T/{SEQ_BUDGET}) "
        "fixed slots, wasting (budget - T mod budget) mod budget pad "
        "tokens at the shard tail — utilization = total_tokens / "
        "(n_seqs * budget) is the fraction of trained-on tokens that are "
        "real data. (2) FRAGMENTATION: a document straddles a boundary "
        "when its first and last tokens land in different sequences "
        "(floor division on the exact int64 offsets — n_straddlers "
        "counts docs cut at least once, n_crossings counts total cuts, "
        "so long docs weigh more); concat-then-chunk pays fragmentation "
        "to keep padding near zero, best-fit packing pays the reverse — "
        "this table is what a mixture owner reads to pick the policy and "
        "the (budget, shard-size) pair. All counters exact int64; the "
        "ONE division per language is the utilization ratio, rounded "
        "to 6 decimals. "
        "Scale shape: the only data-sized work is the family's one "
        "cumsum window (lang x shard partitions — grows with the "
        "corpus); everything downstream is shard-sized then "
        "language-sized rollups, nothing wide moves."
    ),
)
def docs_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = _packed_stream(spark, sf_dir)
    b = F.lit(SEQ_BUDGET).cast("long")
    per_doc = pos.select(
        "lang",
        "shard",
        "n_tokens",
        F.floor(F.col("cum_before") / SEQ_BUDGET).cast("long").alias("first_seq"),
        F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / SEQ_BUDGET)
        .cast("long")
        .alias("last_seq"),
    )
    shard = per_doc.groupBy("lang", "shard").agg(
        F.sum("n_tokens").cast("long").alias("t"),
        F.sum(F.col("last_seq") - F.col("first_seq")).cast("long").alias("n_crossings"),
        F.sum((F.col("last_seq") > F.col("first_seq")).cast("long"))
        .cast("long")
        .alias("n_straddlers"),
    )
    shard2 = shard.select(
        "lang",
        "t",
        "n_crossings",
        "n_straddlers",
        F.floor((F.col("t") + SEQ_BUDGET - 1) / SEQ_BUDGET).cast("long").alias("n_seqs"),
        ((b - F.col("t") % b) % b).cast("long").alias("tail_waste"),
    )
    return (
        shard2.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum("n_seqs").cast("long").alias("n_seqs"),
            F.sum("t").cast("long").alias("total_tokens"),
            F.sum("n_straddlers").cast("long").alias("n_straddlers"),
            F.sum("n_crossings").cast("long").alias("n_crossings"),
            F.sum("tail_waste").cast("long").alias("tail_waste_tokens"),
        )
        .select(
            "lang",
            "n_shards",
            "n_seqs",
            "total_tokens",
            "n_straddlers",
            "n_crossings",
            "tail_waste_tokens",
            F.round(
                F.col("total_tokens").cast("double") / (F.col("n_seqs") * b), 6
            ).alias("utilization"),
        )
        .orderBy("lang")
    )


@register(
    "docs_packing_bestfit",
    oracle=f"""
        WITH RECURSIVE toks AS MATERIALIZED (
            SELECT doc_id, lang,
                   CAST(floor(doc_id / {SHARD_DOCS}) AS BIGINT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        pieces AS MATERIALIZED (
            SELECT doc_id, lang, shard, n_tokens,
                   CAST(floor(n_tokens / {SEQ_BUDGET}) AS BIGINT) AS full_seqs,
                   CAST(n_tokens % {SEQ_BUDGET} AS BIGINT) AS piece
            FROM toks
        ),
        ranked AS MATERIALIZED (
            SELECT lang, shard, piece,
                   row_number() OVER (PARTITION BY lang, shard
                                      ORDER BY n_tokens DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang, shard) AS n_grp
            FROM pieces WHERE piece > 0
        ),
        fold AS (
            SELECT lang, shard, rn, n_grp,
                   [CAST({SEQ_BUDGET} - piece AS BIGINT)] AS state
            FROM ranked WHERE rn = 1
            UNION ALL
            SELECT r.lang, r.shard, r.rn, r.n_grp,
                   CASE WHEN len(list_filter(f.state, s -> s >= r.piece)) > 0
                        THEN list_transform(f.state, (s, i) -> CASE
                               WHEN i = list_position(f.state,
                                      list_min(list_filter(f.state,
                                               s2 -> s2 >= r.piece)))
                               THEN s - r.piece ELSE s END)
                        ELSE list_append(f.state,
                                         CAST({SEQ_BUDGET} - r.piece AS BIGINT))
                   END AS state
            FROM fold f
            JOIN ranked r
              ON r.lang = f.lang AND r.shard = f.shard AND r.rn = f.rn + 1
        ),
        bins AS (
            SELECT lang, shard, CAST(len(state) AS BIGINT) AS n_bins
            FROM fold WHERE rn = n_grp
        ),
        shard_tok AS (
            SELECT lang, shard,
                   CAST(sum(n_tokens) AS BIGINT) AS t,
                   CAST(sum(full_seqs) AS BIGINT) AS full_seqs,
                   CAST(sum(full_seqs + CASE WHEN piece > 0 THEN 1 ELSE 0 END
                            - 1) AS BIGINT) AS n_crossings,
                   CAST(sum(CASE WHEN full_seqs
                                      + CASE WHEN piece > 0 THEN 1 ELSE 0 END
                                      > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_straddlers
            FROM pieces GROUP BY lang, shard
        ),
        shard2 AS (
            SELECT s.lang, s.t, s.n_crossings, s.n_straddlers,
                   CAST(COALESCE(b.n_bins, 0) + s.full_seqs AS BIGINT) AS n_seqs
            FROM shard_tok s
            LEFT JOIN bins b ON b.lang = s.lang AND b.shard = s.shard
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_shards,
               CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
               CAST(sum(t) AS BIGINT) AS total_tokens,
               CAST(sum(n_straddlers) AS BIGINT) AS n_straddlers,
               CAST(sum(n_crossings) AS BIGINT) AS n_crossings,
               CAST(sum({SEQ_BUDGET} * n_seqs - t) AS BIGINT)
                   AS tail_waste_tokens,
               round(CAST(sum(t) AS DOUBLE)
                     / (CAST(sum(n_seqs) AS BIGINT) * {SEQ_BUDGET}), 6)
                   AS utilization
        FROM shard2 GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "training", "packing"),
    doc=(
        "Best-fit-decreasing document packing — the OTHER policy on the "
        "padding/fragmentation trade docs_packing_efficiency measures for "
        "concat-then-chunk: documents are never "
        "cut; each (lang, shard) group's docs are taken in a deterministic "
        "greedy order (n_tokens DESC, doc_id ASC tiebreak) and each goes "
        "into the open sequence with the SMALLEST remainder that still "
        "fits (first such bin on remainder ties), else opens a new "
        f"{SEQ_BUDGET}-token sequence — so n_straddlers = n_crossings = 0 "
        "by construction (a doc could only straddle if it alone exceeded "
        "the budget, in which case it pre-splits into floor(n/budget) "
        "full sequences plus a residual piece that enters the greedy flow "
        "— the cut no policy can avoid; this corpus has none) and ALL "
        "waste is padding, reported in the same tail_waste_tokens column "
        "so the two policy tables read side-by-side (same geometry: same "
        "SHARD_DOCS shards over the same token counts, so total_tokens "
        "matches docs_packing_efficiency per language — pinned by a "
        "cross-entry test). The per-shard greedy fold is genuinely "
        "sequential state (open-bin remainders), so it runs as an Arrow "
        "grouped-map (applyInPandas) over (lang, shard) — the sanctioned "
        "escape hatch when built-ins can't express the recurrence; the "
        "DuckDB oracle replays the identical fold as a recursive CTE over "
        "a BIGINT remainder list (list_min/list_position pick the same "
        "tightest-bin-first-index). Exact integer state end to end; the "
        "ONE division per language is the utilization ratio, rounded "
        "to 6 decimals. "
        "Scale shape: one documents scan, groups bounded at SHARD_DOCS "
        f"({SHARD_DOCS}) docs so every fold is a small in-memory loop, "
        "group count grows with the corpus (lang x shard — the same "
        "parallelism argument as _packed_stream), and everything "
        "downstream of the grouped map is shard- then language-sized."
    ),
)
def docs_packing_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    b = SEQ_BUDGET
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("doc_id") / SHARD_DOCS).cast("long").alias("shard"),
        _tok_count().alias("n_tokens"),
    )

    def _bestfit_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        state: list = []
        t = full_total = crossings = straddlers = 0
        for x in g["n_tokens"].tolist():
            t += x
            full, piece = divmod(x, b)
            full_total += full
            pieces = full + (1 if piece else 0)
            crossings += pieces - 1
            straddlers += 1 if pieces > 1 else 0
            if piece:
                best_j, best_r = -1, None
                for j, r in enumerate(state):
                    if r >= piece and (best_r is None or r < best_r):
                        best_j, best_r = j, r
                if best_j >= 0:
                    state[best_j] = best_r - piece
                else:
                    state.append(b - piece)
        return pd.DataFrame(
            [
                {
                    "lang": g["lang"].iat[0],
                    "t": int(t),
                    "n_seqs": int(len(state) + full_total),
                    "n_crossings": int(crossings),
                    "n_straddlers": int(straddlers),
                }
            ]
        )

    per_shard = docs.groupBy("lang", "shard").applyInPandas(
        _bestfit_shard,
        schema="lang string, t long, n_seqs long, n_crossings long, n_straddlers long",
    )
    bl = F.lit(b).cast("long")
    return (
        per_shard.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum("n_seqs").cast("long").alias("n_seqs"),
            F.sum("t").cast("long").alias("total_tokens"),
            F.sum("n_straddlers").cast("long").alias("n_straddlers"),
            F.sum("n_crossings").cast("long").alias("n_crossings"),
            F.sum(bl * F.col("n_seqs") - F.col("t"))
            .cast("long")
            .alias("tail_waste_tokens"),
        )
        .select(
            "lang",
            "n_shards",
            "n_seqs",
            "total_tokens",
            "n_straddlers",
            "n_crossings",
            "tail_waste_tokens",
            F.round(
                F.col("total_tokens").cast("double") / (F.col("n_seqs") * bl), 6
            ).alias("utilization"),
        )
        .orderBy("lang")
    )


@register(
    "docs_domain_cap",
    oracle=f"""
        WITH ranked AS (
            SELECT source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM ranked
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "training", "sampling"),
    doc=(
        "Per-domain document cap — the anti-overrepresentation primitive "
        "(crawls are power-law by domain; uncapped, a handful of domains "
        f"dominate the mixture): keep at most {DOMAIN_CAP} documents per "
        "source, chosen by hash rank (md5 of doc_id) so the selection is "
        "stable across runs, partitionings, and cluster sizes — never "
        "first-N in file order, which is ingestion-order biased. One "
        "row_number window per source partition; at 100 TB the window key "
        "is the natural shuffle key and the payload never moves — only "
        "(source, doc_id) pairs."
    ),
)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", F.row_number().over(w).alias("rn"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum((F.col("rn") <= DOMAIN_CAP).cast("int")).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "docs_mixture_report",
    oracle="""
        WITH per_lang AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY lang
        )
        SELECT lang, n_docs, n_tokens,
               round(100.0 * n_tokens / sum(n_tokens) OVER (), 6) AS pct_tokens
        FROM per_lang
        ORDER BY lang
    """,
    tags=("llm", "training", "mixture"),
    doc=(
        "Token-weighted language-mixture report — the dashboard number a "
        "data-mixture spec is written against (token share, not doc share: "
        "languages differ in document length). Exact long token sums per "
        "language, then share-of-total via a broadcast cross-join of the "
        "1-row grand total against the tiny per-language aggregate — no "
        "window operator at all, so the plan is one partial+final "
        "aggregation plus a broadcast at any scale."
    ),
)
def docs_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_lang = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(_tok_count()).cast("long").alias("n_tokens"),
        )
    )
    # share-of-total as a broadcast of the 1-row grand total instead of an
    # unpartitioned window — same arithmetic, no single-partition WindowExec
    total = per_lang.agg(F.sum("n_tokens").cast("long").alias("tot"))
    return (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.lit(100.0) * F.col("n_tokens") / F.col("tot"), 6).alias("pct_tokens"),
        )
        .orderBy("lang")
    )


#: Temperature exponent for the alpha-mixing rule (T5 §3.1.2 / mT5 /
#: PaLM data mixing: p_i ∝ base_share_i^alpha; alpha=1 is the natural
#: mixture, alpha→0 uniform). 0.3 is mT5's published choice.
MIX_TEMP_ALPHA = 0.3

#: Weight-quantization scale shared by the mixture rules (temperature
#: scaling here, the DoReMi reweight step below): unnormalized weights
#: are rounded onto a 1e-12 lattice BEFORE the normalizing sum, so the
#: only cross-partition accumulation is an exact int64 sum (the
#: catalog's quantize-before-group-sum rule) and the final share is one
#: int/int division.
MIX_W_SCALE = 1_000_000_000_000


@register(
    "docs_mixture_temperature",
    oracle=f"""
        WITH per_lang AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY lang
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per_lang),
        w AS (
            SELECT lang, n_docs, n_tokens,
                   round(CAST(n_tokens AS DOUBLE) / t, 6) AS base_share,
                   CAST(round(pow(CAST(n_tokens AS DOUBLE) / t, {MIX_TEMP_ALPHA})
                              * {MIX_W_SCALE}) AS BIGINT) AS w_q
            FROM per_lang, tot
        ),
        z AS (SELECT CAST(sum(w_q) AS BIGINT) AS z FROM w)
        SELECT lang, n_docs, n_tokens, base_share,
               round(CAST(w_q AS DOUBLE) / z, 6) AS temp_share,
               round(round(CAST(w_q AS DOUBLE) / z, 6) / base_share, 6)
                   AS upsample_factor
        FROM w, z
        ORDER BY lang
    """,
    tags=("llm", "training", "mixture"),
    doc=(
        "Temperature-scaled mixture sampling — the THIRD standard mixing "
        "rule, completing the family: docs_mixture_report states the "
        "natural token mixture, docs_mixture_reweight runs the "
        "loss-driven DoReMi step, and this is the static alpha-mixing "
        "rule the T5/mT5/PaLM pipelines actually shipped (sampling "
        f"probability ∝ base_share^alpha, alpha={MIX_TEMP_ALPHA} — mT5's "
        "published value — which flattens the mixture toward uniform so "
        "low-resource languages oversample). Per language: exact long "
        "doc/token counts, the natural token share, the "
        "temperature-scaled share, and upsample_factor = temp_share / "
        "base_share — the effective epoch multiplier a mixture owner "
        "reads to see how hard each low-resource slice is oversampled "
        "(and the overfitting risk that implies). Numerics: the ONE "
        "libm pow() per language sits behind the catalog's "
        "quantize-then-int-sum discipline (weights rounded onto the "
        "1e-12 lattice, Z an exact int64 sum, one int/int division per "
        "language, rounded to 6 decimals) — the same recipe as the "
        "reweight's exp(); "
        "upsample_factor divides the two already-rounded shares so the "
        "table is self-consistent. alpha=1 reproduces the natural "
        "mixture exactly (pinned). Scale shape: one map-side-combinable "
        "languages-keyed count over the corpus; everything downstream "
        "is languages-sized with 1-row broadcast totals — no window, no "
        "data-sized shuffle beyond the count."
    ),
)
def docs_mixture_temperature(
    spark: SparkSession, sf_dir: str, *, alpha: float = MIX_TEMP_ALPHA
) -> DataFrame:
    """Graded default is the module constant; ``alpha`` is the
    temperature knob (1.0 = natural mixture, smaller = flatter)."""
    per_lang = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(_tok_count()).cast("long").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("long").alias("t"))
    w = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
            "base_share"
        ),
        F.round(
            F.pow(F.col("n_tokens").cast("double") / F.col("t"), F.lit(float(alpha)))
            * F.lit(float(MIX_W_SCALE)),
            0,
        )
        .cast("long")
        .alias("w_q"),
    )
    z = w.agg(F.sum("w_q").cast("long").alias("z"))
    temp_share = F.round(F.col("w_q").cast("double") / F.col("z"), 6)
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "base_share",
            temp_share.alias("temp_share"),
            F.round(temp_share / F.col("base_share"), 6).alias("upsample_factor"),
        )
        .orderBy("lang")
    )


@register(
    "kmeans_assign_step",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS qv
            FROM embeddings
        ),
        cent AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < {KMEANS_K}),
        va AS (
            SELECT vec_id, generate_subscripts(qv, 1) AS d, unnest(qv) AS v FROM q
        ),
        vc AS (
            SELECT cid, generate_subscripts(cq, 1) AS d, unnest(cq) AS v FROM cent
        ),
        dist AS (
            SELECT va.vec_id, vc.cid,
                   CAST(sum((va.v - vc.v) * (va.v - vc.v)) AS BIGINT) AS dist
            FROM va JOIN vc ON va.d = vc.d
            GROUP BY va.vec_id, vc.cid
        ),
        best AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dist
        )
        SELECT b.cid AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_assigned,
               round(CAST(sum(q.qv[1]) AS DOUBLE) / count(*) / {Q_SCALE}.0, 9) AS c0,
               round(CAST(sum(q.qv[2]) AS DOUBLE) / count(*) / {Q_SCALE}.0, 9) AS c1,
               round(CAST(sum(q.qv[3]) AS DOUBLE) / count(*) / {Q_SCALE}.0, 9) AS c2,
               round(CAST(sum(q.qv[4]) AS DOUBLE) / count(*) / {Q_SCALE}.0, 9) AS c3
        FROM best b JOIN q ON q.vec_id = b.vec_id
        WHERE b.rn = 1
        GROUP BY b.cid
        ORDER BY b.cid
    """,
    tags=("llm", "vectors", "clustering"),
    doc=(
        "One Lloyd's iteration of distributed k-means over the embedding "
        f"column (k={KMEANS_K}, centroids seeded from the first k vectors "
        "by id — deterministic, no RNG): assignment is a broadcast of the "
        "k×64 centroid table against the vector scan (at 100 TB the only "
        "shuffle is the k-row partial-mean aggregation — assignment itself "
        "is map-side, the exact plan MLlib's KMeans uses per iteration), "
        "then new centroids as per-cluster means. Embeddings are quantized "
        "to longs (round(x*1e6), the embedding_quantize convention) so "
        "distances and mean numerators are EXACT integer arithmetic — "
        "order-independent and engine-identical, where float sums would "
        "drift by summation order. Emits cluster sizes and the first four "
        "centroid coordinates; argmin ties break by centroid id. The "
        "iterative driver loop (repeat until movement < eps) composes this "
        "per round exactly like dedup_clusters' label propagation."
    ),
)
def kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_vec().alias("qv"))
    # ALL centroids ride in one broadcast row as array<struct<cid,cq>>, so
    # assignment is a map-side expression over the vector scan — no row
    # explosion to N×k, no argmin shuffle; the k-row mean aggregation below
    # is the iteration's ONLY exchange (array_min on struct<dist,cid> is
    # the lexicographic argmin, ties to the lowest cid).
    cents = seed_centroids(q, KMEANS_K)

    def _dist_to(c):
        return int_l2(F.col("qv"), c["cq"])

    assigned = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "qv",
        F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(_dist_to(c).alias("dist"), c["cid"].alias("cid")),
            )
        )["cid"].alias("centroid_id"),
    )
    agg = assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        *[F.sum(F.element_at("qv", d + 1)).alias(f"s{d}") for d in range(4)],
    )
    return agg.select(
        "centroid_id",
        "n_assigned",
        *[
            F.round(
                F.col(f"s{d}").cast("double") / F.col("n_assigned") / F.lit(float(Q_SCALE)),
                9,
            ).alias(f"c{d}")
            for d in range(4)
        ],
    ).orderBy("centroid_id")


def _sym_pairs(enc: Column) -> Column:
    """Array of adjacent-symbol pair structs from a '|'-delimited symbol
    encoding ('|h|e|llo|' -> [(h,e),(e,llo)]). Guarded for single-symbol
    words: Spark's sequence(1, 0) would generate a DESCENDING range, so
    the empty case is explicit."""
    syms = F.filter(F.split(enc, r"\|"), lambda x: x != F.lit(""))
    idx = F.when(F.size(syms) > 1, F.sequence(F.lit(1), F.size(syms) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"), F.element_at(syms, i + 1).alias("r")
        ),
    )


#: Shared SQL fragment: adjacent-symbol pair relation from an `enc` column
#: (mirrors _sym_pairs; DuckDB range(1, 1) is already empty, no guard).
_SQL_PAIRS = """
    SELECT l, r, freq FROM (
        SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
            SELECT freq, syms, unnest(range(1, len(syms))) AS i
            FROM (SELECT freq, list_filter(string_split(enc, '|'), x -> x <> '') AS syms FROM {enc})
        )
    )
"""


@register(
    "bpe_pair_merge",
    oracle=f"""
        WITH words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
            WHERE length(w) > 0 GROUP BY w
        ),
        enc0 AS (SELECT freq, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS enc FROM words),
        pairs0 AS ({_SQL_PAIRS.format(enc='enc0')}),
        pc0 AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs0 GROUP BY l, r),
        top AS (SELECT l AS tl, r AS tr FROM pc0 ORDER BY cnt DESC, l, r LIMIT 1),
        enc1 AS (
            SELECT freq, replace(enc, '|' || tl || '|' || tr, '|' || tl || tr) AS enc
            FROM enc0, top
        ),
        pairs1 AS ({_SQL_PAIRS.format(enc='enc1')}),
        pc1 AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs1 GROUP BY l, r)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, l, r) AS BIGINT) AS merge_rank,
               l AS left_sym, r AS right_sym, cnt AS pair_count
        FROM pc1
        ORDER BY cnt DESC, l, r
        LIMIT 15
    """,
    tags=("llm", "training", "tokenizer", "iterative"),
    doc=(
        "One full iteration of BPE tokenizer training: count adjacent-"
        "symbol pairs weighted by word frequency, apply the argmax merge "
        "greedily left-to-right, and re-rank the next merge candidates. "
        "The scale shape is the real one: pair statistics come from the "
        "DISTINCT-word relation (vocab-sized, not corpus-sized — the "
        "groupBy(word) collapse is the only pass over the raw corpus), "
        "the winning merge is a broadcast 1-row scalar, and the merge "
        "application is a narrow map over the vocab. The '|'-delimited "
        "symbol encoding makes left-to-right replace() reproduce BPE's "
        "greedy merge semantics identically in both engines (leading "
        "delimiter, no trailing one in the pattern, so back-to-back "
        "occurrences all merge)."
    ),
)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc0 = words.select(
        "freq",
        F.concat(F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")).alias("enc"),
    )

    def pair_counts(enc_df: DataFrame) -> DataFrame:
        return (
            enc_df.select("freq", F.explode(_sym_pairs(F.col("enc"))).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )

    top = (
        pair_counts(enc0)
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(1)
        .select(F.col("l").alias("tl"), F.col("r").alias("tr"))
    )
    enc1 = enc0.crossJoin(F.broadcast(top)).select(
        "freq",
        F.expr("replace(enc, concat('|', tl, '|', tr), concat('|', tl, tr))").alias("enc"),
    )
    # top-15 FIRST (plans as TakeOrderedAndProject — per-partition heaps,
    # no global sort of the vocab²-bounded pair relation), then rank the
    # 15 survivors with a trivially small unpartitioned window
    top15 = pair_counts(enc1).orderBy(F.desc("cnt"), "l", "r").limit(15)
    w = Window.orderBy(F.desc("cnt"), "l", "r")
    return top15.select(
        F.row_number().over(w).cast("long").alias("merge_rank"),
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.col("cnt").alias("pair_count"),
    ).orderBy("merge_rank")


#: Merge-loop depth: real tokenizer training runs tens of thousands of
#: merges; 5 keeps the graded output readable while exercising the same
#: checkpointed iteration (each merge is one vocab-sized step).
BPE_MERGES = 5


def _bpe_loop_oracle(k: int) -> str:
    """Chained-CTE oracle for ``k`` BPE merges: the Spark loop's exact
    declarative twin (pair counts -> argmax -> greedy replace, k times).
    enc/top CTEs carry MATERIALIZED hints — each is referenced twice and
    DuckDB would otherwise re-derive the whole prefix per reference (the
    docs_packing_bestfit recursion lesson)."""
    parts = [
        """words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
            WHERE length(w) > 0 GROUP BY w
        )""",
        "enc0 AS MATERIALIZED (SELECT freq, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS enc FROM words)",
    ]
    for i in range(k):
        parts.append(
            f"pc{i} AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt "
            f"FROM ({_SQL_PAIRS.format(enc=f'enc{i}')}) GROUP BY l, r)"
        )
        parts.append(
            f"top{i} AS MATERIALIZED (SELECT l AS tl, r AS tr, cnt "
            f"FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"enc{i + 1} AS MATERIALIZED (SELECT freq, "
                f"replace(enc, '|' || tl || '|' || tr, '|' || tl || tr) AS enc "
                f"FROM enc{i}, top{i})"
            )
    union = "\n            UNION ALL ".join(
        f"SELECT {i + 1} AS step, tl, tr, cnt FROM top{i}" for i in range(k)
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT CAST(step AS BIGINT) AS step, tl AS left_sym, tr AS right_sym,
               tl || tr AS merged_sym, cnt AS pair_count
        FROM ({union})
        ORDER BY step
    """


@register(
    "bpe_merge_loop",
    oracle=_bpe_loop_oracle(BPE_MERGES),
    tags=("llm", "training", "tokenizer", "iterative"),
    doc=(
        f"K-step BPE tokenizer-training loop ({BPE_MERGES} merges) — the "
        "iterative-training capability class bpe_pair_merge's single "
        "iteration only previews: per step, "
        "count adjacent-symbol pairs over the vocab-sized encoding "
        "relation, collect the 1-row argmax winner (the scalar training "
        "decision — the supplier_reach_bfs convergence-check precedent), "
        "apply the merge as a narrow map, and CHECKPOINT the new "
        "encoding (chain_checkpoint: materialize first, then release — "
        "the new step READS the previous step's blocks) so lineage stays "
        "one step deep however many merges run. Output is the merge "
        "TABLE itself — (step, left, right, merged, count), the artifact "
        "tokenizer training persists — with winner counts provably "
        "non-increasing (a merge can only create pairs at most as "
        "frequent as itself; pinned). The loop exits early if the vocab "
        "exhausts (single-symbol words only). Scale shape: the corpus is "
        "touched ONCE (the distinct-word collapse feeding step 0's "
        "checkpoint); every iteration is vocab-sized with a 1-row "
        "driver transfer and a TakeOrderedAndProject argmax — the same "
        "per-step shape real BPE trainers run distributed, where K is "
        "tens of thousands and the encoding relation is the state. The "
        "oracle replays the identical loop as a chained CTE pipeline "
        "(MATERIALIZED hints so the prefix computes once per step); "
        "bpe_pair_merge's rank-1 next-merge candidate == this loop's "
        "step-2 row (cross-entry pin)."
    ),
)
def bpe_merge_loop(
    spark: SparkSession, sf_dir: str, *, k: int = BPE_MERGES
) -> DataFrame:
    """Graded default is the module constant; ``k`` is the merge count
    (a k=i run's rows are the first i rows of any deeper run — pinned)."""
    merges, _ = _bpe_train(spark, sf_dir, k)
    return spark.createDataFrame(
        merges,
        schema="step long, left_sym string, right_sym string, "
        "merged_sym string, pair_count long",
    ).orderBy("step")


def _bpe_words(
    spark: SparkSession, sf_dir: str, docs_filter: "Column | None" = None
) -> DataFrame:
    """The corpus word-frequency relation BPE trains on and encodes over
    — (w, freq), lowercased whitespace words. Shared by bpe_merge_loop /
    docs_bpe_encode / the streaming encode twin so no consumer can
    tokenize differently; ``docs_filter`` restricts the documents the
    relation derives from (the streaming twin trains on the STORED
    corpus slice only)."""
    docs = table(spark, sf_dir, "documents")
    if docs_filter is not None:
        docs = docs.filter(docs_filter)
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


#: The trainer's symbol-boundary encoding of a word column: "|h|e|l|l|o"
#: — every token starts with "|", so token count == "|" count and one
#: literal replace('|l|r' -> '|lr') applies a merge with BPE's
#: leftmost-first non-overlap semantics.
def _bpe_enc0(w: Column) -> Column:
    return F.concat(F.lit("|"), F.regexp_replace(w, "(.)", r"$1|"))


#: Trained-merge-table cache: tag -> (key, merges, enc). A BPE merge
#: table is a session-scoped stored artifact exactly like the IVF/text
#: indexes (memo_checkpoint families), but its product pairs a
#: Python-side list with the live final-encoding checkpoint, which
#: memo_checkpoint's DataFrame-only contract can't carry — so the cache
#: lives here, keyed the same way ((content inputs, applicationId)),
#: invalidated through ckpt.register_reset_hook by the same
#: reset_memos()/release_all() calls that reset every other memo (the
#: bench's per-pass honesty guard covers it automatically), and its
#: touches feed the same ledger via ckpt.note_build so bench.py
#: subtracts the one training cost from the paying entry and reports it
#: as a memo_build:<tag> line. bpe_merge_loop and docs_bpe_encode both
#: read this cache, so the K-step training chain runs once per session,
#: not once per entry.
_BPE_CACHE: dict = {}
_BPE_CACHE_LOCK = threading.Lock()


def _bpe_cache_clear() -> None:
    _BPE_CACHE.clear()


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    tag: str = "bpe_enc",
    words: "DataFrame | None" = None,
    corpus_key: "str | None" = None,
):
    """The K-step greedy BPE trainer (the bpe_merge_loop body, factored
    so the encode entry reuses the identical training artifact): returns
    ([(step, left, right, merged, pair_count)], enc) — the merge table
    (the k-rows-small artifact a production tokenizer persists) plus the
    trainer's final checkpointed encoding relation, which has every
    recorded merge EXCEPT a full run's k-th already applied (the trainer
    never pays a merge it won't count over; on early vocab exhaustion
    all recorded merges are applied). The encoder finishes the chain
    instead of re-deriving it.

    ``words`` overrides the training corpus relation (the streaming twin
    trains on the STORED slice only — the override is the relation
    actually trained on, not just documented); callers
    passing it MUST pass a distinct ``corpus_key`` naming the override's
    identity, because the session cache can't key on a DataFrame. One
    training run per (tag, sf_dir, k, corpus, session) — every
    same-artifact consumer after the first gets the cached merge table
    and live encoding checkpoint."""
    from currency_etl_spark.operators.ckpt import note_build, register_reset_hook

    register_reset_hook(_bpe_cache_clear)
    app = spark.sparkContext.applicationId
    key = (sf_dir, k, corpus_key, app)
    with _BPE_CACHE_LOCK:
        hit = _BPE_CACHE.get(tag)
        if hit is not None and hit[0] == key:
            note_build(tag, False, 0.0)
            return hit[1], hit[2]
        t0 = time.perf_counter()
        merges, enc = _bpe_train_build(spark, sf_dir, k, tag, words)
        _BPE_CACHE[tag] = (key, merges, enc)
        note_build(tag, True, time.perf_counter() - t0)
        return merges, enc


def _bpe_train_build(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    tag: str,
    words: "DataFrame | None",
):
    from currency_etl_spark.operators.ckpt import chain_checkpoint

    rel = words if words is not None else _bpe_words(spark, sf_dir)
    enc = chain_checkpoint(
        tag,
        rel.select("freq", _bpe_enc0(F.col("w")).alias("enc")),
    )
    merges = []
    for step in range(1, k + 1):
        winner = (
            enc.select("freq", F.explode(_sym_pairs(F.col("enc"))).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not winner:
            break  # vocab exhausted: every word is a single symbol
        tl, tr, cnt = winner[0]["l"], winner[0]["r"], winner[0]["cnt"]
        merges.append((step, tl, tr, tl + tr, int(cnt)))
        if step < k:
            enc = chain_checkpoint(
                tag,
                enc.select(
                    "freq",
                    F.replace(
                        F.col("enc"),
                        F.lit(f"|{tl}|{tr}"),
                        F.lit(f"|{tl}{tr}"),
                    ).alias("enc"),
                ),
            )
    return merges, enc


#: 2^52 — md5-derived 52-bit uniform denominator (exact double).
_U_DENOM = 4503599627370496.0


@register(
    "docs_weighted_sample",
    oracle=f"""
        SELECT doc_id, n_chars, round(k, 9) AS sample_key
        FROM (
            SELECT doc_id, n_chars,
                   -ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                       / {_U_DENOM!r}) / n_chars AS k
            FROM documents
        )
        ORDER BY k, doc_id
        LIMIT 20
    """,
    tags=("llm", "training", "sampling"),
    doc=(
        "Weighted sampling without replacement via the exponential race "
        "(Efraimidis-Spirakis A-ES): each doc draws a deterministic "
        "md5-seeded uniform u in (0,1], its arrival time is -ln(u)/weight "
        "(weight = n_chars), and the k smallest arrival times form the "
        "sample — longer docs proportionally likelier, reproducible "
        "run-to-run. The 100 TB shape: one narrow map to score plus a "
        "TakeOrderedAndProject top-k — per-partition heaps, only k rows "
        "per partition reach the driver, never a global sort. This is the "
        "standard way to draw a fixed-size weighted training subset in "
        "one pass without materializing per-row random state."
    ),
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    v = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    u = (v + F.lit(1)) / F.lit(_U_DENOM)
    k = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", k.alias("k"))
        .orderBy("k", "doc_id")
        .limit(20)
        .select("doc_id", "n_chars", F.round("k", 9).alias("sample_key"))
    )


#: Shard count for the export manifest (a real export uses thousands;
#: 16 keeps the graded output readable while exercising the same plan).
N_SHARDS = 16


@register(
    "docs_shard_manifest",
    oracle=f"""
        SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % {N_SHARDS} AS INTEGER) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents
        GROUP BY shard
        ORDER BY shard
    """,
    tags=("llm", "training", "export"),
    doc=(
        "Training-shard export manifest: every document is routed to a "
        "shard by a stable content-independent hash (md5 of doc_id — "
        "reshuffling-safe and reproducible across runs), and the manifest "
        "reports per-shard document/char/token totals — the balance audit "
        "run before writing shards, because a skewed shard becomes the "
        "straggler of every epoch. One map-side-combinable aggregation on "
        "a {N}-key shard id; the export itself is "
        "df.repartition(shard).write — the manifest's groupBy IS its "
        "dry-run."
    ).replace("{N}", str(N_SHARDS)),
)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % N_SHARDS
    ).cast("int")
    return (
        docs.select(
            shard.alias("shard"),
            "n_chars",
            _tok_count().alias("toks"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("toks").alias("total_tokens"),
        )
        .orderBy("shard")
    )


#: DoReMi multiplicative-weights step size (Xie et al. 2023 use 1.0 for
#: Domain Reweighting with Minimax Optimization's reference step; a
#: conservative 0.1 keeps one step's reweighting readable against the
#: base mixture).
MIX_ETA = 0.1


@register(
    "docs_mixture_reweight",
    oracle=None,  # composed below from docs_bigram_surprisal's oracle
    tags=("llm", "training", "mixture", "eval"),
    doc=(
        "One exact DoReMi-style domain-reweighting step (Xie et al. "
        "2023): the data-mixing optimization a pretraining team runs "
        "when per-domain losses say the current mixture over- or "
        "under-trains a domain. Domains are the source column; the "
        "per-token loss proxy is the corpus's own integer-exact bigram "
        "surprisal (docs_bigram_surprisal's per-doc relation, reused "
        "verbatim — surprisal_sum / n_bigrams is an exact int64 ratio, "
        "dodging the float log-prob sums a real proxy-model loss would "
        "need); excess loss is the domain's mean minus the corpus mean. "
        "The multiplicative-weights update w'_d = base_share_d * "
        "exp(eta * excess_d) then renormalizes — and because the "
        "token-weighted mean excess is identically ZERO, Jensen gives "
        "Z >= 1 and a domain is reweighted UP exactly when its "
        "exp(eta * excess) beats Z; the reported up/down flag compares "
        "the two share columns beside it (rounded to 6 decimals), so "
        "it is "
        "self-consistent with what the table shows and eta=0 reads 0 "
        "everywhere. Numerics: all sums exact int64 "
        "(surprisal and token counts), each share/loss ONE double "
        "division, exp behind the module's quantize-then-int-sum "
        "discipline (w_q on the 1e-12 lattice, Z_q an exact int64 sum, "
        "new_weight one int/int division; the tfidf/BM25 convention for "
        "the single libm call). Scale shape: rides the surprisal "
        "relation's two shuffles (bigram-keyed, then doc-keyed), adds "
        "one domains-keyed rollup and a broadcast 1-row total — the "
        "reweight arithmetic itself is domains-sized. eta is a keyword "
        "parameter with the graded default; eta=0 must reproduce the "
        "base mixture exactly (pinned by test)."
    ),
)
def docs_mixture_reweight(
    spark: SparkSession, sf_dir: str, *, eta: float = MIX_ETA
) -> DataFrame:
    from currency_etl_spark.operators.ckpt import swap_checkpoint
    from currency_etl_spark.queries.llm_ops import surprisal_base

    # the stored per-doc score table (memo tag surp_base) — the reweight
    # never re-pays the bigram-table build the surprisal report made
    per_doc = surprisal_base(spark, sf_dir).select(
        "doc_id", "n_bigrams", "surprisal_sum"
    )
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    # the domains-sized rollup feeds FOUR consumers (totals, the share
    # join, the update, the normalizer) — checkpoint it so the documents
    # parquet is scanned exactly once per step, not once per consumer
    d = swap_checkpoint(
        "reweight_d",
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("toks"),
            F.sum("surprisal_sum").cast("long").alias("surp"),
        ),
    )
    tot = d.agg(
        F.sum("toks").cast("long").alias("t_all"),
        F.sum("surp").cast("long").alias("s_all"),
    )
    j = d.crossJoin(F.broadcast(tot))
    base_share = F.col("toks").cast("double") / F.col("t_all")
    excess = (
        F.col("surp").cast("double") / F.col("toks")
        - F.col("s_all").cast("double") / F.col("t_all")
    )
    w = j.withColumn(
        "w_q",
        F.round(base_share * F.exp(F.lit(float(eta)) * excess) * F.lit(float(MIX_W_SCALE)))
        .cast("long"),
    )
    z = w.agg(F.sum("w_q").cast("long").alias("z_q"))
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.col("toks").alias("n_bigrams"),
            F.col("surp").alias("surprisal_sum"),
            F.round(base_share, 6).alias("base_share"),
            F.round(F.col("surp").cast("double") / F.col("toks"), 6).alias("mean_loss"),
            F.round(excess, 6).alias("excess_loss"),
            F.round(F.col("w_q").cast("double") / F.col("z_q"), 6).alias("new_weight"),
            # up/down at the REPORTED precision: the sign of
            # round(new_weight, 6) - round(base_share, 6), so the flag is
            # self-consistent with the two share columns beside it and
            # eta=0 reads 0 everywhere (1e-12 quantization noise never
            # reaches the 6th decimal)
            F.when(
                F.round(F.col("w_q").cast("double") / F.col("z_q"), 6)
                > F.round(base_share, 6), 1)
            .when(
                F.round(F.col("w_q").cast("double") / F.col("z_q"), 6)
                < F.round(base_share, 6), -1)
            .otherwise(0)
            .cast("int")
            .alias("direction"),
        )
        .orderBy("source")
    )


# composed oracle: the surprisal relation IS docs_bigram_surprisal's
# oracle (one source of truth; llm_ops is imported by load_catalog before
# this module's lookup runs, and the import above makes it explicit)
from currency_etl_spark.catalog import CATALOG as _CATALOG  # noqa: E402
from currency_etl_spark.queries import llm_ops as _llm_ops  # noqa: E402, F401

_CATALOG["docs_mixture_reweight"].oracle = f"""
    WITH per_doc AS ({_CATALOG["docs_bigram_surprisal"].oracle}),
    d AS (
        SELECT s.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p.n_bigrams) AS BIGINT) AS toks,
               CAST(sum(p.surprisal_sum) AS BIGINT) AS surp
        FROM per_doc p JOIN documents s USING (doc_id)
        GROUP BY s.source
    ),
    tot AS (
        SELECT CAST(sum(toks) AS BIGINT) AS t_all,
               CAST(sum(surp) AS BIGINT) AS s_all
        FROM d
    ),
    w AS (
        SELECT d.*, tot.t_all, tot.s_all,
               CAST(round((CAST(d.toks AS DOUBLE) / tot.t_all)
                          * exp({MIX_ETA} * (CAST(d.surp AS DOUBLE) / d.toks
                                             - CAST(tot.s_all AS DOUBLE) / tot.t_all))
                          * {MIX_W_SCALE}.0) AS BIGINT) AS w_q
        FROM d, tot
    ),
    z AS (SELECT CAST(sum(w_q) AS BIGINT) AS z_q FROM w)
    SELECT w.source,
           w.n_docs,
           w.toks AS n_bigrams,
           w.surp AS surprisal_sum,
           round(CAST(w.toks AS DOUBLE) / w.t_all, 6) AS base_share,
           round(CAST(w.surp AS DOUBLE) / w.toks, 6) AS mean_loss,
           round(CAST(w.surp AS DOUBLE) / w.toks
                 - CAST(w.s_all AS DOUBLE) / w.t_all, 6) AS excess_loss,
           round(CAST(w.w_q AS DOUBLE) / z.z_q, 6) AS new_weight,
           CAST(CASE WHEN round(CAST(w.w_q AS DOUBLE) / z.z_q, 6)
                          > round(CAST(w.toks AS DOUBLE) / w.t_all, 6) THEN 1
                     WHEN round(CAST(w.w_q AS DOUBLE) / z.z_q, 6)
                          < round(CAST(w.toks AS DOUBLE) / w.t_all, 6) THEN -1
                     ELSE 0 END AS INTEGER) AS direction
    FROM w, z
    ORDER BY w.source
"""


#: Post-encoding vocabulary report width.
BPE_TOP_TOKENS = 20


def _bpe_finish(enc: DataFrame, merges: list, k: int) -> DataFrame:
    """Apply the merges the trainer recorded but never paid (a full
    run's k-th; none after early vocab exhaustion) — the 'finish the
    chain instead of re-deriving it' step shared by docs_bpe_encode and
    docs_bpe_staleness."""
    applied = len(merges) - 1 if len(merges) == k else len(merges)
    for _, tl, tr, _m, _c in merges[applied:]:
        enc = enc.select(
            "freq",
            F.replace(
                F.col("enc"), F.lit(f"|{tl}|{tr}"), F.lit(f"|{tl}{tr}")
            ).alias("enc"),
        )
    return enc


def _bpe_encode_oracle(k: int, top_n: int) -> str:
    """Chained-CTE oracle for encode-after-k-merges: the loop oracle's
    exact training chain extended by the final merge application, then
    the frequency-weighted post-encoding token census. MATERIALIZED
    hints as in _bpe_loop_oracle (every enc/top is referenced twice)."""
    parts = [
        """words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
            WHERE length(w) > 0 GROUP BY w
        )""",
        "enc0 AS MATERIALIZED (SELECT freq, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS enc FROM words)",
    ]
    for i in range(k):
        parts.append(
            f"pc{i} AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt "
            f"FROM ({_SQL_PAIRS.format(enc=f'enc{i}')}) GROUP BY l, r)"
        )
        parts.append(
            f"top{i} AS MATERIALIZED (SELECT l AS tl, r AS tr, cnt "
            f"FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"enc{i + 1} AS MATERIALIZED (SELECT freq, "
            f"replace(enc, '|' || tl || '|' || tr, '|' || tl || tr) AS enc "
            f"FROM enc{i}, top{i})"
        )
    parts.append(
        f"""toks AS (
            SELECT t AS token, CAST(sum(freq) AS BIGINT) AS n_occurrences
            FROM (SELECT freq, unnest(string_split(enc, '|')) AS t FROM enc{k})
            WHERE t <> '' GROUP BY t
        )"""
    )
    parts.append(
        "tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS total FROM toks)"
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token)
                    AS BIGINT) AS rank,
               token,
               n_occurrences,
               CAST(length(token) AS BIGINT) AS token_len,
               round(CAST(n_occurrences AS DOUBLE) / total, 6) AS share
        FROM (
            SELECT token, n_occurrences FROM toks
            ORDER BY n_occurrences DESC, token LIMIT {top_n}
        ), tot
        ORDER BY rank
    """


@register(
    "docs_bpe_encode",
    oracle=_bpe_encode_oracle(BPE_MERGES, BPE_TOP_TOKENS),
    tags=("llm", "text", "tokenizer", "training", "action"),
    doc=(
        "BPE ENCODE — the apply side of the tokenizer family, closing "
        "the train→apply pair the way the index families close "
        "decision→action (bpe_pair_merge and bpe_merge_loop train the "
        f"merge table; nothing previously used it): the {BPE_MERGES} "
        "learned merges are applied to the corpus vocabulary in training "
        "order (the Sennrich apply convention — one full literal-replace "
        "pass per merge over the trainer's own '|'-boundary encoding, "
        "which gives leftmost-first non-overlap semantics for free: "
        "replace() consumes '|l|r' occurrences left to right and a "
        "just-merged token no longer matches), and the entry reports "
        f"the post-encoding vocabulary census — the top-{BPE_TOP_TOKENS} "
        "tokens by frequency-weighted occurrence count with exact "
        "counts, token length (merged tokens surface as len > 1), and "
        "the corpus-share ratio — the report a tokenizer pipeline reads "
        "to see what the merge budget actually bought. The training "
        "chain is shared VERBATIM with bpe_merge_loop (_bpe_train — "
        "same per-step argmax collects, same chain-checkpointed "
        "encoding; the encoder takes the trainer's final checkpoint and "
        "applies only the not-yet-applied final merge, so the corpus is "
        "tokenized and re-encoded exactly once per step, never twice). "
        "Encoding runs over the DISTINCT-word relation weighted by "
        "frequency — vocab-sized, never per-occurrence — and the census "
        "explodes vocab-sized encodings with an exact int64 weighted "
        "sum; top-N is sort-limit-first (TakeOrderedAndProject) with "
        f"the rank label a {BPE_TOP_TOKENS}-row window. The oracle "
        "re-derives the whole train+apply chain declaratively "
        "(the k-step loop oracle extended by the final application and "
        "the census). Scale: at 100 TB the merge table is the persisted "
        "artifact (k tiny rows) and encode is a narrow map over the "
        "vocabulary relation; every division is one exact-int ratio."
    ),
)
def docs_bpe_encode(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = BPE_MERGES,
    top_n: int = BPE_TOP_TOKENS,
) -> DataFrame:
    """Graded defaults are the module constants; ``k`` merges are
    trained-and-applied, ``top_n`` census rows return."""
    merges, enc = _bpe_train(spark, sf_dir, k)
    enc = _bpe_finish(enc, merges, k)
    toks = (
        enc.select("freq", F.explode(F.split("enc", r"\|")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
    )
    tot = toks.agg(F.sum("n_occurrences").cast("long").alias("total"))
    top = toks.orderBy(F.desc("n_occurrences"), "token").limit(top_n)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("n_occurrences"), "token"))
            .cast("long")
            .alias("rank"),
            "token",
            "n_occurrences",
            F.length("token").cast("long").alias("token_len"),
            F.round(
                F.col("n_occurrences").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
        .orderBy("rank")
    )


def _bpe_stream_parts(k: int, full_stored_enc: bool = False) -> list:
    """The shared CTE prefix of the stored-slice tokenizer oracles
    (streaming census + staleness audit): train k merges on the STORED
    corpus slice (doc_id % 10 <> 7), then boundary-encode the ARRIVING
    slice's distinct words from scratch and push them through the same
    k learned merges (chained replaces — OOV batch words encode fine,
    they just never merge). ``full_stored_enc`` additionally emits
    enc{k} — the stored encoding with the final merge applied (the
    staleness audit censuses the stored side too; the census oracle
    never reads it). MATERIALIZED hints as in _bpe_loop_oracle."""
    parts = [
        """words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents WHERE doc_id % 10 <> 7)
            WHERE length(w) > 0 GROUP BY w
        )""",
        "enc0 AS MATERIALIZED (SELECT freq, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS enc FROM words)",
    ]
    for i in range(k):
        parts.append(
            f"pc{i} AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt "
            f"FROM ({_SQL_PAIRS.format(enc=f'enc{i}')}) GROUP BY l, r)"
        )
        parts.append(
            f"top{i} AS MATERIALIZED (SELECT l AS tl, r AS tr, cnt "
            f"FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if i < k - 1 or full_stored_enc:
            parts.append(
                f"enc{i + 1} AS MATERIALIZED (SELECT freq, "
                f"replace(enc, '|' || tl || '|' || tr, '|' || tl || tr) AS enc "
                f"FROM enc{i}, top{i})"
            )
    parts.append(
        """bw AS (
            SELECT w, CAST(count(*) AS BIGINT) AS bfreq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents WHERE doc_id % 10 = 7)
            WHERE length(w) > 0 GROUP BY w
        )""",
    )
    parts.append(
        "benc0 AS MATERIALIZED (SELECT bfreq, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS enc FROM bw)"
    )
    for i in range(k):
        parts.append(
            f"benc{i + 1} AS MATERIALIZED (SELECT bfreq, "
            f"replace(enc, '|' || tl || '|' || tr, '|' || tl || tr) AS enc "
            f"FROM benc{i}, top{i})"
        )
    return parts


def _bpe_stream_census_oracle(k: int, top_n: int) -> str:
    """Oracle for tokenize-on-ingest (the streaming encode twin): the
    shared stored-slice training + batch-encode prefix, closed by the
    batch's frequency-weighted post-encoding token census."""
    parts = _bpe_stream_parts(k)
    parts.append(
        f"""toks AS (
            SELECT t AS token, CAST(sum(bfreq) AS BIGINT) AS n_occurrences
            FROM (SELECT bfreq, unnest(string_split(enc, '|')) AS t FROM benc{k})
            WHERE t <> '' GROUP BY t
        )"""
    )
    parts.append(
        "tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS total FROM toks)"
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token)
                    AS BIGINT) AS rank,
               token,
               n_occurrences,
               CAST(length(token) AS BIGINT) AS token_len,
               round(CAST(n_occurrences AS DOUBLE) / total, 6) AS share
        FROM (
            SELECT token, n_occurrences FROM toks
            ORDER BY n_occurrences DESC, token LIMIT {top_n}
        ), tot
        ORDER BY rank
    """


def _bpe_staleness_oracle(k: int) -> str:
    """Oracle for the tokenizer drift monitor: the shared stored-slice
    training + batch-encode prefix (with the stored side's final merge
    applied), closed by the two post-encoding censuses and the
    integer-exact retrain decision."""
    parts = _bpe_stream_parts(k, full_stored_enc=True)
    parts.append(
        f"""st AS (
            SELECT t AS token, CAST(sum(freq) AS BIGINT) AS n_occ
            FROM (SELECT freq, unnest(string_split(enc, '|')) AS t FROM enc{k})
            WHERE t <> '' GROUP BY t
        )"""
    )
    parts.append(
        f"""bt AS (
            SELECT t AS token, CAST(sum(bfreq) AS BIGINT) AS n_occ
            FROM (SELECT bfreq, unnest(string_split(enc, '|')) AS t FROM benc{k})
            WHERE t <> '' GROUP BY t
        )"""
    )
    parts.append(
        """ssum AS (
            SELECT CAST(sum(n_occ) AS BIGINT) AS stored_tokens,
                   CAST(sum(CASE WHEN length(token) > 1 THEN n_occ ELSE 0 END)
                        AS BIGINT) AS stored_merged,
                   CAST(count(*) AS BIGINT) AS stored_vocab
            FROM st
        )"""
    )
    parts.append(
        """bsum AS (
            SELECT CAST(sum(bt.n_occ) AS BIGINT) AS batch_tokens,
                   CAST(sum(CASE WHEN length(bt.token) > 1 THEN bt.n_occ
                                 ELSE 0 END) AS BIGINT) AS batch_merged,
                   CAST(count(*) AS BIGINT) AS batch_vocab,
                   CAST(sum(CASE WHEN st.token IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS oov_types,
                   CAST(sum(CASE WHEN st.token IS NULL THEN bt.n_occ ELSE 0 END)
                        AS BIGINT) AS oov_tokens
            FROM bt LEFT JOIN st ON st.token = bt.token
        )"""
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT CAST({k} AS BIGINT) AS n_merges,
               stored_tokens, stored_merged, stored_vocab,
               batch_tokens, batch_merged, batch_vocab,
               oov_types, oov_tokens,
               round(CAST(stored_merged AS DOUBLE) / stored_tokens, 6)
                   AS merged_share_stored,
               round(CAST(batch_merged AS DOUBLE) / batch_tokens, 6)
                   AS merged_share_batch,
               round(CAST(oov_tokens AS DOUBLE) / batch_tokens, 6) AS oov_share,
               (CAST(batch_merged AS DECIMAL(18,0))
                    * CAST(stored_tokens AS DECIMAL(18,0)) * 2
                  < CAST(stored_merged AS DECIMAL(18,0))
                    * CAST(batch_tokens AS DECIMAL(18,0))
                OR oov_tokens * 10 > batch_tokens) AS retrain
        FROM ssum, bsum
    """


@register(
    "docs_bpe_staleness",
    oracle=_bpe_staleness_oracle(BPE_MERGES),
    tags=("llm", "text", "tokenizer", "incremental", "eval"),
    doc=(
        "Tokenizer staleness audit — the drift monitor deciding WHEN "
        "the stored merge table retrains, completing the BPE family's "
        "lifecycle the way embeddings_drift_psi / text_index_staleness "
        "complete theirs (train = bpe_merge_loop, apply = "
        "docs_bpe_encode, stream-apply = streaming_bpe_encode, monitor "
        "= this): the PERSISTED tokenizer (the k-merge table trained on "
        "the stored corpus slice, doc_id % 10 <> 7 — the identical "
        "cached artifact streaming_bpe_encode serves with, same tag, "
        "same corpus key) encodes both the stored corpus and the "
        "ARRIVING slice, and the audit compares what the merge budget "
        "buys on each: merge-hit mass (occurrences of multi-char "
        "merged tokens — learned merges firing less on new traffic is "
        "the leading sign the token distribution moved) and OOV mass "
        "(batch occurrences of post-encoding tokens the stored "
        "vocabulary never produced — unseen chars or merge contexts "
        "the tokenizer fragments into novel units, exactly the tokens "
        "a downstream embedding table has no row for). One summary "
        "row: merge count, stored/batch token totals, merged-token "
        "masses, vocab sizes, OOV type/occurrence counts, the three "
        "shares rounded to 6 decimals, and the integer-exact retrain "
        "flag — fires "
        "when the batch's merge-hit RATE falls below half the stored "
        "rate (batch_merged x stored_tokens x 2 < stored_merged x "
        "batch_tokens, decimal(18,0) cross products — the "
        "text_index_staleness wrap-safety device) or OOV mass tops "
        "10% (oov x 10 > batch_tokens); never a float threshold. "
        "Scale shape: training reads the ONE session-cached merge "
        "table (a memo hit when the stream pool already trained it); "
        "both censuses are vocab-sized (the distinct-word relation, "
        "never per-occurrence), the OOV check is one token-keyed "
        "LEFT join between two vocab-sized censuses, and the summary "
        "is two 1-row aggregates joined by broadcast. At 100 TB the "
        "merge table is k tiny rows and the audit costs two "
        "vocabulary scans — the monitor is deliberately cheaper than "
        "the retrain it guards, the drift-family contract."
    ),
)
def docs_bpe_staleness(
    spark: SparkSession, sf_dir: str, *, k: int = BPE_MERGES
) -> DataFrame:
    """Graded default is the module constant; ``k`` is the stored
    tokenizer's merge count."""
    merges, enc = _bpe_train(
        spark,
        sf_dir,
        k,
        "bpe_enc_stream",
        words=_bpe_words(spark, sf_dir, F.col("doc_id") % 10 != 7),
        corpus_key="stored_slice_mod10ne7",
    )
    senc = _bpe_finish(enc, merges, k)

    def census(rel: DataFrame) -> DataFrame:
        return (
            rel.select("freq", F.explode(F.split("enc", r"\|")).alias("token"))
            .filter(F.length("token") > 0)
            .groupBy("token")
            .agg(F.sum("freq").cast("long").alias("n_occ"))
        )

    st = census(senc)
    bexpr = _bpe_enc0(F.col("w"))
    for _step, tl, tr, _m, _c in merges:
        bexpr = F.replace(bexpr, F.lit(f"|{tl}|{tr}"), F.lit(f"|{tl}{tr}"))
    bt = census(
        _bpe_words(spark, sf_dir, F.col("doc_id") % 10 == 7).select(
            "freq", bexpr.alias("enc")
        )
    )
    merged_occ = F.when(F.length("token") > 1, F.col("n_occ")).otherwise(0)
    ssum = st.agg(
        F.sum("n_occ").cast("long").alias("stored_tokens"),
        F.sum(merged_occ).cast("long").alias("stored_merged"),
        F.count(F.lit(1)).cast("long").alias("stored_vocab"),
    )
    marked = bt.join(
        st.select("token").withColumn("known", F.lit(1)), "token", "left"
    )
    oov = F.col("known").isNull()
    bsum = marked.agg(
        F.sum("n_occ").cast("long").alias("batch_tokens"),
        F.sum(merged_occ).cast("long").alias("batch_merged"),
        F.count(F.lit(1)).cast("long").alias("batch_vocab"),
        F.sum(oov.cast("long")).cast("long").alias("oov_types"),
        F.sum(F.when(oov, F.col("n_occ")).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
    )

    def _d(c: str):
        return F.col(c).cast("decimal(18,0)")

    return ssum.crossJoin(F.broadcast(bsum)).select(
        F.lit(len(merges)).cast("long").alias("n_merges"),
        "stored_tokens",
        "stored_merged",
        "stored_vocab",
        "batch_tokens",
        "batch_merged",
        "batch_vocab",
        "oov_types",
        "oov_tokens",
        F.round(
            F.col("stored_merged").cast("double") / F.col("stored_tokens"), 6
        ).alias("merged_share_stored"),
        F.round(
            F.col("batch_merged").cast("double") / F.col("batch_tokens"), 6
        ).alias("merged_share_batch"),
        F.round(
            F.col("oov_tokens").cast("double") / F.col("batch_tokens"), 6
        ).alias("oov_share"),
        (
            (_d("batch_merged") * _d("stored_tokens") * 2
             < _d("stored_merged") * _d("batch_tokens"))
            | (F.col("oov_tokens") * 10 > F.col("batch_tokens"))
        ).alias("retrain"),
    )
