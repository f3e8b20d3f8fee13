"""Similarity search over `embeddings(vec_id, embedding: array<float>, label)`.

ANN surface (SURVEY.md §7.2.7 / north-star):
  * knn_brute  — exact brute-force cosine top-k (the correctness baseline);
  * knn_ivf    — IVF-style bucketed ANN: assign every vector to its nearest
                 of 8 deterministic centroids, search only the query's cell.
                 The 100 TB path: candidate set shrinks by the cell count,
                 the centroid table broadcasts, and the per-cell layout can
                 be a partition key so a query touches one partition.
  * embedding_norms — per-label norm statistics (array fold exercise).

Numeric determinism: both engines compute dot products as an explicit
sequential left fold over index order in DOUBLE (Spark `aggregate`,
DuckDB `list_reduce`), with cosine = dot / (sqrt(na) * sqrt(nb)) written
identically — so results are bit-identical before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from currency_etl_spark.catalog import register
from currency_etl_spark.sources import table

N_CENTROIDS = 8
#: 4 sign bits → 16 buckets: sized so a bucket holds a meaningful candidate
#: set at the test corpus sizes; at 100 TB you raise bits (more, smaller
#: buckets) and add multi-probe/hash tables for recall.
LSH_BITS = 4


def _sql_sign_bucket(e: str, bits: int = LSH_BITS) -> str:
    """DuckDB twin of _sign_bucket."""
    return (
        f"list_sum(list_transform(generate_series(1, {bits}), "
        f"i -> CASE WHEN {e}[i] > 0 THEN 1 << (i - 1) ELSE 0 END))"
    )


def _probe_list(bits: int = LSH_BITS):
    """Multi-probe bucket list: the query's own bucket plus every bucket at
    Hamming distance 1 (each LSH bit flipped once). Single definition for
    the serving index (knn_lsh_multiprobe) AND the recall report — probe
    semantics must never drift between what is served and what is graded."""
    return F.array(
        F.col("qbucket"), *[F.expr(f"qbucket ^ {1 << i}") for i in range(bits)]
    )


def _sql_probe_list(bits: int = LSH_BITS) -> str:
    """DuckDB twin of _probe_list (an unnest-able list literal)."""
    flips = ", ".join(f"xor(qbucket, {1 << i})" for i in range(bits))
    return f"[qbucket, {flips}]"


def _sign_bucket(col: str = "embedding", bits: int = LSH_BITS) -> Column:
    """Sign-LSH bucket: one bit per leading dimension (1 iff component > 0).
    Nearby vectors land in the same bucket with high probability; a narrow
    map, so bucketing 100 TB of vectors costs one scan."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            # shiftleft() wants a literal bit count — use pow(2, i-1) instead
            lambda i: F.when(
                F.element_at(F.col(col), i) > 0,
                F.pow(F.lit(2.0), (i - 1).cast("double")).cast("int"),
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _fold_dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product: 0.0 + a1*b1 + a2*b2 + ..."""
    prods = F.zip_with(
        F.transform(a, lambda x: x.cast("double")),
        F.transform(b, lambda x: x.cast("double")),
        lambda x, y: x * y,
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: Column, b: Column) -> Column:
    return _fold_dot(a, b) / (F.sqrt(_fold_dot(a, a)) * F.sqrt(_fold_dot(b, b)))


def _sql_dot(a: str, b: str) -> str:
    """DuckDB twin of _fold_dot (list_reduce starts at the first element;
    0.0 + x == x in IEEE, so the fold orders agree)."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


@register(
    "knn_brute",
    oracle=f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               round({_sql_cosine('e.embedding', 'qe')}, 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
    """,
    tags=("llm", "vector", "topk"),
    doc=(
        "Brute-force cosine top-10 around vec_id 0. The 1-row query vector "
        "broadcasts; the scan stays narrow (vec_id, label, embedding); top-k "
        "plans as TakeOrderedAndProject — no global sort of all similarities."
    ),
)
def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(_cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "knn_ivf",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}),
        sims AS (
            SELECT e.vec_id, e.label, e.embedding, c.cid,
                   {_sql_cosine('e.embedding', 'c.ce')} AS sim
            FROM embeddings e, c
        ),
        assign AS (
            SELECT vec_id, label, embedding, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM sims
        ),
        bucketed AS (SELECT vec_id, label, embedding, cid FROM assign WHERE rn = 1),
        qb AS (SELECT cid AS qcid, embedding AS qe FROM bucketed WHERE vec_id = 0)
        SELECT b.vec_id, b.label, b.cid,
               round({_sql_cosine('b.embedding', 'qe')}, 6) AS cos_sim
        FROM bucketed b JOIN qb ON b.cid = qb.qcid
        WHERE b.vec_id <> 0
        ORDER BY cos_sim DESC, b.vec_id
        LIMIT 5
    """,
    tags=("llm", "vector", "ann"),
    doc=(
        "IVF-bucketed ANN: 8 deterministic 'centroids' (vec_id < 8), argmax-"
        "cosine assignment via a broadcast cross join + per-vector rank, then "
        "top-5 within the query's cell only. At scale: centroids broadcast, "
        "assignment is a narrow map, and writing the corpus partitioned by "
        "cell id makes the probe a single-partition scan."
    ),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    sims = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "embedding", "cid", _cosine(F.col("embedding"), F.col("ce")).alias("sim")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "cid")
    bucketed = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "sim")
    qb = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("cid").alias("qcid"), F.col("embedding").alias("qe")
    )
    return (
        bucketed.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qb), F.col("cid") == F.col("qcid"))
        .select("vec_id", "label", "cid", F.round(_cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register(
    "knn_lsh",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, embedding,
                   {_sql_sign_bucket('embedding')} AS bucket
            FROM embeddings
        ),
        qb AS (SELECT bucket AS qbucket, embedding AS qe FROM b WHERE vec_id = 0)
        SELECT b.vec_id, b.label, CAST(b.bucket AS BIGINT) AS bucket,
               round({_sql_cosine('b.embedding', 'qe')}, 6) AS cos_sim
        FROM b JOIN qb ON b.bucket = qb.qbucket
        WHERE b.vec_id <> 0
        ORDER BY cos_sim DESC, b.vec_id
        LIMIT 5
    """,
    tags=("llm", "vector", "ann", "lsh"),
    doc=(
        "LSH-bucketed ANN (the hash-partitioned alternative to knn_ivf): "
        "sign-LSH over the leading 8 dimensions buckets the corpus in one "
        "narrow map; the probe exact-ranks ONLY the query's bucket — "
        "candidate set shrinks ~2^bits-fold, no centroid training needed. "
        "At 100 TB the corpus is written partitioned by bucket, so a probe "
        "is a single-partition scan; recall is tuned by probing buckets at "
        "Hamming distance 1 (multi-probe) or adding hash tables, both of "
        "which only widen the candidate union."
    ),
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "label", "embedding", _sign_bucket().alias("bucket"))
    qb = b.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("qe")
    )
    return (
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "label",
            F.col("bucket").cast("long").alias("bucket"),
            F.round(_cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register(
    "knn_lsh_multiprobe",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, embedding,
                   {_sql_sign_bucket('embedding')} AS bucket
            FROM embeddings
        ),
        q AS (SELECT bucket AS qbucket, embedding AS qe FROM b WHERE vec_id = 0),
        probes AS (
            SELECT qbucket, qe,
                   unnest({_sql_probe_list()}) AS pbucket
            FROM q
        )
        SELECT b.vec_id, b.label, CAST(b.bucket AS BIGINT) AS bucket,
               CAST(CASE WHEN b.bucket = p.qbucket THEN 0 ELSE 1 END AS BIGINT) AS probe_dist,
               round({_sql_cosine('b.embedding', 'p.qe')}, 6) AS cos_sim
        FROM b JOIN probes p ON b.bucket = p.pbucket
        WHERE b.vec_id <> 0
        ORDER BY cos_sim DESC, b.vec_id
        LIMIT 5
    """,
    tags=("llm", "vector", "ann", "lsh", "multiprobe"),
    doc=(
        "Multi-probe extension of knn_lsh (the recall knob named in its "
        "docstring): probe the query's bucket plus every bucket at Hamming "
        "distance 1 (flip each of the LSH bits once), as ONE equi-join "
        "against the tiny broadcast probe list — candidate set grows "
        "(bits+1)-fold for a recall boost, while the plan stays a hash "
        "join + TakeOrderedAndProject, never a nested-loop scan. At 100 TB "
        "with the corpus partitioned by bucket this reads bits+1 "
        "partitions instead of one."
    ),
)
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "label", "embedding", _sign_bucket().alias("bucket"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("qe")
    )
    probes = q.select("qbucket", "qe", F.explode(_probe_list()).alias("pbucket"))
    return (
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .select(
            "vec_id",
            "label",
            F.col("bucket").cast("long").alias("bucket"),
            F.when(F.col("bucket") == F.col("qbucket"), 0).otherwise(1).cast("long").alias("probe_dist"),
            F.round(_cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register(
    "embedding_norms",
    oracle=f"""
        SELECT label,
               count(*) AS n_vectors,
               round(CAST(sum(CAST(sqrt({_sql_dot('embedding', 'embedding')}) AS DECIMAL(18,9)) ) AS DOUBLE)
                     / count(*), 6) AS avg_norm
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    tags=("llm", "vector", "aggregate"),
    doc=(
        "Per-label L2-norm statistics. Norms go through DECIMAL(18,9) before "
        "summing so the cross-row summation order (Spark partitions vs DuckDB "
        "sequential) cannot perturb the average."
    ),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_fold_dot(F.col("embedding"), F.col("embedding")))
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum(F.col("nrm").cast("decimal(18,9)")).cast("double") / F.count("*"), 6).alias(
                "avg_norm"
            ),
        )
    )


#: IVF-with-training constants: one Lloyd refinement of the N_CENTROIDS
#: seeds, then a 2-cell probe. nprobe is IVF's recall knob the way
#: Hamming-1 expansion is knn_lsh_multiprobe's.
IVF_NPROBE = 2
IVF_TOPK = 5


# quantization + integer distance are the SHARED convention defined once
# in queries/training.py (Q_SCALE) — see quantize_vec/int_l2 there
from currency_etl_spark.queries.training import int_l2 as _dist_q  # noqa: E402
from currency_etl_spark.queries.training import quantize_vec as _q_longs  # noqa: E402
from currency_etl_spark.queries.training import seed_centroids  # noqa: E402


def _dist_d(qv: Column, cm: Column) -> Column:
    """Sequential double fold of squared-L2 between a quantized vector and
    a double centroid — same fold order as the oracle's list_reduce, so
    the doubles (and therefore every argmin) are bit-identical."""
    return F.aggregate(
        F.zip_with(
            F.transform(qv, lambda x: x.cast("double")), cm, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: DuckDB twin of quantize_vec (the shared Q_SCALE=1e6 convention from
#: queries/training.py): float32 embedding → exact int64 lattice.
_SQL_QV = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

#: DuckDB twin of _dist_d: sequential fold in index order (list_reduce
#: seeds with the first element; 0.0 + x == x in IEEE, orders agree).
_SQL_DIST_D = (
    "list_reduce(list_transform(generate_series(1, len({qv})), "
    "i -> ({qv}[i]::DOUBLE - {cm}[i]) * ({qv}[i]::DOUBLE - {cm}[i])), (x, y) -> x + y)"
)

_SQL_DIST_Q = (
    "CAST(list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y) AS BIGINT)"
)


@register(
    "knn_ivf_kmeans",
    oracle=f"""
        WITH q AS (
            SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings
        ),
        cent0 AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < {N_CENTROIDS}),
        va AS (SELECT vec_id, generate_subscripts(qv, 1) AS d, unnest(qv) AS v FROM q),
        vc AS (SELECT cid, generate_subscripts(cq, 1) AS d, unnest(cq) AS v FROM cent0),
        d0 AS (
            SELECT va.vec_id, vc.cid, sum((va.v - vc.v) * (va.v - vc.v)) AS dist
            FROM va JOIN vc ON va.d = vc.d
            GROUP BY va.vec_id, vc.cid
        ),
        a0 AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d0
        ),
        m AS (
            SELECT a0.cid, va.d, CAST(sum(va.v) AS DOUBLE) / count(*) AS mu
            FROM a0 JOIN va ON va.vec_id = a0.vec_id
            WHERE a0.rn = 1
            GROUP BY a0.cid, va.d
        ),
        cent1 AS (SELECT cid, list(mu ORDER BY d) AS cm FROM m GROUP BY cid),
        d1 AS (
            SELECT q.vec_id, q.label, q.qv, c.cid,
                   {_SQL_DIST_D.format(qv='q.qv', cm='c.cm')} AS dist
            FROM q, cent1 c
        ),
        a1 AS (
            SELECT vec_id, label, qv, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d1
        ),
        probe AS (
            SELECT cid FROM d1 WHERE vec_id = 0
            ORDER BY dist, cid LIMIT {IVF_NPROBE}
        ),
        qrow AS (SELECT qv AS pq FROM q WHERE vec_id = 0)
        SELECT a1.vec_id, a1.label, CAST(a1.cid AS BIGINT) AS cell,
               {_SQL_DIST_Q.format(a='a1.qv', b='pq')} AS dist
        FROM a1, qrow
        WHERE a1.rn = 1 AND a1.cid IN (SELECT cid FROM probe) AND a1.vec_id <> 0
        ORDER BY dist, a1.vec_id
        LIMIT {IVF_TOPK}
    """,
    tags=("llm", "vector", "ann", "kmeans"),
    doc=(
        "IVF-Flat with a trained index — the production composition the "
        "separate pieces build toward: one Lloyd refinement of the "
        f"{N_CENTROIDS} seed centroids (kmeans_assign_step's plan: broadcast "
        "centroid array, map-side argmin, k-key mean shuffle), re-assign "
        f"every vector to its refined cell, then probe the {IVF_NPROBE} "
        "cells nearest the query and exact-rank only their members — "
        "nprobe is IVF's recall knob the way Hamming-1 expansion is the "
        "LSH table's. At 100 TB: centroids broadcast at both stages, both "
        "assignments are narrow maps over the vector scan, the corpus is "
        "written partitioned by cell so a probe touches nprobe partitions, "
        "and the final top-k is TakeOrderedAndProject. Numerics: integer-"
        "quantized sums make the training means exact; centroid distances "
        "fold sequentially in double (identical order both engines); "
        "candidate ranking is exact integer L2."
    ),
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", _q_longs().alias("qv"))
    cents0 = seed_centroids(q.select("vec_id", "qv"), N_CENTROIDS)
    assigned0 = q.crossJoin(F.broadcast(cents0)).select(
        "vec_id",
        "qv",
        F.array_min(
            F.transform(
                "cents", lambda c: F.struct(_dist_q(F.col("qv"), c["cq"]).alias("dist"), c["cid"].alias("cid"))
            )
        )["cid"].alias("cell0"),
    )
    # centroid means via posexplode + (cell, dim)-keyed aggregation — a
    # TALL narrow plan instead of 64 parallel sum columns: map-side
    # combine collapses each task's exploded stream to k×dims rows, the
    # codegen unit stays small (the 64-agg form exceeded the JIT method
    # limit and ran interpreted — measured 2x slower), and the integer
    # sums are identical bit-for-bit either way
    tall = assigned0.select("cell0", F.posexplode("qv").alias("d", "v"))
    per = tall.groupBy("cell0", "d").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cm = per.groupBy("cell0").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("d"),
                        (F.col("s").cast("double") / F.col("n")).alias("m"),
                    )
                )
            ),
            lambda x: x["m"],
        ).alias("cm")
    )
    # the trained index (ONE row: k centroids × dims doubles) feeds THREE
    # consumers (re-assignment, probe selection, and the final join);
    # Catalyst re-runs the whole scan→assign→mean chain per reference, so
    # materialize it once — localCheckpoint here, persist() on a cluster
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    # NOTE: tag must NOT be "ivf_cents" — that is the memo tag of the
    # family's STORED codebook (_ivf_cents_base); swapping this retrained
    # k-means codebook under the same tag would evict the memoized
    # artifact and force every later ivf consumer in the session
    # (tombstone screen, staleness audit, ...) to rebuild it.
    cents1 = swap_checkpoint(
        "ivf_kmeans_cents",
        cm.select(
            F.struct(F.col("cell0").alias("cid"), F.col("cm")).alias("c")
        ).agg(F.sort_array(F.collect_list("c")).alias("cents")),
    )
    assigned1 = q.crossJoin(F.broadcast(cents1)).select(
        "vec_id",
        "label",
        "qv",
        F.array_min(
            F.transform(
                "cents", lambda c: F.struct(_dist_d(F.col("qv"), c["cm"]).alias("dist"), c["cid"].alias("cid"))
            )
        )["cid"].alias("cell"),
    )
    # probe list + query vector ride ONE broadcast row alongside the scan
    probe = (
        q.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents1))
        .select(
            F.col("qv").alias("pq"),
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            "cents",
                            lambda c: F.struct(_dist_d(F.col("qv"), c["cm"]).alias("dist"), c["cid"].alias("cid")),
                        )
                    ),
                    1,
                    IVF_NPROBE,
                ),
                lambda s: s["cid"],
            ).alias("pcids"),
        )
    )
    return (
        assigned1.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .filter(F.array_contains(F.col("pcids"), F.col("cell")))
        .select(
            "vec_id",
            "label",
            F.col("cell").cast("long").alias("cell"),
            _dist_q(F.col("qv"), F.col("pq")).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(IVF_TOPK)
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation
# ---------------------------------------------------------------------------

#: Recall evaluation: queries are the first RECALL_NQ vectors; recall@K of
#: each approximate index is measured against the exact brute-force top-K.
RECALL_NQ = 8
RECALL_K = 5


def _topk_per_query(sims: DataFrame, k: int = RECALL_K) -> DataFrame:
    """Exact per-query top-k of (qid, vec_id, sim): one ROW_NUMBER window.

    Spark plans the ``row_number() <= k`` filter with a partial
    WindowGroupLimit below the qid Exchange, so each map task ships at
    most k rows per query, and a hot query's candidate list is never
    sorted whole on one task."""
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        sims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "vec_id")
    )


def _sql_topk(cands: str, k: int = RECALL_K) -> str:
    """DuckDB twin of _topk_per_query."""
    return (
        f"SELECT qid, vec_id FROM (SELECT qid, vec_id, "
        f"ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn "
        f"FROM {cands}) WHERE rn <= {k}"
    )


@register(
    "knn_recall_report",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding, {_sql_sign_bucket('embedding')} AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
              FROM b WHERE vec_id < {RECALL_NQ}),
        ex AS (SELECT q.qid, b.vec_id, {_sql_cosine('b.embedding', 'q.qe')} AS sim
               FROM b, q WHERE b.vec_id <> q.qid),
        ex_k AS ({_sql_topk('ex')}),
        lsh AS (SELECT q.qid, b.vec_id, {_sql_cosine('b.embedding', 'q.qe')} AS sim
                FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid),
        probes AS (
            SELECT qid, qe,
                   unnest({_sql_probe_list()}) AS pbucket
            FROM q
        ),
        mp AS (SELECT p.qid, b.vec_id, {_sql_cosine('b.embedding', 'p.qe')} AS sim
               FROM b JOIN probes p ON b.bucket = p.pbucket AND b.vec_id <> p.qid),
        methods AS (
            SELECT 'lsh' AS method, qid, vec_id FROM ({_sql_topk('lsh')})
            UNION ALL
            SELECT 'lsh_multiprobe' AS method, qid, vec_id FROM ({_sql_topk('mp')})
        ),
        frame AS (SELECT qid, m.method FROM q, (SELECT unnest(['lsh', 'lsh_multiprobe']) AS method) m),
        ret AS (SELECT method, qid, count(*) AS n_retrieved FROM methods GROUP BY 1, 2),
        ov AS (SELECT m.method, m.qid, count(*) AS n_overlap
               FROM methods m JOIN ex_k e ON m.qid = e.qid AND m.vec_id = e.vec_id
               GROUP BY 1, 2)
        SELECT f.qid AS query_id, f.method AS method,
               coalesce(ret.n_retrieved, 0) AS n_retrieved,
               coalesce(ov.n_overlap, 0) AS n_overlap,
               round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / {RECALL_K}, 6) AS recall_at_k
        FROM frame f
        LEFT JOIN ret ON f.qid = ret.qid AND f.method = ret.method
        LEFT JOIN ov ON f.qid = ov.qid AND f.method = ov.method
        ORDER BY query_id, f.method
    """,
    tags=("llm", "vector", "ann", "eval"),
    doc=(
        "ANN quality evaluation: recall@5 of the sign-LSH index (single- "
        "and multi-probe) against the exact brute-force top-5, over a "
        "sampled query set — the measure-don't-guess loop every ANN "
        "deployment needs before trading recall for speed. Scale design: "
        "the query set broadcasts (recall eval always samples queries); "
        "per-query top-k is one ROW_NUMBER window, which Spark plans "
        "with a partial WindowGroupLimit before the qid Exchange, so "
        "each map task ships at most K rows per query; the final "
        "overlap joins touch only NQ×K rows."
    ),
)
def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding", _sign_bucket().alias("bucket"))
    q = b.filter(F.col("vec_id") < RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    cos = _cosine(F.col("embedding"), F.col("qe")).alias("sim")

    exact = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos)
    )
    ex_k = _topk_per_query(exact)

    lsh = (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", cos)
    )
    probes = q.select("qid", "qe", F.explode(_probe_list()).alias("pbucket"))
    mp = (
        b.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", cos)
    )
    methods = _topk_per_query(lsh).withColumn("method", F.lit("lsh")).unionByName(
        _topk_per_query(mp).withColumn("method", F.lit("lsh_multiprobe"))
    )
    # ONE pass computes retrieved + overlap counts: a LEFT join against the
    # exact top-k (unique (qid, vec_id), so cardinality is preserved) flags
    # hits, and a single aggregate counts rows and non-null flags. Keep it
    # one aggregate: separate `ret` and `ov` relations would each execute
    # the whole `methods` subtree (both candidate joins and their top-k
    # windows), since Catalyst does not share a subplan between them.
    flagged = methods.join(
        ex_k.withColumn("__hit", F.lit(1)), ["qid", "vec_id"], "left"
    )
    agg = flagged.groupBy("method", "qid").agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.count("__hit").alias("n_overlap"),
    )
    frame = q.select("qid").crossJoin(
        spark.createDataFrame([("lsh",), ("lsh_multiprobe",)], "method string")
    )
    return (
        frame.join(agg, ["qid", "method"], "left")
        .select(
            F.col("qid").alias("query_id"),
            "method",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)).cast("double") / RECALL_K, 6).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

#: PQ geometry: 64 dims → PQ_M subspaces of PQ_DSUB dims, PQ_K centroids
#: per subspace (codes fit 2 bits here; production uses 256 → one byte).
#: Centroids are the subvectors of the first PQ_K corpus vectors — the same
#: deterministic seeding knn_ivf uses; a trained variant would slot a
#: per-subspace k-means step in front exactly like knn_ivf_kmeans does.
PQ_M = 8
PQ_DSUB = 8
PQ_K = 4


@register(
    "embedding_pq",
    oracle=f"""
        WITH c AS (
            SELECT list(list_transform(embedding, x -> x::DOUBLE) ORDER BY vec_id) AS cents
            FROM embeddings WHERE vec_id < {PQ_K}
        ),
        v AS (
            SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings
        ),
        d AS (
            -- per subspace m (0-based): squared L2 to each centroid's
            -- m-th subvector, as an index-ordered sequential fold
            SELECT vec_id, label,
                   list_transform(range(0, {PQ_M}), m ->
                       list_transform(cents, cent ->
                           list_reduce(
                               list_transform(range(1, {PQ_DSUB} + 1), i ->
                                   (e[m * {PQ_DSUB} + i] - cent[m * {PQ_DSUB} + i])
                                   * (e[m * {PQ_DSUB} + i] - cent[m * {PQ_DSUB} + i])),
                               (x, y) -> x + y))) AS dm
            FROM v, c
        )
        SELECT vec_id, label,
               array_to_string(list_transform(dm,
                   ds -> list_position(ds, list_min(ds)) - 1), '-') AS pq_codes,
               round(list_reduce(list_transform(dm, ds -> list_min(ds)),
                     (x, y) -> x + y) / {PQ_M * PQ_DSUB}, 6) AS recon_mse
        FROM d
        ORDER BY vec_id
    """,
    tags=("llm", "vector", "quantization", "ann"),
    doc=(
        "Product quantization: each vector is coded as PQ_M per-subspace "
        "nearest-centroid ids (argmin squared-L2, first-index tie-break) "
        "plus the reconstruction MSE the codes imply — the compression "
        "audit behind PQ/IVF-PQ indexes (int8 audit twin: "
        "embedding_quantize). The codebook is one broadcast row; coding is "
        "a narrow map over the scan (nested index-ordered folds, "
        "bit-identical in both engines), so compressing 100 TB of vectors "
        "is scan-bound with no shuffle at all."
    ),
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e_dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cents = (
        emb.filter(F.col("vec_id") < PQ_K)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))),
                lambda s: F.transform(s["embedding"], lambda x: x.cast("double")),
            ).alias("cents")
        )
    )
    v = emb.select("vec_id", "label", e_dbl.alias("e")).crossJoin(F.broadcast(cents))

    def sub_dist(m: Column, cent: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(PQ_DSUB)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at(F.col("e"), m * PQ_DSUB + i) - F.element_at(cent, m * PQ_DSUB + i))
            * (F.element_at(F.col("e"), m * PQ_DSUB + i) - F.element_at(cent, m * PQ_DSUB + i)),
        )

    dm = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.transform(F.col("cents"), lambda cent: sub_dist(m, cent)),
    )
    d = v.select("vec_id", "label", dm.alias("dm"))
    codes = F.transform(
        F.col("dm"), lambda ds: F.array_position(ds, F.array_min(ds)) - 1
    )
    mse = (
        F.aggregate(
            F.transform(F.col("dm"), F.array_min), F.lit(0.0), lambda a, x: a + x
        )
        / (PQ_M * PQ_DSUB)
    )
    return d.select(
        "vec_id",
        "label",
        F.concat_ws("-", F.transform(codes, lambda c: c.cast("string"))).alias("pq_codes"),
        F.round(mse, 6).alias("recon_mse"),
    )


#: ADC result width and the Q_SCALE² divisor that converts an exact
#: integer squared-L2 on the 1e6 lattice back to original units.
ADC_TOP_N = 10
_Q2 = "1000000000000.0"


@register(
    "knn_pq_adc",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        cents AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < {N_CENTROIDS}),
        ad AS (
            SELECT v.vec_id, c.cid,
                   {_SQL_DIST_Q.format(a='v.qv', b='c.cq')} AS d
            FROM q v, cents c
        ),
        asg AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM ad
        ),
        cells AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
        qcells AS (SELECT cid FROM asg WHERE vec_id = 0 AND rn <= {IVF_NPROBE}),
        cb AS (
            SELECT list(qv ORDER BY vec_id) AS cb FROM q WHERE vec_id < {PQ_K}
        ),
        coded AS (
            SELECT v.vec_id, v.label, v.qv,
                   list_transform(range(0, {PQ_M}), m ->
                       list_transform(cb, cent ->
                           CAST(list_reduce(list_transform(range(1, {PQ_DSUB} + 1), i ->
                               (v.qv[m * {PQ_DSUB} + i] - cent[m * {PQ_DSUB} + i])
                               * (v.qv[m * {PQ_DSUB} + i] - cent[m * {PQ_DSUB} + i])),
                               (x, y) -> x + y) AS BIGINT))) AS dm
            FROM q v, cb
        ),
        qside AS (SELECT dm AS dtab, qv AS tqv FROM coded WHERE vec_id = 0),
        cand AS (
            SELECT c.vec_id, c.label, c.qv, c.dm, cells.cid
            FROM coded c JOIN cells USING (vec_id)
            WHERE cells.cid IN (SELECT cid FROM qcells) AND c.vec_id <> 0
        ),
        scored AS (
            SELECT vec_id, label, CAST(cid AS BIGINT) AS cid,
                   CAST(list_reduce(list_transform(range(0, {PQ_M}), m ->
                       dtab[m + 1][list_position(dm[m + 1], list_min(dm[m + 1]))]),
                       (x, y) -> x + y) AS BIGINT) AS adc_q,
                   {_SQL_DIST_Q.format(a='qv', b='tqv')} AS td_q
            FROM cand, qside
        )
        SELECT vec_id, label, cid,
               round(CAST(adc_q AS DOUBLE) / {_Q2}, 6) AS adc_dist,
               round(CAST(td_q AS DOUBLE) / {_Q2}, 6) AS true_dist,
               round(CAST(adc_q - td_q AS DOUBLE) / {_Q2}, 6) AS adc_err
        FROM scored
        ORDER BY adc_q, vec_id
        LIMIT {ADC_TOP_N}
    """,
    tags=("llm", "vector", "ann", "quantization"),
    doc=(
        "IVF-PQ search with asymmetric distance computation (Jégou et al. "
        "2011) — the production ANN shape that composes this module's two "
        "index halves: the coarse IVF assignment restricts candidates to "
        f"the query's {IVF_NPROBE} nearest cells, and within them each "
        "vector is scored WITHOUT touching its full embedding — its "
        f"{PQ_M} PQ codes index the query's precomputed per-subspace "
        "distance table (ADC: adc(v) = Σ_m dtab[m][code_m(v)]), alongside "
        "the exact distance so the output doubles as an ADC-error audit. "
        "Every distance lives on the shared 1e6 int64 lattice "
        "(quantize_vec/int_l2), so codes, table entries, the ADC sum, and "
        "the final ordering are all integer-exact in both engines — no "
        "float fold anywhere. Scale shape: coarse centroids, PQ codebook, "
        "query cells, and the 8×4 distance table are four broadcast "
        "relations; assignment and coding are narrow map-side array "
        "expressions (array_min over a transformed struct list — no N×k "
        "row explosion, no window); candidate scoring reads ONLY (codes, "
        "cell) — at 100 TB the probe scans the code column of "
        f"{IVF_NPROBE}/{N_CENTROIDS} of the corpus, ~64× narrower than "
        "the embeddings themselves, exactly FAISS IVFPQ's layout. "
        "Residual (query − centroid) coding is the standard refinement; "
        "raw-vector coding keeps the oracle one CTE shorter with the "
        "same plan shape."
    ),
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", _q_longs().alias("qv"))
    cents = seed_centroids(q, N_CENTROIDS)

    # coarse assignment: min (dist, cid) over the broadcast codebook —
    # map-side, no per-centroid row explosion, no window
    def best_cell(n: int):
        return F.array_min(
            F.transform(
                F.slice("cents", 1, n),
                lambda c: F.struct(_dist_q(F.col("qv"), c["cq"]).alias("d"), c["cid"].alias("cid")),
            )
        )

    withc = q.crossJoin(F.broadcast(cents))
    # the query's IVF_NPROBE nearest cells: sort the same struct list
    # in-row, slice, explode → a ≤2-row broadcast relation
    qcells = (
        withc.filter(F.col("vec_id") == 0)
        .select(
            F.explode(
                F.slice(
                    F.array_sort(
                        F.transform(
                            "cents",
                            lambda c: F.struct(
                                _dist_q(F.col("qv"), c["cq"]).alias("d"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    IVF_NPROBE,
                )
            ).alias("s")
        )
        .select(F.col("s.cid").alias("qcid"))
    )

    # PQ codebook (1 broadcast row of PQ_K quantized vectors) and the
    # per-vector, per-subspace distance lists — integer-exact folds
    cb = (
        q.filter(F.col("vec_id") < PQ_K)
        .select(F.struct("vec_id", "qv").alias("s"))
        .agg(F.transform(F.array_sort(F.collect_list("s")), lambda s: s["qv"]).alias("cb"))
    )

    def sub_dist(m: Column, cent: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(PQ_DSUB)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + (F.element_at(F.col("qv"), m * PQ_DSUB + i) - F.element_at(cent, m * PQ_DSUB + i))
            * (F.element_at(F.col("qv"), m * PQ_DSUB + i) - F.element_at(cent, m * PQ_DSUB + i)),
        )

    dm = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.transform(F.col("cb"), lambda cent: sub_dist(m, cent)),
    )
    # the coarse cell id is computed INLINE over the same broadcast
    # codebook row rather than as a separate `cells` relation joined back
    # on vec_id — such a join shuffles the corpus twice (both sides derive
    # from the same scan) to attach a column a map-side expression
    # produces for free.
    coded = (
        withc.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "label",
            "qv",
            best_cell(N_CENTROIDS)["cid"].alias("cid"),
            dm.alias("dm"),
        )
    )
    qside = coded.filter(F.col("vec_id") == 0).select(
        F.col("dm").alias("dtab"), F.col("qv").alias("tqv")
    )

    cand = (
        coded.join(F.broadcast(qcells), F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != 0)
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.element_at("dtab", (m + 1).cast("int")),
            F.array_position(
                F.element_at("dm", (m + 1).cast("int")),
                F.array_min(F.element_at("dm", (m + 1).cast("int"))),
            ).cast("int"),
        ),
    )
    q2 = F.lit(float(_Q2))
    scored = cand.crossJoin(F.broadcast(qside)).select(
        "vec_id",
        "label",
        F.col("cid").cast("long").alias("cid"),
        adc.alias("adc_q"),
        _dist_q(F.col("qv"), F.col("tqv")).alias("td_q"),
    )
    return (
        scored.orderBy("adc_q", "vec_id")
        .limit(ADC_TOP_N)
        .select(
            "vec_id",
            "label",
            "cid",
            F.round(F.col("adc_q").cast("double") / q2, 6).alias("adc_dist"),
            F.round(F.col("td_q").cast("double") / q2, 6).alias("true_dist"),
            F.round((F.col("adc_q") - F.col("td_q")).cast("double") / q2, 6).alias("adc_err"),
        )
    )


@register(
    "embeddings_dim_stats",
    oracle="""
        WITH x AS (
            SELECT unnest(embedding) AS val,
                   unnest(range(len(embedding))) AS dim
            FROM embeddings
        ),
        q AS (
            SELECT dim,
                   CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS q,
                   CAST(val AS DOUBLE) AS v
            FROM x
        ),
        s AS (
            SELECT dim, count(*) AS n, sum(q) AS sq,
                   sum(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
                   min(v) AS mn, max(v) AS mx
            FROM q GROUP BY dim
        )
        SELECT CAST(dim AS BIGINT) AS dim, n,
               round(CAST(sq AS DOUBLE) / 1000000 / n, 6) AS mean_val,
               round(sqrt(greatest(
                   CAST(sqq AS DOUBLE) / 1000000000000 / n
                   - (CAST(sq AS DOUBLE) / 1000000 / n)
                     * (CAST(sq AS DOUBLE) / 1000000 / n), 0.0)), 6) AS std_val,
               round(mn, 6) AS min_val, round(mx, 6) AS max_val
        FROM s
        ORDER BY dim
    """,
    tags=("embeddings", "profile", "aggregate"),
    doc=(
        "Per-dimension moment profile of the embedding column — the "
        "normalization/whitening stats pass (mean, std, min, max per "
        "coordinate) every vector pipeline runs before indexing or "
        "PCA. posexplode fans (vec, dim, val) out; the aggregate keys on "
        "dim (64 keys), so map-side partial aggregation collapses the "
        "exploded stream to |dims| rows per task before the one tiny "
        "shuffle. Float sums are order-nondeterministic, so both engines "
        "fold 1e6-quantized int64 values (and exact DECIMAL squares) and "
        "convert to double once at the end — bit-identical under any "
        "partitioning, and the same trick scales to 100 TB where a "
        "billion-vector sum in double would drift per run."
    ),
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "val"))
    q = F.round(F.col("val").cast("double") * 1000000).cast("long")
    s = (
        x.select("dim", q.alias("q"), F.col("val").cast("double").alias("v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("sqq"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )
    mean = F.col("sq").cast("double") / 1000000 / F.col("n")
    var = F.col("sqq").cast("double") / 1000000000000 / F.col("n") - mean * mean
    return s.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.round(mean, 6).alias("mean_val"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_val"),
        F.round("mn", 6).alias("min_val"),
        F.round("mx", 6).alias("max_val"),
    ).orderBy("dim")


@register(
    "embedding_label_outliers",
    oracle="""
        WITH x AS (
            SELECT vec_id, label, unnest(embedding) AS val,
                   unnest(range(len(embedding))) AS dim
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, label, dim, CAST(val AS DOUBLE) AS v FROM x
        ),
        cent AS (
            SELECT label, dim,
                   sum(CAST(round(v * 1000000) AS BIGINT)) AS sq,
                   count(*) AS n
            FROM q GROUP BY label, dim
        ),
        c AS (
            SELECT label, dim, CAST(sq AS DOUBLE) / 1000000 / n AS cval
            FROM cent
        ),
        d AS (
            SELECT q.vec_id, q.label,
                   sum(CAST(round((q.v - c.cval) * (q.v - c.cval)
                                  * 1000000000000) AS BIGINT)) AS d2q
            FROM q JOIN c ON q.label = c.label AND q.dim = c.dim
            GROUP BY q.vec_id, q.label
        ),
        dist AS (
            SELECT vec_id, label,
                   sqrt(CAST(d2q AS DOUBLE) / 1000000000000) AS dist
            FROM d
        ),
        p AS (
            SELECT label, quantile_cont(dist, 0.95) AS p95
            FROM dist GROUP BY label
        )
        SELECT CAST(dist.label AS BIGINT) AS label,
               count(*) AS n_vecs,
               round(max(p.p95), 6) AS p95_dist,
               count(*) FILTER (dist.dist > p.p95) AS n_outliers,
               round(CAST(sum(CAST(round(dist.dist * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000 / count(*), 6) AS mean_dist
        FROM dist JOIN p ON dist.label = p.label
        GROUP BY dist.label
        ORDER BY label
    """,
    tags=("embeddings", "quality", "outliers"),
    doc=(
        "Embedding-cluster hygiene: distance of every vector to its own "
        "label centroid, the per-label p95 distance, and the count of "
        "vectors beyond it — the mislabeled/contaminated-embedding "
        "detector run before training a classifier head or pruning an "
        "index. Centroids fold 1e6-quantized int64 sums per (label, "
        "dim) — partial-agg friendly, exact under any partitioning — "
        "and broadcast back onto the exploded vectors; per-vector "
        "squared distances fold 1e12-quantized so the dim sum is exact "
        "too. The only data-sized shuffles key on (label, dim) and "
        "vec_id. Exact quantile_cont/percentile is the sf-scale "
        "correctness baseline; at 100 TB the p95 swaps to "
        "approx_percentile with this entry as its oracle."
    ),
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    x = e.select("vec_id", "label", F.posexplode("embedding").alias("dim", "val"))
    q = x.select("vec_id", "label", "dim", F.col("val").cast("double").alias("v"))
    cent = q.groupBy("label", "dim").agg(
        F.sum(F.round(F.col("v") * 1000000).cast("long")).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    c = cent.select(
        "label", "dim", (F.col("sq").cast("double") / 1000000 / F.col("n")).alias("cval")
    )
    diff = F.col("v") - F.col("cval")
    d = (
        q.join(F.broadcast(c), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(diff * diff * 1000000000000).cast("long")).alias("d2q")
        )
    )
    dist = d.select(
        "vec_id", "label", F.sqrt(F.col("d2q").cast("double") / 1000000000000).alias("dist")
    )
    p = dist.groupBy("label").agg(F.percentile("dist", 0.95).alias("p95"))
    return (
        dist.join(F.broadcast(p), "label")
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.max("p95"), 6).alias("p95_dist"),
            F.sum((F.col("dist") > F.col("p95")).cast("long")).alias("n_outliers"),
            F.round(
                F.sum(F.round(F.col("dist") * 1000000).cast("long")).cast("double")
                / 1000000
                / F.count(F.lit(1)),
                6,
            ).alias("mean_dist"),
        )
        .orderBy("label")
    )


#: Neighbors per point in the bucketed kNN graph.
KNN_GRAPH_K = 3
#: The graph build uses finer buckets than the query-time index (64 vs 16):
#: an all-points build touches O(Σ bucket²) pairs, so bucket size — not
#: bucket count — is the cost driver. Recall loss vs 4 bits is the standard
#: build-time knob (raise bits + add Hamming-1 probes to win it back).
KNN_GRAPH_BITS = 6


@register(
    "knn_graph_bucketed",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_sql_sign_bucket('embedding', KNN_GRAPH_BITS)} AS bucket,
                   sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id, n.vec_id AS neighbor_id,
                   {_sql_dot('a.embedding', 'n.embedding')} / (a.nrm * n.nrm)
                       AS sim
            FROM b a JOIN b n
              ON a.bucket = n.bucket AND a.vec_id <> n.vec_id
        ),
        ranked AS (
            SELECT vec_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM pairs
        )
        SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
               round(sim, 6) AS cos_sim
        FROM ranked WHERE rank <= {KNN_GRAPH_K}
        ORDER BY vec_id, rank
    """,
    tags=("llm", "vector", "ann", "graph"),
    doc=(
        "kNN-graph construction: EVERY vector's top-3 cosine neighbors "
        "within its sign-LSH bucket — the all-points neighbor graph "
        "that feeds graph clustering, UMAP-style layouts, and "
        "label-propagation over embeddings (the per-point twin of the "
        "query-set entries knn_lsh/knn_recall_report). Two build-cost "
        "decisions both engines share: self-norms are computed ONCE per "
        "vector and hoisted out of the pair loop (one dot fold per pair "
        "instead of three — measured 3x on the sf0.1 build), and the "
        "graph uses 6 LSH bits (64 buckets) where the query-time index "
        "uses 4 — an all-points build touches O(Σ bucket²) pairs, so "
        "bucket SIZE is the cost driver. Per-point ranking is a "
        "WindowGroupLimit inside bucket-local partitions. At 100 TB you "
        "raise bits further and add Hamming-1 probes for recall (the "
        "knn_lsh_multiprobe pattern); the graph materializes straight "
        "to a bucketed table for the downstream iterative consumer."
    ),
)
def knn_graph_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        _sign_bucket(bits=KNN_GRAPH_BITS).alias("bucket"),
        F.sqrt(_fold_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = b.select("bucket", "vec_id", "embedding", "nrm")
    n = b.select(
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nnrm"),
    )
    pairs = (
        a.join(n, "bucket")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            (
                _fold_dot(F.col("embedding"), F.col("ne"))
                / (F.col("nrm") * F.col("nnrm"))
            ).alias("sim"),
        )
    )
    ranked = pairs.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.desc("sim"), "neighbor_id")
        ),
    ).where(F.col("rank") <= KNN_GRAPH_K)
    return ranked.select(
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.round("sim", 6).alias("cos_sim"),
    ).orderBy("vec_id", "rank")


#: Matryoshka-style truncation audit: prefix length of the cheap index.
TRUNC_DIMS = 16


@register(
    "knn_truncation_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding, embedding[1:{TRUNC_DIMS}] AS emb_t
            FROM embeddings
        ),
        q AS (SELECT vec_id AS qid, embedding AS qe, emb_t AS qt
              FROM e WHERE vec_id < {RECALL_NQ}),
        full_sims AS (
            SELECT q.qid, e.vec_id, {_sql_cosine('e.embedding', 'q.qe')} AS sim
            FROM e, q WHERE e.vec_id <> q.qid
        ),
        trunc_sims AS (
            SELECT q.qid, e.vec_id, {_sql_cosine('e.emb_t', 'q.qt')} AS sim
            FROM e, q WHERE e.vec_id <> q.qid
        ),
        full_k AS ({_sql_topk('full_sims')}),
        trunc_k AS ({_sql_topk('trunc_sims')}),
        ov AS (
            SELECT f.qid, count(*) AS n_overlap
            FROM full_k f JOIN trunc_k t ON f.qid = t.qid AND f.vec_id = t.vec_id
            GROUP BY f.qid
        )
        SELECT q.qid AS query_id,
               coalesce(ov.n_overlap, 0) AS n_overlap,
               round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / {RECALL_K}, 6)
                   AS recall_at_k
        FROM q LEFT JOIN ov ON q.qid = ov.qid
        ORDER BY query_id
    """,
    tags=("llm", "vector", "ann", "eval", "matryoshka"),
    doc=(
        "Dimension-truncation recall audit (the Matryoshka decision): "
        "recall@5 of exact search over the FIRST-16-DIM prefix against "
        "exact search over all 64 dims, per sampled query — the "
        "measurement that decides whether a 4x-cheaper truncated index "
        "(4x less memory, 4x fewer multiply-adds per candidate) keeps "
        "enough retrieval quality. Both candidate sets reuse the "
        "broadcast-query top-k of knn_recall_report (one ROW_NUMBER "
        "window with a partial WindowGroupLimit before the shuffle); "
        "the truncated column is a zero-"
        "copy array slice at the scan. At 100 TB this is the cheap "
        "offline eval run BEFORE re-indexing a trillion vectors; "
        "recall here is genuinely lossy (prefix dims carry no special "
        "variance in this corpus), which is exactly what the audit "
        "exists to expose."
    ),
)
def knn_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, TRUNC_DIMS).alias("emb_t"),
    )
    q = e.filter(F.col("vec_id") < RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("emb_t").alias("qt"),
    )
    # BOTH similarity columns ride ONE corpus × query pass: separate
    # full_sims / trunc_sims relations would each run the embeddings scan
    # + broadcast cross join, since Catalyst does not share a subplan
    # between the two top-k branches. The NQ×N sims relation is
    # checkpointed (bounded: queries × corpus, the same materialization
    # a recall harness would persist), and the two top-k elections read
    # it.
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    sims = swap_checkpoint(
        "trunc_sims",
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            _cosine(F.col("embedding"), F.col("qe")).alias("sim_full"),
            _cosine(F.col("emb_t"), F.col("qt")).alias("sim_trunc"),
        ),
    )
    full_sims = sims.select("qid", "vec_id", F.col("sim_full").alias("sim"))
    trunc_sims = sims.select("qid", "vec_id", F.col("sim_trunc").alias("sim"))
    ov = (
        _topk_per_query(full_sims)
        .join(_topk_per_query(trunc_sims), ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        q.select("qid")
        .join(ov, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)).cast("double") / RECALL_K, 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_power_iteration",
    oracle="""
        WITH d AS (
            SELECT vec_id, embedding,
                   list_reduce(list_transform(embedding,
                                              v -> CAST(v AS DOUBLE)),
                               (a, b) -> a + b) * 0.125 AS dot
            FROM embeddings
        ),
        c AS (
            SELECT unnest(embedding) AS val,
                   unnest(range(len(embedding))) AS dim,
                   dot
            FROM d
        ),
        u AS (
            SELECT dim,
                   sum(CAST(round(CAST(val AS DOUBLE) * dot * 1000000)
                            AS BIGINT)) AS uq
            FROM c GROUP BY dim
        ),
        nrm AS (
            SELECT sum(CAST(round((CAST(uq AS DOUBLE) / 1000000)
                                  * (CAST(uq AS DOUBLE) / 1000000)
                                  * 1000000) AS BIGINT)) AS nq
            FROM u
        )
        SELECT CAST(u.dim AS BIGINT) AS dim,
               round(CAST(u.uq AS DOUBLE) / 1000000
                     / sqrt(CAST(nrm.nq AS DOUBLE) / 1000000), 6) AS loading
        FROM u CROSS JOIN nrm
        ORDER BY dim
    """,
    tags=("embeddings", "pca", "iterative"),
    doc=(
        "One distributed power-iteration step toward the top principal "
        "direction: u = Σᵢ xᵢ (xᵢ·v₀) with the deterministic uniform "
        "seed v₀ = 1/√d, returned as the normalized per-dimension "
        "loading — the building block of distributed PCA/SVD (repeat + "
        "re-normalize to converge; one step is the graded, exactly-"
        "checkable unit, like kmeans_assign_step for Lloyd's). The "
        "per-vector projection is a sequential double fold (both "
        "engines fold in the same order); per-dimension contributions "
        "are 1e6-quantized int64 BEFORE the cross-vector sum, and the "
        "normalizer re-quantizes the 64 squared components — so the "
        "whole step is bit-identical under any partitioning. Plan: one "
        "narrow projection, one posexplode, one 64-key partial-agg "
        "shuffle, a 1-row broadcast normalizer."
    ),
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    dot = (
        F.aggregate(
            F.transform(F.col("embedding"), lambda v: v.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        * 0.125
    )
    d = emb.select("embedding", dot.alias("dot"))
    c = d.select(F.posexplode("embedding").alias("dim", "val"), "dot")
    u = c.groupBy("dim").agg(
        F.sum(
            F.round(F.col("val").cast("double") * F.col("dot") * 1000000).cast(
                "long"
            )
        ).alias("uq")
    )
    uq_d = F.col("uq").cast("double") / 1000000
    nrm = u.agg(
        F.sum(F.round(uq_d * uq_d * 1000000).cast("long")).alias("nq")
    )
    return (
        u.crossJoin(F.broadcast(nrm))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.round(
                uq_d / F.sqrt(F.col("nq").cast("double") / 1000000), 6
            ).alias("loading"),
        )
        .orderBy("dim")
    )


#: Incremental-ingest slice: vec_id % KNN_BATCH_MOD == KNN_BATCH_REM is
#: the NEW batch — the same deterministic 10% convention
#: dedup_incremental uses on documents (doc_id % 10 = 7), so the two
#: ingest-screen entries model the same arriving shard.
KNN_BATCH_MOD = 10
KNN_BATCH_REM = 7


def _corpus_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTING corpus (non-batch vectors), quantized."""
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD != KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )


def probe_cells(nprobe: int) -> Column:
    """The query-side nprobe-nearest-cells expression over a row holding
    ``qv`` (quantized vector) and ``cents`` (the broadcast codebook):
    in-row array_sort over (int64 L2, cid) structs, sliced to nprobe.
    SINGLE definition — knn_incremental and the streaming screen
    (streaming/jobs.py) must stay bit-identical, so both plan exactly
    this expression."""
    return F.slice(
        F.array_sort(
            F.transform(
                "cents",
                lambda c: F.struct(
                    _dist_q(F.col("qv"), c["cq"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        nprobe,
    )


def _ivf_cents_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored coarse codebook of the corpus: the N_CENTROIDS lowest-vec_id
    CORPUS vectors as a 1-row broadcastable struct list. Memoized per
    session/SF (memo tag ``ivf_cents``) — this is the persisted index
    artifact an ingest pipeline keeps, not something a batch screen may
    rebuild. (seed_centroids' vec_id < k convention can't be reused here:
    the batch slice excludes vec_id 7, so corpus seeds are the k smallest
    SURVIVING ids.)"""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        return (
            _corpus_vecs(spark, sf_dir)
            .orderBy("vec_id")
            .limit(N_CENTROIDS)
            .select(
                F.struct(F.col("vec_id").alias("cid"), F.col("qv").alias("cq")).alias("c")
            )
            .agg(F.sort_array(F.collect_list("c")).alias("cents"))
        )

    return memo_checkpoint("ivf_cents", sf_dir, build)


def _ivf_index_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored IVF cell assignments of the corpus — (vec_id, label, qv,
    cid), cid = argmin integer L2 over the stored codebook (ties to the
    lower cid, the module's standard argmin-struct convention). Memoized
    per session/SF (memo tag ``ivf_index``): the screen READS this
    relation; only the first touch per session builds it."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        cents = _ivf_cents_base(spark, sf_dir)
        return (
            _corpus_vecs(spark, sf_dir)
            .crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "label",
                "qv",
                F.array_min(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            _dist_q(F.col("qv"), c["cq"]).alias("d"),
                            c["cid"].alias("cid"),
                        ),
                    )
                )["cid"].alias("cid"),
            )
        )

    return memo_checkpoint("ivf_index", sf_dir, build)


def screen_candidates(
    q: DataFrame, cents: DataFrame, idx: DataFrame, nprobe: int
) -> DataFrame:
    """SHARED candidate-generation plan of the ANN ingest screen — the
    single definition both the batch entry (knn_incremental) and the
    streaming twin (streaming/jobs.py:_knn_screen_stream) build, so the
    two can never drift: in-row nprobe cell election over the broadcast
    1-row codebook (probe_cells), explode, equi-join on cell against the
    stored assignment relation, exact int64 lattice distance per
    candidate. ``q`` is any (vec_id, label, qv) relation — static batch
    or stream; everything here is stateless and stream-safe."""
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("vec_id", "label", "qv", F.explode(probe_cells(nprobe)).alias("p"))
        .select("vec_id", "label", "qv", F.col("p.cid").alias("pcid"))
        .alias("b")
    )
    return probes.join(idx.alias("i"), F.col("b.pcid") == F.col("i.cid")).select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.label").alias("label"),
        F.col("i.vec_id").alias("nn_vec_id"),
        F.col("i.label").alias("nn_label"),
        F.col("i.cid").alias("cell"),
        _dist_q(F.col("b.qv"), F.col("i.qv")).alias("d"),
    )


def screen_top1(cand: DataFrame) -> DataFrame:
    """SHARED per-vector top-1 election + lattice denormalization over a
    candidate relation shaped like screen_candidates' output (batch
    result or the streaming twin's memory sink): window-free min(struct)
    with the (d, nn_vec_id, ...) tie order of the oracle's ROW_NUMBER,
    and the ONE Q_SCALE²=1e12 divisor (float(_Q2)) both twins must
    denormalize by."""
    q2 = F.lit(float(_Q2))
    return (
        cand.groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.min(F.struct("d", "nn_vec_id", "nn_label", "cell")).alias("nn"),
        )
        .select(
            "vec_id",
            "label",
            "n_candidates",
            F.col("nn.nn_vec_id").alias("nn_vec_id"),
            F.col("nn.nn_label").alias("nn_label"),
            F.col("nn.cell").cast("long").alias("nn_cell"),
            F.round(F.col("nn.d").cast("double") / q2, 6).alias("nn_dist"),
        )
        .orderBy("vec_id")
    )


@register(
    "knn_incremental",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT c.vec_id, c.label, c.qv, a.cid
            FROM corpus c JOIN (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) a ON a.vec_id = c.vec_id AND a.rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        probes AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM bd
            ) WHERE rn <= {IVF_NPROBE}
        ),
        cand AS (
            SELECT b.vec_id, b.label, i.vec_id AS nn_vec_id, i.label AS nn_label,
                   i.cid AS cell, {_SQL_DIST_Q.format(a='b.qv', b='i.qv')} AS d
            FROM batch b JOIN probes p ON p.vec_id = b.vec_id
                         JOIN idx i ON i.cid = p.cid
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, nn_vec_id) AS rn,
                   count(*) OVER (PARTITION BY vec_id) AS n_candidates
            FROM cand
        )
        SELECT vec_id, label, CAST(n_candidates AS BIGINT) AS n_candidates,
               nn_vec_id, nn_label, CAST(cell AS BIGINT) AS nn_cell,
               round(CAST(d AS DOUBLE) / {_Q2}, 6) AS nn_dist
        FROM ranked WHERE rn = 1
        ORDER BY vec_id
    """,
    tags=("llm", "vector", "ann", "incremental"),
    doc=(
        "Incremental ANN screen — the ingest-time twin of "
        "dedup_incremental for the vector side: a NEW batch of embeddings "
        f"(deterministic 10% slice, vec_id % {KNN_BATCH_MOD} = "
        f"{KNN_BATCH_REM}) is screened against the STORED IVF index of "
        "the existing corpus without rebuilding it. The index is the two "
        "memoized relations a production pipeline persists — the coarse "
        "codebook (1 broadcast row) and the (vec_id, cell) assignment "
        "table — built once per session (memo tags ivf_cents/ivf_index, "
        "plan-pinned: the screen's plan reads the checkpoints and scans "
        f"the embeddings parquet exactly once, for the batch). Each batch "
        f"vector probes its {IVF_NPROBE} nearest cells and exact-ranks "
        "only their members (equi-join on cell; the nprobe-exploded batch "
        "is the small side, AQE broadcasts it at runtime); per vector: "
        "its nearest corpus neighbor, the neighbor's cell, the exact "
        "quantized distance, and how many candidates the probe actually "
        "touched — batch x corpus work is O(|batch| x corpus/cells x "
        "nprobe), never corpus x corpus, and at 100 TB the index table "
        "is partitioned by cell so a probe reads nprobe partitions. "
        "Numerics: every distance lives on the shared 1e6 int64 lattice "
        "(quantize_vec/int_l2), argmin ties break to the lower id in "
        "both engines; min(struct(d, nn_vec_id, ...)) is the Spark twin "
        "of the oracle's ROW_NUMBER(ORDER BY d, nn_vec_id) = 1."
    ),
)
def knn_incremental(
    spark: SparkSession, sf_dir: str, *, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Graded default is the module constant; ``nprobe`` is the recall
    knob (nprobe = N_CENTROIDS degrades to exact batch-vs-corpus NN)."""
    batch = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )
    cents = _ivf_cents_base(spark, sf_dir)
    idx = _ivf_index_base(spark, sf_dir)
    return screen_top1(screen_candidates(batch, cents, idx, nprobe))


#: Result depth for the filtered search (top-k within the facet).
FILTER_K = 3


@register(
    "knn_filtered_search",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT c.vec_id, c.label, c.qv, a.cid
            FROM corpus c JOIN (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) a ON a.vec_id = c.vec_id AND a.rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        probes AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM bd
            ) WHERE rn <= {IVF_NPROBE}
        ),
        cand AS (
            SELECT b.vec_id, b.label, i.vec_id AS nn_vec_id, i.cid AS cell,
                   {_SQL_DIST_Q.format(a='b.qv', b='i.qv')} AS d
            FROM batch b JOIN probes p ON p.vec_id = b.vec_id
                         JOIN idx i ON i.cid = p.cid
            WHERE i.label = b.label
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, nn_vec_id) AS rnk,
                   count(*) OVER (PARTITION BY vec_id) AS n_candidates
            FROM cand
        )
        SELECT vec_id, label, CAST(rnk AS BIGINT) AS rank,
               nn_vec_id, CAST(cell AS BIGINT) AS nn_cell,
               round(CAST(d AS DOUBLE) / {_Q2}, 6) AS nn_dist,
               CAST(n_candidates AS BIGINT) AS n_candidates
        FROM ranked WHERE rnk <= {FILTER_K}
        ORDER BY vec_id, rank
    """,
    tags=("llm", "vector", "ann", "incremental"),
    doc=(
        "Metadata-filtered vector search — every production vector "
        "store's headline feature (search within a tenant / language / "
        "facet) and the one ANN capability the family was missing: for "
        f"the batch slice (vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}, "
        "the same query set as knn_incremental), the top-"
        f"{FILTER_K} nearest STORED-corpus vectors restricted to the "
        "query's own facet (nn_label = label — per-query predicate, the "
        "tenancy pattern), served from the same persisted IVF artifacts "
        "(memo tags ivf_cents/ivf_index; the probe plan is the SHARED "
        "screen_candidates, so the filtered and unfiltered screens can "
        "never drift). The predicate composes INSIDE the probe — "
        "pre-filtering the candidate relation BEFORE the rank, which is "
        "exact within the probed cells and strictly cheaper than the "
        "post-filter-an-oversample strategy (whose recall depends on a "
        "guessed multiplier); queries whose probed cells hold NO "
        "facet-matching member drop out of the result — the filtered-ANN "
        "recall hazard a production store handles by probe escalation, "
        "here surfaced by the row count (and n_candidates, the "
        "post-filter candidate pool each query actually ranked). At "
        "100 TB the assignment relation is partitioned by cell and "
        "bucketed by the facet column, so the filter prunes storage "
        "before the join; the only window partitions on vec_id (grows "
        "with the batch). Numerics: the shared 1e6 int64 lattice, "
        "(d, nn_vec_id) total tie order, one Q_SCALE^2 denormalization "
        "per emitted row."
    ),
)
def knn_filtered_search(
    spark: SparkSession, sf_dir: str, *, nprobe: int = IVF_NPROBE, k: int = FILTER_K
) -> DataFrame:
    """Graded defaults are the module constants; ``nprobe`` is the recall
    knob (nprobe = N_CENTROIDS degrades to the exact facet-filtered
    batch-vs-corpus NN), ``k`` the result depth."""
    batch = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )
    cents = _ivf_cents_base(spark, sf_dir)
    idx = _ivf_index_base(spark, sf_dir)
    cand = screen_candidates(batch, cents, idx, nprobe).filter(
        F.col("nn_label") == F.col("label")
    )
    w = W.partitionBy("vec_id").orderBy("d", "nn_vec_id")
    q2 = F.lit(float(_Q2))
    return (
        cand.select(
            "vec_id",
            "label",
            "nn_vec_id",
            F.col("cell").cast("long").alias("nn_cell"),
            "d",
            F.row_number().over(w).cast("long").alias("rank"),
            F.count(F.lit(1)).over(W.partitionBy("vec_id")).cast("long").alias(
                "n_candidates"
            ),
        )
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "label",
            "rank",
            "nn_vec_id",
            "nn_cell",
            F.round(F.col("d").cast("double") / q2, 6).alias("nn_dist"),
            "n_candidates",
        )
        .orderBy("vec_id", "rank")
    )


def _escalate_schedule(base: int = IVF_NPROBE, full: int = N_CENTROIDS) -> tuple:
    """Probe-escalation schedule: repeated doubling from the base depth,
    capped by a final every-cell round — so the round count is genuinely
    O(log2 cells) at any codebook size (a literal schedule tuple would
    leave an arbitrarily large final jump). At the graded constants
    (base 2, 8 cells) this derives (2, 4, 8), the graded schedule; at
    4096 cells and base 8 it derives
    (8, 16, 32, ..., 2048, 4096), 10 rounds."""
    sched = []
    p = base
    while p < full:
        sched.append(p)
        p *= 2
    sched.append(full)
    return tuple(sched)


ESCALATE_SCHEDULE = _escalate_schedule()

#: Round-boundary checkpoint tags for the escalating screen — a LITERAL
#: tuple so the process-global tag family stays bounded by construction
#: (tests/test_ckpt_memo.py AST-verifies every checkpoint tag is either
#: a string literal or a subscript of a literal tuple like this one).
#: 16 boundaries cover a doubling schedule over 2^16 cells.
_ESCALATE_REM_TAGS = (
    "escalate_rem1", "escalate_rem2", "escalate_rem3", "escalate_rem4",
    "escalate_rem5", "escalate_rem6", "escalate_rem7", "escalate_rem8",
    "escalate_rem9", "escalate_rem10", "escalate_rem11", "escalate_rem12",
    "escalate_rem13", "escalate_rem14", "escalate_rem15", "escalate_rem16",
)

#: The escalating screen's own serving depth: top-10 within the facet (a
#: realistic retrieval page). Deliberately DEEPER than FILTER_K=3 — at
#: k=3 the graded corpus serves every query at the base depth and the
#: escalation tiers would never fire on graded data; at 10 the expected
#: base-depth facet pool (~|facet| x nprobe/cells) sits right at the
#: threshold, so the output exercises every tier of the schedule.
ESCALATE_K = 10

_SQL_ESCALATE_SCHED = " UNION ALL ".join(
    f"SELECT {p} AS p" for p in ESCALATE_SCHEDULE
)


@register(
    "knn_filtered_escalate",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT c.vec_id, c.label, c.qv, a.cid
            FROM corpus c JOIN (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) a ON a.vec_id = c.vec_id AND a.rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        pr AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prank
            FROM bd
        ),
        cand AS (
            SELECT b.vec_id, b.label, i.vec_id AS nn_vec_id, i.cid AS cell,
                   p.prank, {_SQL_DIST_Q.format(a='b.qv', b='i.qv')} AS d
            FROM batch b JOIN pr p ON p.vec_id = b.vec_id
                         JOIN idx i ON i.cid = p.cid
            WHERE i.label = b.label
        ),
        sched AS ({_SQL_ESCALATE_SCHED}),
        cum AS (
            SELECT c.vec_id, s.p, count(*) AS n
            FROM cand c JOIN sched s ON c.prank <= s.p
            GROUP BY c.vec_id, s.p
        ),
        eff AS (
            SELECT vec_id,
                   COALESCE(
                       MIN(CASE WHEN n >= {ESCALATE_K} AND p < {N_CENTROIDS}
                                THEN p END),
                       {N_CENTROIDS}) AS eff_nprobe
            FROM cum GROUP BY vec_id
        ),
        ranked AS (
            SELECT c.vec_id, c.label, c.nn_vec_id, c.cell, c.d, e.eff_nprobe,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                      ORDER BY c.d, c.nn_vec_id) AS rnk,
                   count(*) OVER (PARTITION BY c.vec_id) AS n_candidates
            FROM cand c JOIN eff e
                 ON e.vec_id = c.vec_id AND c.prank <= e.eff_nprobe
        )
        SELECT vec_id, label, CAST(rnk AS BIGINT) AS rank, nn_vec_id,
               CAST(cell AS BIGINT) AS nn_cell,
               round(CAST(d AS DOUBLE) / {_Q2}, 6) AS nn_dist,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(eff_nprobe AS BIGINT) AS eff_nprobe
        FROM ranked WHERE rnk <= {ESCALATE_K}
        ORDER BY vec_id, rank
    """,
    tags=("llm", "vector", "ann", "incremental"),
    doc=(
        "Probe-escalation filtered search — closing the recall hazard "
        "knn_filtered_search itself surfaces: "
        "a query whose base-nprobe cells hold no facet member silently "
        "drops out of the fixed-depth screen, the production failure "
        "mode every vector store handles by escalating nprobe until k "
        "results are served or cells are exhausted. Same persisted IVF "
        "artifacts (memo tags ivf_cents/ivf_index) through the SHARED "
        f"screen_candidates probe; schedule {ESCALATE_SCHEDULE} — "
        "geometric doubling from the base depth to every cell, so the "
        "round count is O(log cells) at any codebook size. Round "
        "semantics: a query is SERVED at the first scheduled depth where "
        f"its facet-filtered candidate pool reaches k={ESCALATE_K} (its "
        f"top-{ESCALATE_K} ranks within exactly that pool), still-hungry "
        "queries anti-join forward to the next round, and the final "
        "full-depth round serves whatever the facet holds (possibly "
        "fewer than k rows; a facet-empty query emits none — now a "
        "truthful statement about the corpus, not a probe artifact). "
        "eff_nprobe travels in the output so the cost of serving each "
        "query IS graded, the operational signal a store uses to decide "
        "when a facet needs its own index. Scale shape: each round's "
        "screen touches ONLY the still-unserved remainder (the batch "
        "anti-joins down, typically sharply after the base round), the "
        "escalation never rebuilds the index, and the per-round work is "
        "the same cell-pruned equi-join as the base screen; windows "
        "partition on vec_id. The declarative twin (the oracle) states "
        "the identical fixed point: eff = min scheduled depth whose "
        "cumulative facet pool reaches k, else full depth."
    ),
)
def knn_filtered_escalate(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = ESCALATE_K,
    schedule: tuple = ESCALATE_SCHEDULE,
) -> DataFrame:
    """Graded defaults are the module constants. ``schedule`` must be
    strictly increasing; a single-element schedule degenerates to the
    fixed-depth screen at that depth (pinned against
    knn_filtered_search in tests)."""
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    batch = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )
    cents = _ivf_cents_base(spark, sf_dir)
    idx = _ivf_index_base(spark, sf_dir)
    q2 = F.lit(float(_Q2))
    last = schedule[-1]
    remaining, parts = batch, []
    for p in schedule:
        cand = screen_candidates(remaining, cents, idx, p).filter(
            F.col("nn_label") == F.col("label")
        )
        pooled = cand.select(
            "vec_id",
            "label",
            "nn_vec_id",
            F.col("cell").cast("long").alias("nn_cell"),
            "d",
            F.row_number()
            .over(W.partitionBy("vec_id").orderBy("d", "nn_vec_id"))
            .cast("long")
            .alias("rank"),
            F.count(F.lit(1))
            .over(W.partitionBy("vec_id"))
            .cast("long")
            .alias("n_candidates"),
        )
        served = pooled if p == last else pooled.filter(F.col("n_candidates") >= k)
        parts.append(
            served.filter(F.col("rank") <= k).withColumn(
                "eff_nprobe", F.lit(p).cast("long")
            )
        )
        if p != last:
            served_ids = (
                cand.groupBy("vec_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= k)
                .select("vec_id")
            )
            # checkpoint the shrinking remainder at EVERY round boundary
            # (batch-sized at worst): without it every later round's
            # anti-join lineage re-executes all earlier rounds' screens.
            # Distinct tag per boundary index — the emitted parts still
            # reference these blocks until the final action, so a single
            # chained tag would release blocks a part still needs (the
            # one-live-per-tag contract frees them on the NEXT call).
            # The tag pool is the LITERAL tuple _ESCALATE_REM_TAGS —
            # bounded by construction (the tag-boundedness AST pin
            # credits subscripts of literal tuples); a strictly
            # increasing schedule derived by doubling has
            # ilog2(cells)+1 rounds, so 16 boundary tags cover any
            # codebook up to 2^16 cells (hardcoded boundaries would
            # leave a longer caller schedule re-executing earlier
            # rounds).
            remaining = swap_checkpoint(
                _ESCALATE_REM_TAGS[len(parts) - 1],
                remaining.join(served_ids, "vec_id", "left_anti"),
            )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.select(
        "vec_id",
        "label",
        "rank",
        "nn_vec_id",
        "nn_cell",
        F.round(F.col("d").cast("double") / q2, 6).alias("nn_dist"),
        "n_candidates",
        "eff_nprobe",
    ).orderBy("vec_id", "rank")


#: Deleted slice: vec_id % DELETE_MOD == DELETE_REM rows are tombstoned
#: out of the stored index (disjoint from the arriving %10=7 batch).
DELETE_MOD = 10
DELETE_REM = 3


@register(
    "knn_tombstone_screen",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT c.vec_id, c.label, c.qv, a.cid
            FROM corpus c JOIN (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) a ON a.vec_id = c.vec_id AND a.rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        probes AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM bd
            ) WHERE rn <= {IVF_NPROBE}
        ),
        cand AS (
            SELECT b.vec_id, b.label, i.vec_id AS nn_vec_id, i.label AS nn_label,
                   i.cid AS cell, {_SQL_DIST_Q.format(a='b.qv', b='i.qv')} AS d
            FROM batch b JOIN probes p ON p.vec_id = b.vec_id
                         JOIN idx i ON i.cid = p.cid
            WHERE i.vec_id % {DELETE_MOD} <> {DELETE_REM}
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, nn_vec_id) AS rn,
                   count(*) OVER (PARTITION BY vec_id) AS n_candidates
            FROM cand
        )
        SELECT vec_id, label, CAST(n_candidates AS BIGINT) AS n_candidates,
               nn_vec_id, nn_label, CAST(cell AS BIGINT) AS nn_cell,
               round(CAST(d AS DOUBLE) / {_Q2}, 6) AS nn_dist
        FROM ranked WHERE rn = 1
        ORDER BY vec_id
    """,
    tags=("llm", "vector", "ann", "incremental"),
    doc=(
        "Tombstone-masked serving — the DELETE verb completing the "
        "index-maintenance lifecycle (insert = knn_incremental, audit = "
        "knn_index_staleness, filtered/escalated serve = the "
        "knn_filtered pair, delete = this): a deterministic slice "
        f"(vec_id % {DELETE_MOD} = {DELETE_REM}, disjoint from the "
        "arriving batch) is deleted from the corpus, and the screen "
        "serves AROUND the deletions by masking the persisted index at "
        "probe time — the production delete path (FAISS remove-ids "
        "semantics, vector-store soft deletes): no codebook retrain, no "
        "assignment rewrite, the tombstone filter rides the stored "
        "relation's scan until a compaction rebuilds. The codebook "
        "deliberately keeps serving a DELETED member's centroid (a "
        "quantization anchor is not a document; here cid 3 itself is "
        "tombstoned as a member but stays an anchor) — and because cell "
        "assignment is per-vector against the frozen codebook, masking "
        "commutes with rebuild: serving over the masked index is "
        "bit-identical to serving over an index compacted from the "
        "survivors with the same codebook (the numpy re-derivation "
        "test pins exactly this). n_candidates counts LIVE candidates "
        "only — the true serve-time cost after deletions. Same output "
        "contract as knn_incremental; queries whose probed cells were "
        "emptied by deletion drop out (the hazard knn_filtered_escalate "
        "generalizes the remedy for). Scale shape: one batch-side "
        "parquet scan, stored checkpoints for codebook + assignments, "
        "the mask a pushed filter on the checkpoint scan; window "
        "partitions on vec_id."
    ),
)
def knn_tombstone_screen(
    spark: SparkSession, sf_dir: str, *, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Graded default is the module constant; ``nprobe`` degrades to
    the exact batch-vs-survivors NN at nprobe = N_CENTROIDS."""
    batch = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", "label", _q_longs().alias("qv"))
    )
    cents = _ivf_cents_base(spark, sf_dir)
    live = _ivf_index_base(spark, sf_dir).filter(
        F.col("vec_id") % DELETE_MOD != DELETE_REM
    )
    return screen_top1(screen_candidates(batch, cents, live, nprobe))


#: Surviving-member head length per compacted cell page (ascending
#: vec_id) — the vector analog of the text index's POSTING_HEAD_K page
#: convention. Shared verbatim by the oracle.
MEMBER_HEAD_K = 8


@register(
    "knn_index_compact",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        asg AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) WHERE rn = 1
        ),
        -- REBUILD from survivors: the oracle derives the compacted pages
        -- from the surviving vectors alone (per-vector assignment against
        -- the FROZEN codebook), never by subtracting from a stored
        -- artifact — hash equality with the Spark side's subtraction IS
        -- the compaction-equals-rebuild proof
        sidx AS (
            SELECT c.vec_id, a.cid,
                   list_aggregate(list_transform(c.qv, x -> abs(x)), 'sum') AS l1
            FROM corpus c JOIN asg a USING (vec_id)
            WHERE c.vec_id % {DELETE_MOD} <> {DELETE_REM}
        ),
        rem AS (
            SELECT a.cid, CAST(count(*) AS BIGINT) AS n_removed
            FROM asg a WHERE a.vec_id % {DELETE_MOD} = {DELETE_REM}
            GROUP BY a.cid
        ),
        pages AS (
            SELECT cid, CAST(count(*) AS BIGINT) AS n_live,
                   array_to_string(list_sort(list(vec_id))[1:{MEMBER_HEAD_K}], ',')
                       AS member_head,
                   CAST(sum(l1) AS VARCHAR) AS qv_l1
            FROM sidx GROUP BY cid
        )
        SELECT CAST(rem.cid AS BIGINT) AS cid, rem.n_removed,
               CAST(COALESCE(p.n_live, 0) AS BIGINT) AS n_live,
               COALESCE(p.member_head, '') AS member_head,
               COALESCE(p.qv_l1, '0') AS qv_l1,
               p.n_live IS NULL AS cell_lost
        FROM rem LEFT JOIN pages p USING (cid)
        ORDER BY cid
    """,
    tags=("llm", "vector", "ann", "incremental"),
    doc=(
        "Index compaction — the ACTION the tombstone screen defers, "
        "promoting knn_tombstone_screen's "
        "masked-equals-compacted numpy pin to a graded entry the way "
        "text_index_compact did for the text index: the stored "
        "cell-assignment relation is REWRITTEN minus the tombstoned "
        f"slice (vec_id % {DELETE_MOD} = {DELETE_REM}), emitting one "
        "page row per touched cell — members removed, surviving cell "
        f"size, the first {MEMBER_HEAD_K} surviving member ids "
        "(ascending, the text index's posting-head page convention), an "
        "exact L1 checksum of the surviving quantized vectors (decimal "
        "summed, emitted as a string so the contract survives any cell "
        "size without int64 wrap), and a cell_lost flag for cells "
        "deletion emptied — the signal that a codebook anchor now "
        "quantizes nothing and a RETRAIN (knn_index_rebuild's verb) is "
        "due. Spark compacts by SUBTRACTING from the persisted artifact "
        "(one filter over the memoized ivf_index checkpoint — zero "
        "parquet scans, plan-pinned); the oracle REBUILDS the pages "
        "from the surviving vectors alone, so the driver's hash compare "
        "is the compaction-equals-rebuild proof (valid because cell "
        "assignment is per-vector against the frozen codebook — masking "
        "commutes with rebuild; serving equality over the compacted "
        "relation is pinned cross-entry against the masked screen in "
        "tests/test_knn_incremental.py). Scale shape: output and all "
        "post-filter work are cell-page-bounded; the per-cell window "
        "rank-caps member heads before any list materializes (no "
        "unbounded collect_list); the one relation scanned is the "
        "stored checkpoint."
    ),
)
def knn_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ivf_index_base(spark, sf_dir)
    l1 = F.aggregate(
        "qv", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    removed = (
        idx.filter(F.col("vec_id") % DELETE_MOD == DELETE_REM)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
    )
    live = idx.filter(F.col("vec_id") % DELETE_MOD != DELETE_REM).select(
        "cid", "vec_id", l1.alias("l1")
    )
    w = W.partitionBy("cid")
    ranked = live.select(
        "cid",
        "vec_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_live"),
        F.sum(F.col("l1").cast("decimal(28,0)")).over(w).alias("l1s"),
        F.row_number().over(w.orderBy("vec_id")).alias("rn"),
    ).filter(F.col("rn") <= MEMBER_HEAD_K)
    pages = ranked.groupBy("cid").agg(
        F.first("n_live").alias("n_live"),
        F.first("l1s").cast("decimal(38,0)").cast("string").alias("qv_l1"),
        F.concat_ws(",", F.sort_array(F.collect_list("vec_id"))).alias(
            "member_head"
        ),
    )
    return (
        removed.join(pages, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_removed",
            F.coalesce("n_live", F.lit(0)).cast("long").alias("n_live"),
            F.coalesce("member_head", F.lit("")).alias("member_head"),
            F.coalesce("qv_l1", F.lit("0")).alias("qv_l1"),
            F.col("n_live").isNull().alias("cell_lost"),
        )
        .orderBy("cid")
    )


def _cell_topk_tile(k: int):
    """Arrow cogroup kernel shared by the index-audit family
    (knn_index_staleness, knn_index_rebuild): exact batch-vs-members
    top-``k`` per IVF cell as ONE cluster-local int64 matmul
    (aa + bb - 2ab == int_l2's sum((a-b)^2) on the quantization
    lattice — the dedup_semantic rule for pair-dense vector work).
    ``left`` is the cell's member slice (vec_id, qv, ...), ``right``
    the query slice stamped with that cell's probe rank (vec_id, qv,
    prank, ...); emits the cell-local top-k per query carrying the
    stamp, so the global top-k election downstream orders at most
    cells x k rows per query."""
    import numpy as np
    import pandas as pd

    def _topk_tile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "prank": pd.Series(dtype="int32"),
                    "nn_vec_id": pd.Series(dtype="int64"),
                    "d": pd.Series(dtype="int64"),
                }
            )
        C = np.stack(left["qv"].to_numpy()).astype(np.int64)  # members x dim
        Q = np.stack(right["qv"].to_numpy()).astype(np.int64)  # queries x dim
        d = (
            (Q * Q).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (Q @ C.T)
        )
        mid = left["vec_id"].to_numpy()
        kk = min(k, len(mid))
        out = []
        for i in range(len(Q)):
            # exact (d, nn_vec_id) tie order, cell-local top-K
            order = np.lexsort((mid, d[i]))[:kk]
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": right["vec_id"].iat[i],
                        "prank": right["prank"].iat[i],
                        "nn_vec_id": mid[order],
                        "d": d[i][order],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return _topk_tile


def _batch_probe_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving batch's FULL probe election over the STORED codebook
    (vec_id, qv, prank, cid — prank = position of cid in the query's
    sorted-cell order), MEMOIZED once per session/SF (tag
    ``stale_probes``). knn_index_staleness and knn_index_rebuild both
    need this identical relation — same batch filter, same broadcast
    codebook, same posexplode — so they share one memo tag, and a
    session running both pays the embeddings scan + election once."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        batch = (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
            .select("vec_id", _q_longs().alias("qv"))
        )
        cents = _ivf_cents_base(spark, sf_dir)
        return (
            batch.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "qv",
                F.posexplode(probe_cells(N_CENTROIDS)).alias("pidx", "p"),
            )
            .select(
                "vec_id",
                "qv",
                (F.col("pidx") + 1).cast("int").alias("prank"),
                F.col("p.cid").alias("cid"),
            )
        )

    return memo_checkpoint("stale_probes", sf_dir, build)


def _batch_truth_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch's exact top-``RECALL_K`` truth against the STORED index
    members, stamped with the stored-codebook probe rank: (vec_id,
    prank, nn_vec_id, d, exact_rank), MEMOIZED once per session/SF (tag
    ``stale_truth``). This is the family's most expensive sub-plan (the
    per-cell numpy matmul tiles + the per-query election window);
    staleness and rebuild both consume this one memo, so its
    FlatMapCoGroupsInPandas stage runs once per session. Nested memo
    calls go strictly downward (stale_truth → stale_probes/ivf_index →
    ivf_cents), per the ckpt lock-ordering invariant."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        idx = _ivf_index_base(spark, sf_dir)
        pr = _batch_probe_base(spark, sf_dir)
        tile = (
            idx.select("cid", "vec_id", "qv")
            .groupBy("cid")
            .cogroup(pr.groupBy("cid"))
            .applyInPandas(
                _cell_topk_tile(RECALL_K),
                "vec_id long, prank int, nn_vec_id long, d long",
            )
        )
        return tile.withColumn(
            "exact_rank",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy("d", "nn_vec_id")
            ),
        ).filter(F.col("exact_rank") <= RECALL_K)

    return memo_checkpoint("stale_truth", sf_dir, build)


@register(
    "knn_index_staleness",
    oracle=f"""
        WITH q AS (SELECT vec_id, label, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ad AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT c.vec_id, c.qv, a.cid
            FROM corpus c JOIN (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ad
            ) a ON a.vec_id = c.vec_id AND a.rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        pr AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prank
            FROM bd
        ),
        fulld AS (
            SELECT b.vec_id, i.vec_id AS nn_vec_id, i.cid,
                   {_SQL_DIST_Q.format(a='b.qv', b='i.qv')} AS d
            FROM batch b, idx i
        ),
        topk AS (
            SELECT vec_id, nn_vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, nn_vec_id)
                       AS exact_rank
            FROM fulld
            QUALIFY exact_rank <= {RECALL_K}
        ),
        tk AS (
            SELECT t.vec_id, t.exact_rank, p.prank
            FROM topk t JOIN pr p ON p.vec_id = t.vec_id AND p.cid = t.cid
        ),
        grid AS (SELECT unnest(generate_series(1, {N_CENTROIDS})) AS nprobe),
        ra AS (
            SELECT g.nprobe,
                   count(DISTINCT tk.vec_id) AS n_queries,
                   sum(CASE WHEN tk.exact_rank = 1 AND tk.prank <= g.nprobe
                            THEN 1 ELSE 0 END) AS h1,
                   sum(CASE WHEN tk.prank <= g.nprobe THEN 1 ELSE 0 END) AS hk
            FROM tk, grid g
            GROUP BY g.nprobe
        ),
        csize AS (SELECT cid, count(*) AS sz FROM idx GROUP BY cid),
        rb AS (
            SELECT g.nprobe,
                   sum(CASE WHEN p.prank <= g.nprobe THEN c.sz ELSE 0 END) AS cands
            FROM pr p JOIN csize c ON c.cid = p.cid, grid g
            GROUP BY g.nprobe
        )
        SELECT CAST(ra.nprobe AS BIGINT) AS nprobe,
               CAST(ra.n_queries AS BIGINT) AS n_queries,
               round(CAST(ra.h1 AS DOUBLE) / ra.n_queries, 6) AS recall_at_1,
               round(CAST(ra.hk AS DOUBLE) / (ra.n_queries * {RECALL_K}), 6)
                   AS recall_at_k,
               round(CAST(rb.cands AS DOUBLE) / ra.n_queries, 6) AS avg_candidates
        FROM ra JOIN rb ON rb.nprobe = ra.nprobe
        ORDER BY nprobe
    """,
    tags=("llm", "vector", "ann", "eval", "incremental"),
    doc=(
        "Index-staleness audit — the evaluation rung that closes the "
        "incremental-ANN loop the way dedup_lsh_recall closed dedup's and "
        "docs_quality_calibration closed curation's: for the ARRIVING "
        f"batch (vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}), the recall "
        "of the STORED-index screen (knn_incremental — codebook and cell "
        "assignments frozen before the batch arrived) against the exact "
        "batch-vs-corpus ground truth, binned by nprobe 1.."
        f"{N_CENTROIDS} — the curve a pipeline reads to decide WHEN the "
        "drifting ingest has made the persisted index stale enough to "
        "rebuild, and what nprobe buys in recall vs candidate cost "
        "meanwhile. Per nprobe: recall@1 (is the true NN's cell probed?), "
        f"recall@{RECALL_K} (candidate-set containment of the true "
        f"top-{RECALL_K} — identical to the screen's served recall, since "
        "any truth vector inside the candidate set exact-ranks into the "
        "served top-k), and the average candidate count the probe pays "
        "(cell sizes from the stored assignment relation). The nesting "
        "device makes one pass serve all bins: a candidate's cell has ONE "
        "probe rank per query (position in the sorted-cell election — "
        "the same probe_cells order the screen plans), so 'found at "
        "nprobe n' is just prank <= n. Ground truth is computed ONCE as "
        "per-CELL numpy tiles (the dedup_semantic rule for pair-dense "
        "vector work — one cluster-local exact int64 matmul per cell, "
        "aa + bb - 2ab == int_l2's sum((a-b)^2) on the lattice, never an "
        "interpreted per-pair HOF): each Arrow cogroup tile emits only "
        "its cell-local top-K per query already stamped with that "
        "cell's probe rank, the global top-K election then orders at "
        "most cells x K rows per query. The only corpus-sized relations "
        "are read from the memoized ivf_cents/ivf_index checkpoints, "
        "and the probe relation — which feeds both the tiles and the "
        "cost rollup — is locally checkpointed so the embeddings "
        "parquet is scanned exactly once per audit (plan-pinned: zero "
        "parquet scans in the final plan). Scale shape: the audit is "
        "O(|batch| x |corpus|) by necessity (it IS the exact-truth "
        "evaluation), paid as cell-partitionable tiles — at 100 TB you "
        "run it over a sampled probe set, exactly as knn_recall_report "
        f"samples {RECALL_NQ} queries; the per-query window partitions "
        "on vec_id and every division is one exact-int ratio."
    ),
)
def knn_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # probe rank of EVERY cell per query vector + the exact per-cell-tile
    # ground truth it stamps: both read the family's MEMOIZED bases
    # (stale_probes / stale_truth, shared with knn_index_rebuild), so the
    # embeddings scan, the probe election, the numpy tile stage and the
    # truth window run once per session per SF for the whole family.
    idx = _ivf_index_base(spark, sf_dir)
    pr = _batch_probe_base(spark, sf_dir)
    topk = _batch_truth_base(spark, sf_dir)

    # explode the nprobe grid in-row (a Generate, not a join) and fold
    # exact-int hit counters
    nprobe_grid = F.explode(
        F.sequence(F.lit(1), F.lit(N_CENTROIDS))
    ).alias("nprobe")
    ra = (
        topk.select("vec_id", "exact_rank", "prank", nprobe_grid)
        .groupBy("nprobe")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_queries"),
            F.sum(
                ((F.col("exact_rank") == 1) & (F.col("prank") <= F.col("nprobe")))
                .cast("long")
            ).alias("h1"),
            F.sum((F.col("prank") <= F.col("nprobe")).cast("long")).alias("hk"),
        )
    )

    # candidate cost per bin: probed-cell sizes from the stored
    # assignment relation (8-row broadcastable rollup)
    csize = idx.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    rb = (
        pr.select("vec_id", "prank", "cid")
        .join(F.broadcast(csize), "cid")
        .select("prank", "sz", nprobe_grid)
        .groupBy("nprobe")
        .agg(
            F.sum(
                F.when(F.col("prank") <= F.col("nprobe"), F.col("sz")).otherwise(0)
            ).alias("cands")
        )
    )

    return (
        ra.join(rb, "nprobe")
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_queries",
            F.round(F.col("h1").cast("double") / F.col("n_queries"), 6).alias(
                "recall_at_1"
            ),
            F.round(
                F.col("hk").cast("double") / (F.col("n_queries") * RECALL_K), 6
            ).alias("recall_at_k"),
            F.round(F.col("cands").cast("double") / F.col("n_queries"), 6).alias(
                "avg_candidates"
            ),
        )
        .orderBy("nprobe")
    )


#: Conventional PSI rebuild bar: PSI < 0.1 stable, 0.1-0.2 moderate
#: drift, >= 0.2 significant — the standard population-stability rule of
#: thumb credit-risk monitoring popularized and embedding pipelines
#: adopted for index-refresh triggers.
PSI_REBUILD_BAR = 0.2


@register(
    "embeddings_drift_psi",
    oracle=f"""
        WITH q AS (SELECT vec_id, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT * FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ca AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idxa AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ca
            ) WHERE rn = 1
        ),
        ba AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        bassign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ba
            ) WHERE rn = 1
        ),
        bh AS (SELECT cid, CAST(count(*) AS BIGINT) AS b_cnt FROM bassign GROUP BY cid),
        ch AS (SELECT cid, CAST(count(*) AS BIGINT) AS c_cnt FROM idxa GROUP BY cid),
        tot AS (
            SELECT CAST((SELECT count(*) FROM batch) AS BIGINT) AS bt,
                   CAST((SELECT count(*) FROM corpus) AS BIGINT) AS ct
        ),
        j AS (
            SELECT ce.cid AS cell,
                   COALESCE(bh.b_cnt, 0) AS batch_cnt,
                   COALESCE(ch.c_cnt, 0) AS corpus_cnt,
                   t.bt, t.ct
            FROM cents ce
            LEFT JOIN bh ON bh.cid = ce.cid
            LEFT JOIN ch ON ch.cid = ce.cid, tot t
        ),
        terms AS (
            SELECT cell, batch_cnt, corpus_cnt, bt, ct,
                   CAST(round(
                       (CAST((batch_cnt + 1) * (ct + {N_CENTROIDS})
                             - (corpus_cnt + 1) * (bt + {N_CENTROIDS}) AS DOUBLE)
                          / ((bt + {N_CENTROIDS}) * (ct + {N_CENTROIDS})))
                       * ln(CAST((batch_cnt + 1) * (ct + {N_CENTROIDS}) AS DOUBLE)
                            / ((corpus_cnt + 1) * (bt + {N_CENTROIDS})))
                       * 1000000.0) AS BIGINT) AS term_q
            FROM j
        ),
        s AS (SELECT CAST(sum(term_q) AS BIGINT) AS psi_q FROM terms)
        SELECT CAST(t.cell AS BIGINT) AS cell,
               t.batch_cnt AS batch_cnt,
               t.corpus_cnt AS corpus_cnt,
               round(CAST(t.batch_cnt AS DOUBLE) / greatest(t.bt, 1), 6) AS batch_share,
               round(CAST(t.corpus_cnt AS DOUBLE) / greatest(t.ct, 1), 6) AS corpus_share,
               CAST(t.term_q AS DOUBLE) / 1000000.0 AS psi_term,
               CAST(s.psi_q AS DOUBLE) / 1000000.0 AS psi_total,
               CASE WHEN s.psi_q >= {int(round(PSI_REBUILD_BAR * 1_000_000))}
                    THEN 1 ELSE 0 END AS rebuild
        FROM terms t, s
        ORDER BY cell
    """,
    tags=("llm", "vector", "ann", "eval", "drift"),
    doc=(
        "Embedding-distribution drift audit — the cheap LEADING indicator "
        "a pipeline checks BEFORE paying the exact-recall staleness audit "
        "(knn_index_staleness measures the recall the index has already "
        "LOST; this entry measures whether the ARRIVING data still looks "
        "like the data the index was trained on, for the cost of one "
        "narrow aggregation). The arriving batch (the same deterministic "
        f"vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM} slice every "
        "incremental-ANN entry screens) is assigned to its nearest stored "
        "cell via the IDENTICAL rank-1 election the screen probes with "
        "(probe_cells at nprobe=1 over the broadcast memoized codebook — "
        "single definition, so drift is measured against exactly the "
        "partitioning the index serves), histogrammed per cell, and "
        "compared against the stored index's cell-occupancy histogram as "
        "the Population Stability Index: "
        "PSI = sum_cells (p_cell - q_cell) * ln(p_cell / q_cell) with "
        "add-one (Laplace) smoothing so empty cells are well-defined "
        f"(p = (b+1)/(B+{N_CENTROIDS}), q = (c+1)/(C+{N_CENTROIDS})). "
        "Numerics: counts stay exact int64 end to end — each PSI term is "
        "two single divisions of exact int64 cross products ((p - q) as "
        "(b_sm*C_sm - c_sm*B_sm)/(B_sm*C_sm); the log ratio as "
        "(b_sm*C_sm)/(c_sm*B_sm)), ONE ln per cell behind the module's "
        "1e-6 quantization (the tfidf/BM25 convention) — the exact-int "
        "cross products hold below b_sm x C_sm < 2^63 of smoothed "
        "counts; past ~9e18 swap the two numerators to correctly-"
        "rounded double ratios (same cross-engine determinism, one "
        "extra rounding each) rather than let int64 wrap — and the total is "
        "an int64 sum of the quantized terms, so the rebuild flag "
        f"(psi >= {PSI_REBUILD_BAR}) compares integers. Output: one row "
        "per stored cell with both histograms, raw shares, the cell's "
        "PSI contribution, the catalog-wide PSI and the flag. Scale "
        "shape: the ONLY data-sized work is the batch scan + one "
        f"map-side-combinable {N_CENTROIDS}-key count (the corpus "
        "histogram is an aggregate of the stored assignment relation — a "
        "production index maintains it as metadata, here it reads the "
        "memoized ivf_index checkpoint); every join after that is over "
        "cells-sized relations (broadcast), so at 100 TB the audit costs "
        "one pass over the arriving batch, nothing corpus-sized moves, "
        "and sharding the batch histogram is a plain partial count. "
        "psi_bar is a keyword parameter with the graded default."
    ),
)
def embeddings_drift_psi(
    spark: SparkSession, sf_dir: str, *, psi_bar: float = PSI_REBUILD_BAR
) -> DataFrame:
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    batch = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_REM)
        .select("vec_id", _q_longs().alias("qv"))
    )
    cents = _ivf_cents_base(spark, sf_dir)
    idx = _ivf_index_base(spark, sf_dir)

    # batch cell assignment (the SHARED assign_cells plan), then an
    # 8-key map-side-combinable count. Checkpointed (cells-sized) so the
    # totals derivation inside psi_report never re-scans the batch: the
    # embeddings parquet is read exactly once.
    bh = swap_checkpoint(
        "drift_bh",
        assign_cells(batch, cents)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("batch_cnt")),
    )
    return psi_report(bh, cents, idx, psi_bar)


def assign_cells(q: DataFrame, cents: DataFrame) -> DataFrame:
    """SHARED rank-1 cell-assignment plan of the drift audit — the single
    definition both the batch entry (embeddings_drift_psi) and the
    streaming twin (streaming/jobs.py:_drift_psi_stream) build, so the
    two can never measure drift against different partitionings: the
    screen's probe_cells election at nprobe=1 over the broadcast 1-row
    codebook. ``q`` is any (vec_id, qv) relation — static batch or
    stream; everything here is row-local and stream-safe."""
    return q.crossJoin(F.broadcast(cents)).select(
        "vec_id", F.element_at(probe_cells(1), 1)["cid"].alias("cid")
    )


def psi_report(
    bh: DataFrame, cents: DataFrame, idx: DataFrame, psi_bar: float
) -> DataFrame:
    """SHARED PSI post-processing over an already-built batch cell
    histogram ``bh`` (cid, batch_cnt) — cells-sized input, cells-sized
    output; both drift twins converge here so smoothing, quantization,
    and the rebuild compare have exactly one definition."""
    ch = idx.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("corpus_cnt"))

    # totals fold the cells-sized histograms, not the data
    tot_b = bh.agg(F.coalesce(F.sum("batch_cnt"), F.lit(0)).cast("long").alias("bt"))
    tot_c = ch.agg(F.coalesce(F.sum("corpus_cnt"), F.lit(0)).cast("long").alias("ct"))

    cells = cents.select(F.explode("cents").alias("c")).select(
        F.col("c.cid").alias("cell")
    )
    j = (
        cells.join(bh, cells["cell"] == bh["cid"], "left")
        .drop("cid")
        .join(ch, F.col("cell") == ch["cid"], "left")
        .drop("cid")
        .select(
            "cell",
            F.coalesce("batch_cnt", F.lit(0).cast("long")).alias("batch_cnt"),
            F.coalesce("corpus_cnt", F.lit(0).cast("long")).alias("corpus_cnt"),
        )
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_c))
    )

    n = F.lit(N_CENTROIDS).cast("long")
    b_sm = F.col("batch_cnt") + F.lit(1).cast("long")
    c_sm = F.col("corpus_cnt") + F.lit(1).cast("long")
    bt_sm = F.col("bt") + n
    ct_sm = F.col("ct") + n
    term = (
        (b_sm * ct_sm - c_sm * bt_sm).cast("double") / (bt_sm * ct_sm)
    ) * F.log((b_sm * ct_sm).cast("double") / (c_sm * bt_sm))
    terms = j.withColumn("term_q", F.round(term * F.lit(1000000.0)).cast("long"))

    s = terms.agg(F.sum("term_q").cast("long").alias("psi_q"))
    bar_q = int(round(psi_bar * 1_000_000))
    one = F.lit(1).cast("long")
    return (
        terms.crossJoin(F.broadcast(s))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "batch_cnt",
            "corpus_cnt",
            F.round(
                F.col("batch_cnt").cast("double") / F.greatest("bt", one), 6
            ).alias("batch_share"),
            F.round(
                F.col("corpus_cnt").cast("double") / F.greatest("ct", one), 6
            ).alias("corpus_share"),
            (F.col("term_q").cast("double") / F.lit(1000000.0)).alias("psi_term"),
            (F.col("psi_q").cast("double") / F.lit(1000000.0)).alias("psi_total"),
            F.when(F.col("psi_q") >= F.lit(bar_q), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("rebuild"),
        )
        .orderBy("cell")
    )


@register(
    "knn_index_rebuild",
    oracle=f"""
        WITH q AS (SELECT vec_id, {_SQL_QV} AS qv FROM embeddings),
        corpus AS (SELECT vec_id, qv FROM q WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_REM}),
        batch AS (SELECT vec_id, qv FROM q WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_REM}),
        cents AS (
            SELECT vec_id AS cid, qv AS cq FROM corpus ORDER BY vec_id LIMIT {N_CENTROIDS}
        ),
        ca AS (
            SELECT c.vec_id, ce.cid, {_SQL_DIST_Q.format(a='c.qv', b='ce.cq')} AS d
            FROM corpus c, cents ce
        ),
        idx AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM ca
            ) WHERE rn = 1
        ),
        bd AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_Q.format(a='b.qv', b='ce.cq')} AS d
            FROM batch b, cents ce
        ),
        pro AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prank
            FROM bd
        ),
        mem AS (
            SELECT vec_id, cid FROM idx
            UNION ALL
            SELECT vec_id, cid FROM pro WHERE prank = 1
        ),
        va AS (SELECT vec_id, generate_subscripts(qv, 1) AS dd, unnest(qv) AS v FROM q),
        m AS (
            SELECT mem.cid, va.dd, CAST(sum(va.v) AS DOUBLE) / count(*) AS mu
            FROM mem JOIN va ON va.vec_id = mem.vec_id
            GROUP BY mem.cid, va.dd
        ),
        cent1 AS (SELECT cid, list(mu ORDER BY dd) AS cm FROM m GROUP BY cid),
        d1 AS (
            SELECT u.vec_id, ce.cid, {_SQL_DIST_D.format(qv='u.qv', cm='ce.cm')} AS d
            FROM q u, cent1 ce
        ),
        idx1 AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM d1
            ) WHERE rn = 1
        ),
        bn AS (
            SELECT b.vec_id, ce.cid, {_SQL_DIST_D.format(qv='b.qv', cm='ce.cm')} AS d
            FROM batch b, cent1 ce
        ),
        prn AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prank
            FROM bn
        ),
        fulld AS (
            SELECT b.vec_id, c.vec_id AS nn_vec_id,
                   {_SQL_DIST_Q.format(a='b.qv', b='c.qv')} AS d
            FROM batch b, corpus c
        ),
        topk AS (
            SELECT vec_id, nn_vec_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, nn_vec_id)
                       AS exact_rank
            FROM fulld
            QUALIFY exact_rank <= {RECALL_K}
        ),
        tb AS (
            SELECT t.vec_id, po.prank AS prank_old, pn.prank AS prank_new
            FROM topk t
            JOIN idx i ON i.vec_id = t.nn_vec_id
            JOIN pro po ON po.vec_id = t.vec_id AND po.cid = i.cid
            JOIN idx1 i1 ON i1.vec_id = t.nn_vec_id
            JOIN prn pn ON pn.vec_id = t.vec_id AND pn.cid = i1.cid
        ),
        grid AS (SELECT unnest(generate_series(1, {N_CENTROIDS})) AS nprobe),
        ra AS (
            SELECT g.nprobe,
                   count(DISTINCT tb.vec_id) AS n_queries,
                   sum(CASE WHEN tb.prank_old <= g.nprobe THEN 1 ELSE 0 END) AS hkb,
                   sum(CASE WHEN tb.prank_new <= g.nprobe THEN 1 ELSE 0 END) AS hka
            FROM tb, grid g
            GROUP BY g.nprobe
        ),
        cso AS (SELECT cid, count(*) AS sz FROM idx GROUP BY cid),
        csn AS (SELECT cid, count(*) AS sz FROM idx1 GROUP BY cid),
        cb AS (
            SELECT g.nprobe,
                   sum(CASE WHEN p.prank <= g.nprobe THEN c.sz ELSE 0 END) AS cands
            FROM pro p JOIN cso c ON c.cid = p.cid, grid g
            GROUP BY g.nprobe
        ),
        cn AS (
            SELECT g.nprobe,
                   sum(CASE WHEN p.prank <= g.nprobe THEN c.sz ELSE 0 END) AS cands
            FROM prn p JOIN csn c ON c.cid = p.cid, grid g
            GROUP BY g.nprobe
        )
        SELECT CAST(ra.nprobe AS BIGINT) AS nprobe,
               CAST(ra.n_queries AS BIGINT) AS n_queries,
               round(CAST(ra.hkb AS DOUBLE) / (ra.n_queries * {RECALL_K}), 6)
                   AS recall_before,
               round(CAST(ra.hka AS DOUBLE) / (ra.n_queries * {RECALL_K}), 6)
                   AS recall_after,
               round(CAST(ra.hka - ra.hkb AS DOUBLE) / (ra.n_queries * {RECALL_K}), 6)
                   AS recall_delta,
               round(CAST(cb.cands AS DOUBLE) / ra.n_queries, 6) AS cands_before,
               round(CAST(cn.cands AS DOUBLE) / ra.n_queries, 6) AS cands_after
        FROM ra
        JOIN cb ON cb.nprobe = ra.nprobe
        JOIN cn ON cn.nprobe = ra.nprobe
        ORDER BY nprobe
    """,
    tags=("llm", "vector", "ann", "kmeans", "incremental", "action"),
    doc=(
        "Index REBUILD — the ACTION the drift monitors decide on "
        "(embeddings_drift_psi's rebuild flag, knn_index_staleness's "
        "recall-vs-cost curve), closing the vector side's decision-to-"
        "action pair the way text_index_merge closed text's: retrain the "
        "coarse codebook on CORPUS+BATCH (one Lloyd refinement seeded "
        "from the STORED codebook — assign every vector to its stored-"
        "codebook cell, then per-cell exact integer-sum means, the "
        "knn_ivf_kmeans training plan over the post-ingest population), "
        "re-assign the full population to the retrained centroids, and "
        "grade the rebuild by the before/after containment-recall@"
        f"{RECALL_K} delta of the arriving batch's queries against the "
        f"exact batch-vs-corpus truth, per nprobe 1..{N_CENTROIDS} — the "
        "row a pipeline reads to verify the rebuild PAID (recall_delta) "
        "and what it costs at serve time (cands_before/after: average "
        "probed-candidate count per query, old index members vs the "
        "rebuilt index which now also carries the ingested batch). "
        "Before-side machinery is shared verbatim with the staleness "
        "audit: the full-probe election relation (probe_cells order) is "
        "checkpointed once and feeds the truth tiles, the batch's step-0 "
        "assignment AND the cost rollup; exact ground truth is per-CELL "
        "numpy tiles (_cell_topk_tile — one cluster-local int64 matmul "
        "per cell, never an interpreted per-pair HOF). Retrained "
        "centroid means are exact int64 sums divided once in double and "
        "all new-centroid distances fold sequentially in double "
        "(_dist_d == list_reduce order), so every argmin and probe rank "
        "is bit-identical across engines. The only corpus-sized inputs "
        "are the memoized ivf_cents/ivf_index checkpoints; every "
        "intermediate the final plan reads is locally checkpointed "
        "(plan-pinned: zero parquet scans). Scale shape: retraining is "
        "one narrow map over the stored assignment relation plus a "
        "k x dims mean shuffle (map-side combine on the posexploded "
        "tall form); re-assignment is a broadcast argmin map; the "
        "exact-truth evaluation is the same cell-partitionable "
        "O(|batch| x |corpus|) tile work the staleness audit pays — at "
        "100 TB both run over a sampled probe set, and the rebuild's "
        "write-back is a partitioned-by-cell parquet rewrite exactly "
        "like knn_index_compact's."
    ),
)
def knn_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    idx = _ivf_index_base(spark, sf_dir)

    # full probe election over the STORED codebook, stamped with prank —
    # the staleness audit's pr shape, read from the family's MEMOIZED
    # stale_probes base, shared with knn_index_staleness.
    # THREE consumers here (truth tiles, the batch's step-0 assignment
    # at prank==1, the before-cost rollup) all read the one checkpoint.
    pr = _batch_probe_base(spark, sf_dir)

    # one Lloyd step over CORPUS+BATCH, seeded from the stored codebook:
    # step-0 assignment is the stored relation for the corpus (ivf_index
    # IS that assignment) plus the batch's nearest stored cell; means via
    # the tall posexplode form (map-side combine, small codegen unit —
    # the knn_ivf_kmeans training plan).
    members0 = idx.select("cid", "qv").unionByName(
        pr.filter(F.col("prank") == 1).select("cid", "qv")
    )
    per = (
        members0.select("cid", F.posexplode("qv").alias("d", "v"))
        .groupBy("cid", "d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cents1 = swap_checkpoint(
        "rebuild_cents_new",
        per.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("d"),
                            (F.col("s").cast("double") / F.col("n")).alias("m"),
                        )
                    )
                ),
                lambda x: x["m"],
            ).alias("cm")
        )
        .select(F.struct(F.col("cid"), F.col("cm")).alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents")),
    )

    def _new_argmin(qv: Column) -> Column:
        return F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(
                    _dist_d(qv, c["cm"]).alias("d"), c["cid"].alias("cid")
                ),
            )
        )["cid"]

    # re-assign the FULL post-ingest population (corpus members from the
    # stored relation + the batch rows riding the pr checkpoint) to the
    # retrained centroids — the rebuilt index. Feeds the truth join and
    # the new cell-size rollup.
    idx1 = swap_checkpoint(
        "rebuild_idx_new",
        idx.select("vec_id", "qv")
        .unionByName(pr.filter(F.col("prank") == 1).select("vec_id", "qv"))
        .crossJoin(F.broadcast(cents1))
        .select("vec_id", _new_argmin(F.col("qv")).alias("cid")),
    )

    # the batch's full probe election over the RETRAINED centroids
    # (double distances, same (d, cid) tie order) — feeds the after-hit
    # join and the after-cost rollup.
    pr_new = swap_checkpoint(
        "rebuild_pr_new",
        pr.filter(F.col("prank") == 1)
        .select("vec_id", "qv")
        .crossJoin(F.broadcast(cents1))
        .select(
            "vec_id",
            F.posexplode(
                F.array_sort(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            _dist_d(F.col("qv"), c["cm"]).alias("d"),
                            c["cid"].alias("cid"),
                        ),
                    )
                )
            ).alias("pidx", "p"),
        )
        .select(
            "vec_id",
            (F.col("pidx") + 1).cast("int").alias("prank"),
            F.col("p.cid").alias("cid"),
        ),
    )

    # exact batch-vs-corpus truth via per-cell tiles stamped with the
    # OLD probe rank, read from the family's MEMOIZED stale_truth base
    # (shared with the staleness audit, so its FlatMapCoGroupsInPandas
    # stage runs once per session), global
    # top-K election, then the truth neighbor's NEW cell + the query's
    # NEW probe rank join — every join is total (all 8 stored cells
    # survive retraining: each seed is its own step-0 member).
    truth = _batch_truth_base(spark, sf_dir).select(
        "vec_id", F.col("prank").alias("prank_old"), "nn_vec_id"
    )

    tb = (
        truth.join(
            idx1.select(
                F.col("vec_id").alias("nn_vec_id"), F.col("cid").alias("ncid")
            ),
            "nn_vec_id",
        )
        .join(
            pr_new.select(
                "vec_id",
                F.col("prank").alias("prank_new"),
                F.col("cid").alias("ncid"),
            ),
            ["vec_id", "ncid"],
        )
        .select("vec_id", "prank_old", "prank_new")
    )

    nprobe_grid = F.explode(
        F.sequence(F.lit(1), F.lit(N_CENTROIDS))
    ).alias("nprobe")
    ra = (
        tb.select("vec_id", "prank_old", "prank_new", nprobe_grid)
        .groupBy("nprobe")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_queries"),
            F.sum((F.col("prank_old") <= F.col("nprobe")).cast("long")).alias(
                "hkb"
            ),
            F.sum((F.col("prank_new") <= F.col("nprobe")).cast("long")).alias(
                "hka"
            ),
        )
    )

    def _cost(probes: DataFrame, sizes: DataFrame, out: str) -> DataFrame:
        return (
            probes.select("prank", "cid", nprobe_grid)
            .join(F.broadcast(sizes), "cid")
            .groupBy("nprobe")
            .agg(
                F.sum(
                    F.when(
                        F.col("prank") <= F.col("nprobe"), F.col("sz")
                    ).otherwise(0)
                ).alias(out)
            )
        )

    cb = _cost(pr, idx.groupBy("cid").agg(F.count(F.lit(1)).alias("sz")), "cb")
    cn = _cost(
        pr_new, idx1.groupBy("cid").agg(F.count(F.lit(1)).alias("sz")), "cn"
    )

    kq = F.col("n_queries") * RECALL_K
    return (
        ra.join(cb, "nprobe")
        .join(cn, "nprobe")
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_queries",
            F.round(F.col("hkb").cast("double") / kq, 6).alias("recall_before"),
            F.round(F.col("hka").cast("double") / kq, 6).alias("recall_after"),
            F.round((F.col("hka") - F.col("hkb")).cast("double") / kq, 6).alias(
                "recall_delta"
            ),
            F.round(
                F.col("cb").cast("double") / F.col("n_queries"), 6
            ).alias("cands_before"),
            F.round(
                F.col("cn").cast("double") / F.col("n_queries"), 6
            ).alias("cands_after"),
        )
        .orderBy("nprobe")
    )
