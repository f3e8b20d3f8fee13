"""End-to-end training-corpus pipeline: the north-star use case
(BASELINE.json) composed from the engine's operator families as ONE
written plan: a partitioned corpus, plus the rows left after each stage.

Stages (each a catalog-tested operator family):
  1. quality gate + normalization       (docs_clean_corpus semantics),
     optionally including the duplicate-3-gram repetition gate
     (docs_repetition_score semantics, max_rep_ratio)
  2. optional PII scrub                  (docs_pii_scrub patterns — mask
     emails/long digit runs in the surviving text)
  3. near-dup clustering + canonical pick (dedup_minhash_lsh → components →
     keep the lowest doc_id per cluster)
  4. language allow-list filter          (lang_id family)
  5. deterministic token-budget sampling (content-hash modulus, stable
     across runs/engines/cluster sizes — docs_deterministic_sample)
  6. partitioned write (lang); the stage counts and the token total are
     observed (DataFrame.observe) on the write's own jobs

Scale: the build is ONE written plan, with no stage count() and no
read-back; only the cluster map (dedup_clusters, a memoized fixpoint) is
materialized ahead of it. The output is lang-partitioned so downstream
training jobs prune to their language mix.

Observation condition: n_input and n_after_quality are observed in map
stages below the survivor window's shuffle, so if Spark re-runs a lost
map stage they can over-count. n_after_dedup, n_after_lang, n_final and
total_tokens sit in the write's result stage, where Spark merges each
partition's update once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession, Window
from pyspark.sql import functions as F

from currency_etl_spark.queries.llm_ops import dedup_clusters
from currency_etl_spark.sources import table


@dataclass
class CorpusStats:
    n_input: int
    n_after_quality: int
    n_after_dedup: int
    n_after_lang: int
    n_final: int
    total_tokens: int


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    min_tokens: int = 10,
    max_tokens: int = 2000,
    sample_mod: int = 1,  # keep 1/sample_mod of eligible docs (1 = all)
    max_rep_ratio: float | None = None,  # drop docs above this duplicate-
    # 3-gram ratio (docs_repetition_score semantics); None = no gate
    scrub_pii: bool = False,  # mask emails/long digit runs in the output
) -> CorpusStats:
    seen = {k: Observation() for k in ("input", "quality", "dedup", "lang", "final")}
    rows = F.count(F.lit(1)).alias("n")
    docs = table(spark, sf_dir, "documents").observe(seen["input"], rows)

    t = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(t).cast("long").alias("n_tokens"),
    )
    quality = scored.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    )
    if max_rep_ratio is not None:
        from currency_etl_spark.queries.llm_ops import _shingles

        def let(value, body):
            # bind ``value`` to a lambda variable: the optimizer never
            # inlines it into ``body``, and expressions inside a lambda
            # escape common-subexpression elimination, so each reference
            # would otherwise recompute it per row
            return F.transform(F.array(value), body)[0]

        def rep_ratio(shl):
            nsh = F.size(shl)
            return F.when(nsh == 0, F.lit(0.0)).otherwise(
                (nsh - F.size(F.array_distinct(shl))) / nsh.cast("double")
            )

        # the token array and the shingle array are each built once per
        # document: passed as plain expressions, split(text) lands inside
        # every element_at of the shingle lambda (three tokenizations per
        # shingle) and the shingles are rebuilt for each size()
        rep = let(F.split(F.col("text"), " "), lambda t: let(_shingles(t), rep_ratio))
        quality = quality.filter(rep <= max_rep_ratio)
    quality = quality.observe(seen["quality"], rows)
    if scrub_pii:
        from currency_etl_spark.queries.llm_ops import PII_EMAIL, PII_LONGNUM

        quality = quality.withColumn(
            "text",
            F.regexp_replace(
                F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
                PII_LONGNUM,
                "<NUM>",
            ),
        )

    # near-dup clusters over the LSH candidate graph; docs absent from the
    # graph are their own cluster. Keep the lowest doc_id per cluster.
    clusters = dedup_clusters(spark, sf_dir)  # (doc_id, cluster_id)
    deduped = (
        quality.join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        .withColumn("first", F.min("doc_id").over(Window.partitionBy("cluster_id")))
        .filter(F.col("doc_id") == F.col("first"))
        .drop("first")
        .observe(seen["dedup"], rows)
    )

    lang_kept = deduped.filter(F.col("lang").isin(*langs)).observe(seen["lang"], rows)

    sampled = lang_kept.filter(
        (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % sample_mod) == 0
    ) if sample_mod > 1 else lang_kept

    (
        sampled.select("doc_id", "lang", "source", "n_tokens", "text")
        .observe(seen["final"], rows, F.sum("n_tokens").cast("long").alias("tok"))
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out_path)
    )
    n = {k: o.get["n"] for k, o in seen.items()}
    return CorpusStats(
        n_input=n["input"],
        n_after_quality=n["quality"],
        n_after_dedup=n["dedup"],
        n_after_lang=n["lang"],
        n_final=n["final"],
        total_tokens=seen["final"].get["tok"],
    )
