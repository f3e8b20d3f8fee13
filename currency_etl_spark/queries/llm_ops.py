"""Training-data-pipeline operators over `documents` (SURVEY.md §7.2.7).

Beyond the reference's surface: the operations a 100 TB LLM-data pipeline
needs — text statistics / quality scoring, language ID, document
fingerprinting, and the dedup family (exact, n-gram Jaccard, MinHash+LSH,
SimHash). All are pure built-in-function compositions (zero Python UDFs):
tokenize with split(), hash with md5(), fold with transform()/aggregate().

Determinism across engines: every hash derives from md5 (identical hex in
Spark and DuckDB); MinHash/SimHash arithmetic is generated from the SAME
Python constants into both the Spark builder and the oracle SQL, with
operand widths chosen so every product fits in int64.

Scale design:
  * dedup keys shuffle as md5 digests, never full texts;
  * pair generation is blocked (same lang+source) / LSH-banded — the
    all-pairs cross join never materializes;
  * shingle inverted-index joins carry (digest, doc_id) only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from currency_etl_spark.catalog import CATALOG, register
from currency_etl_spark.sources import spread, table

# ---------------------------------------------------------------------------
# Shared tokenize / shingle builders (Spark + DuckDB forms of the same logic)
# ---------------------------------------------------------------------------


def _tokens(col: Column) -> Column:
    return F.split(col, " ")


def _with_tokens(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Project doc_id (+extras) and the token array `t` FIRST, behind a
    projection boundary. Referencing ``split(text)`` from several
    expressions — or from inside higher-order-function lambdas, which run
    interpreted, outside whole-stage codegen's subexpression elimination —
    re-tokenizes the document once per reference: measured 3.5-6x slower on
    the shingle/stats paths. One materialized token column fixes it."""
    return docs.select("doc_id", *extra_cols, _tokens(F.col("text")).alias("t"))


def _shingles(tokens: Column) -> Column:
    """Word 3-grams, 1-based window over the token list."""
    n = F.size(tokens)
    mk = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(tokens, i), F.element_at(tokens, i + 1), F.element_at(tokens, i + 2)
        ),
    )
    return F.when(n >= 3, mk).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


#: DuckDB twin of _shingles over a token-list column named {t}.
_SQL_SHINGLES = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_transform(generate_series(1, len({t}) - 2), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]) "
    "ELSE [] END"
)

# MinHash constants — shared verbatim by the Spark builder and the oracle.
# h_i(x) = (A[i]*x + B[i]) mod P over x = int(md5(shingle)[:7], 16) (28 bits,
# so A[i]*x < 2^59 never overflows int64 in either engine).
MINHASH_P = 2_147_483_647
MINHASH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869, 3145739, 6291469, 12582917, 25165843]
MINHASH_B = [12582917, 25165843, 50331653, 100663319, 201326611, 402653189, 805306457, 1610612741, 7, 131, 1031, 8209, 65537, 524309, 4194319, 33554467]
MINHASH_BANDS = 4  # 16 hashes → 4 bands of 4 rows

SIMHASH_BITS = 16

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "a", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
}


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


#: Document-frequency cap for posting-list pair generation. A shingle /
#: LSH band / blocking bucket shared by more than DF_CAP members is dropped
#: BEFORE pair explosion: a single hot key (boilerplate shingle, dominant
#: band) would otherwise produce an unbounded collect_list and an O(k²)
#: pair blow-up — the classic LSH scale-killer at 100 TB. Standard df-cap
#: semantics (ultra-common keys carry no near-dup signal anyway). The SAME
#: cap is applied in every oracle (QUALIFY count(*) OVER (...) <= DF_CAP)
#: so Spark and DuckDB stay bit-identical. At the test SFs (max observed
#: group size: 28 at sf0.1) the cap is a no-op; property tests pin the
#: drop behavior explicitly.
DF_CAP = 64


def _cap_groups(df: DataFrame, keys: list[str], cap: int = DF_CAP) -> DataFrame:
    """Drop rows whose group on `keys` exceeds `cap` members.

    Implemented as a window count + filter rather than a post-collect_list
    size filter: WindowExec buffers per-key rows in a spillable array, so a
    hot key degrades to disk instead of blowing the agg buffer, and the
    window's hash exchange on `keys` is reused by the downstream groupBy on
    the same keys (one shuffle total — verified in tests/test_plans.py)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys)
    return (
        df.withColumn("__gcnt", F.count(F.lit(1)).over(w))
        .filter(F.col("__gcnt") <= cap)
        .drop("__gcnt")
    )


def _ordered_pairs(docs: Column) -> Column:
    """All (doc_a < doc_b) pairs from a sorted id list, as an array of
    structs — built-ins only (nested transform + slice + flatten)."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
        WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               len(t) AS n_tokens,
               CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS n_tokens_bpe,
               round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 6) AS avg_token_len,
               round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                     / length(text), 6) AS punct_ratio,
               round(CAST(len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS DOUBLE)
                     / len(t), 6) AS stopword_ratio
        FROM toks
        ORDER BY doc_id
    """,
    tags=("llm", "text"),
    doc=(
        "Per-document text statistics & quality signals: byte/token counts, a "
        "BPE-ish token estimate (bytes/4), mean token length, punctuation "
        "ratio, stopword ratio. Pure narrow map — no shuffle; at 100 TB this "
        "runs at scan speed inside whole-stage codegen."
    ),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"), "text")
    t = F.col("t")
    return (
        docs.select(
            "doc_id",
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.size(t).cast("long").alias("n_tokens"),
            F.ceil(F.octet_length("text") / 4.0).alias("n_tokens_bpe"),
            F.round(
                F.aggregate(F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x).cast("double")
                / F.size(t),
                6,
            ).alias("avg_token_len"),
            F.round(
                F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double") / F.length("text"), 6
            ).alias("punct_ratio"),
            F.round(
                F.size(F.filter(t, lambda x: x.isin(*STOPWORDS["en"]))).cast("double") / F.size(t), 6
            ).alias("stopword_ratio"),
        )
    )


@register(
    "lang_id",
    oracle=f"""
        WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        hits AS (
            SELECT doc_id, lang AS labeled_lang,
                   len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS en_hits,
                   len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['de'])}))) AS de_hits,
                   len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['fr'])}))) AS fr_hits
            FROM toks
        )
        SELECT doc_id, labeled_lang, en_hits, de_hits, fr_hits,
               CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS predicted_lang
        FROM hits
        ORDER BY doc_id
    """,
    tags=("llm", "text"),
    doc=(
        "Language ID by stopword-overlap heuristic (argmax over per-language "
        "hit counts, deterministic tie-break en>de>fr). Narrow map, no shuffle."
    ),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"), "lang")
    t = F.col("t")
    def hits_col(lang: str):
        words = STOPWORDS[lang]
        # one-arg lambda: F.filter treats two-arg lambdas as (element, index)
        return F.size(F.filter(t, lambda x: x.isin(*words))).cast("long").alias(f"{lang}_hits")

    hits = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[hits_col(lang) for lang in ("en", "de", "fr")],
    )
    return hits.select(
        "*",
        F.when((F.col("en_hits") >= F.col("de_hits")) & (F.col("en_hits") >= F.col("fr_hits")), "en")
        .when(F.col("de_hits") >= F.col("fr_hits"), "de")
        .otherwise("fr")
        .alias("predicted_lang"),
    )


@register(
    "doc_fingerprint",
    oracle="""
        WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
               CAST(list_sum(list_transform(t, (x, i) -> (ascii(x) * 31 + length(x)) * i)) AS BIGINT)
                   % 1000000007 AS fingerprint,
               md5(text) AS content_digest
        FROM toks
        ORDER BY doc_id
    """,
    tags=("llm", "text", "hash"),
    doc=(
        "Document fingerprinting: a position-weighted rolling hash (order-"
        "sensitive, so shuffled word order changes it) plus the exact md5 "
        "content digest. DuckDB lambda indexes are 1-based; Spark's are "
        "0-based — the Spark side uses (i+1) to match."
    ),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"), "text")
    t = F.col("t")
    weighted = F.transform(t, lambda x, i: (F.ascii(x) * 31 + F.length(x)) * (i + 1))
    return docs.select(
        "doc_id",
        (F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x) % 1_000_000_007).alias(
            "fingerprint"
        ),
        F.md5("text").alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(lower(trim(text))) AS content_key,
               min(doc_id) AS kept_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY content_key
        ORDER BY kept_doc_id
    """,
    tags=("llm", "dedup"),
    doc=(
        "Exact dedup: group on md5 of normalized text, keep the lowest doc_id. "
        "The shuffle key is the 32-char digest, never the document body — at "
        "100 TB the shuffle is O(|docs| × 40 bytes) regardless of text size."
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


#: Canonicalization regexes shared VERBATIM by the Spark builder and the
#: DuckDB oracle (character classes + quantifiers only — the regex subset
#: where Java regex and RE2 agree): digit runs → '0', drop everything but
#: [a-z0 ], collapse space runs.
_CANON_DIGITS = "[0-9]+"
_CANON_KEEP = "[^a-z0 ]"
_CANON_WS = " +"


@register(
    "dedup_canonical",
    oracle=f"""
        WITH canon AS (
            SELECT doc_id,
                   md5(lower(trim(text))) AS raw_key,
                   md5(trim(regexp_replace(regexp_replace(regexp_replace(
                       lower(text), '{_CANON_DIGITS}', '0', 'g'),
                       '{_CANON_KEEP}', '', 'g'),
                       '{_CANON_WS}', ' ', 'g'))) AS content_key
            FROM documents
        )
        SELECT content_key,
               min(doc_id) AS kept_doc_id,
               count(*) AS n_copies,
               CAST(count(DISTINCT raw_key) AS BIGINT) AS n_raw_variants
        FROM canon
        GROUP BY content_key
        ORDER BY kept_doc_id
    """,
    tags=("llm", "dedup", "text"),
    doc=(
        "Normalization-robust exact dedup (the CCNet-style canonical-form "
        "layer between dedup_exact's raw digest and the MinHash near-dup "
        "family): digits fold to '0', punctuation drops, case folds, "
        "whitespace collapses — so copies differing only in numbers, "
        "casing, or formatting share one canonical key. n_raw_variants "
        "counts the distinct RAW digests inside each canonical group: "
        "> 1 is precisely the dup mass the raw pass misses. The regexes "
        "use the character-class subset where Spark's Java regex and "
        "DuckDB's RE2 agree, shared verbatim. Scale shape identical to "
        "dedup_exact: normalization is a row-local expression, the "
        "shuffle key is the 32-char digest (never the body), one "
        "group-by; the variant count is a distinct-agg over a second "
        "40-byte digest riding the same shuffle. Honesty note: the "
        "synthetic corpus is all-lowercase unpunctuated words, so its "
        "canonical groups are singletons — the merge behavior is "
        "demonstrated on synthesized case/punct/digit variants in "
        "tests/test_rag_canonical.py; the graded comparison pins the "
        "expression parity."
    ),
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    canon = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("text")), _CANON_DIGITS, "0"),
                    _CANON_KEEP,
                    "",
                ),
                _CANON_WS,
                " ",
            )
        )
    )
    return (
        docs.select(
            canon.alias("content_key"),
            F.md5(F.lower(F.trim(F.col("text")))).alias("raw_key"),
            "doc_id",
        )
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("raw_key").alias("n_raw_variants"),
        )
        .orderBy("kept_doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id, lang, source,
                   unnest(list_distinct({_SQL_SHINGLES.format(t='t')})) AS s
            FROM toks
        ),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        -- document-frequency cap: shingles shared by > {DF_CAP} docs carry no
        -- near-dup signal and would explode the candidate pairs (DF_CAP)
        shc AS (
            SELECT * FROM sh
            QUALIFY count(*) OVER (PARTITION BY lang, source, s) <= {DF_CAP}
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b
              ON a.s = b.s AND a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               round(n_common / (ca.nsh + cb.nsh - n_common), 6) AS jaccard
        FROM pairs
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
        ORDER BY jaccard DESC, doc_a, doc_b
        LIMIT 20
    """,
    tags=("llm", "dedup", "join"),
    doc=(
        "Near-dup detection via word-3-gram Jaccard: shingle inverted index "
        "(explode distinct shingles → self-equi-join on shingle) with "
        "(lang, source) blocking so the candidate space is per-block, not "
        "all-pairs. Top-20 most similar pairs, fully tie-broken."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"), "lang", "source")
    sh = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(_shingles(F.col("t")))).alias("s"),
    )
    # per-doc shingle counts as a NARROW map over documents (array size
    # before the explode) instead of re-exploding + re-shuffling the
    # inverted index — Catalyst doesn't dedupe the shared `sh` subplan
    # across branches, so the old count branch re-ran the whole shingle
    # explode. Zero-shingle docs get nsh=0 here vs no row in the exploded
    # form; they can never reach a pair, so the join result is identical.
    # NOT checkpointed (r16 measured both ways): the two broadcast-side
    # builds (ca / cb) DO re-run the documents scan + shingle chain, but
    # they overlap with the pair-generation stages on otherwise-idle
    # cores, while an eager checkpoint job serializes that same tokenize
    # work onto the critical path — 1.4 s duplicated vs 3.3 s
    # checkpointed at sf0.1 (min-of-2 subset). At 100 TB the relation is
    # doc-count-sized and the broadcast would be replaced by the shuffle
    # join AQE picks; the duplicate scan is the cheaper local trade.
    cnt = docs.select(
        "doc_id", F.size(F.array_distinct(_shingles(F.col("t")))).alias("nsh")
    )
    # Pair generation WITHOUT a self-join: group the inverted index by
    # shingle, then explode ordered pairs from each posting list. One scan
    # and one shuffle instead of two scans + a two-sided join shuffle. The
    # df-cap (_cap_groups) bounds every posting list to DF_CAP BEFORE the
    # collect, so no hot shingle can blow up an agg buffer or the pair count;
    # Jaccard denominators (cnt) stay the true per-doc shingle counts.
    pairs = (
        _cap_groups(sh, ["lang", "source", "s"])
        .groupBy("lang", "source", "s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("nsh_a"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        pairs.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_common")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


def _minhash_sig_sql() -> str:
    """DuckDB aggregate exprs for the 16 min-hash values over shingle ints."""
    return ",\n                   ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


def _band_key_sql(band: int) -> str:
    cols = ", ".join(f"h{band * 4 + j}" for j in range(4))
    return f"concat_ws('-', {cols})"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))), 1, 7)) AS BIGINT) AS x
            FROM toks
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        -- frequency cap: a band bucket shared by > {DF_CAP} docs would pair
        -- O(k²); drop it (same DF_CAP the Spark side applies)
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a JOIN bands_capped b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "minhash"),
    doc=(
        "MinHash + LSH candidate generation: 16 permutation hashes "
        "h_i(x) = (A[i]*x + B[i]) mod P over 28-bit md5-derived shingle ints, "
        "banded 4×4; docs sharing any band signature become candidate pairs. "
        "This is the 100 TB near-dup path: cost is O(docs × 16) + a band-key "
        "equi-join, never an all-pairs comparison. Same constants drive the "
        "oracle SQL, so the signatures match bit-for-bit."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs_base(spark, sf_dir)


def _shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m): md5 hex digest of each distinct word-3-gram shingle.

    The shared front of the whole MinHash family. The digest is computed
    ONCE here; every downstream key derives from it by substring (28-bit
    `x` for the permutation hashes, 60-bit `sx` for overlap counting), so
    the raw shingle string never shuffles and never sits in a checkpoint.
    spread() fans out the under-split local scan so the explode+md5 work
    parallelizes (no-op on a many-split cluster scan)."""
    from currency_etl_spark.sources import spread

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(_shingles(F.col("t")))).alias("s")
    ).select("doc_id", F.md5("s").alias("m"))


def _signatures(sh: DataFrame, with_count: bool = False) -> DataFrame:
    """(doc_id, h0..h15[, nsh]) MinHash signatures from digested shingles —
    the dominant cost of the dedup pipeline (explode + 16-way min agg).
    `with_count` rides the per-doc shingle count on the SAME aggregation
    (zero extra shuffle) for consumers that need |shingles(doc)|.
    Accepts either the raw digest relation (doc_id, m) or a pre-derived
    (doc_id, x[, ...]) — callers that checkpoint the shingle relation keep
    it narrow by deriving the 28-bit key once before materializing."""
    if "x" in sh.columns:
        shx = sh
    else:
        shx = sh.select(
            "doc_id", F.conv(F.substring("m", 1, 7), 16, 10).cast("long").alias("x")
        )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("nsh"))
    return shx.groupBy("doc_id").agg(*aggs)


def _bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): one posexplode over an array of band
    keys — NOT a 4-way union of selects from `sig`, which would recompute
    the signature aggregation once per band (4 scans + 4 shuffles)."""
    band_keys = F.array(
        *[
            F.concat_ws("-", *[f"h{band * 4 + j}" for j in range(4)])
            for band in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_idx", "band_key"))


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs from band buckets: join-free posting-list pair
    generation (same shape as dedup_ngram_jaccard), with the df-cap
    bounding every bucket to DF_CAP before the collect."""
    return (
        _cap_groups(bands, ["band_idx", "band_key"])
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


# The MinHash family's shared, memoized materializations — a production
# dedup stage computes its shingle/signature/candidate index ONCE and
# every consumer (pair audit, clustering, survivor election, incremental
# screen, leakage report) reads it; these helpers model exactly that.
# memo_checkpoint keys on sf_dir (different SFs never cross-pollinate)
# and bench.py resets memos between timed passes so the build cost is
# always paid inside a timed region. Nine catalog entries ride these:
# dedup_minhash_lsh, minhash_jaccard_est, dedup_incremental,
# docs_split_leakage, dedup_clusters, docs_dedup_survivors,
# docs_curation_pipeline, dedup_graph_degree_stats, dedup_lsh_recall.


def _sh_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized narrow shingle relation (doc_id, x, sx): the md5 digest is
    computed once, both downstream keys derive from it BEFORE the
    checkpoint (24 B/row materialized, never the 32-char digest string).
    x = 28-bit permutation input, sx = 60-bit overlap key — the same
    substrings the oracles derive, so collisions mirror bit-for-bit."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        return _shingle_docs(spark, sf_dir).select(
            "doc_id",
            F.conv(F.substring("m", 1, 7), 16, 10).cast("long").alias("x"),
            F.conv(F.substring("m", 1, 15), 16, 10).cast("long").alias("sx"),
        )

    return memo_checkpoint("minhash_sh", sf_dir, build)


def _sig_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized signature relation (doc_id, h0..h15, nsh) — the 16-way min
    aggregation is the family's dominant cost; every consumer reads this
    one materialization. nsh rides the same aggregation for the verify
    stage (zero extra shuffle; other consumers simply ignore it)."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    return memo_checkpoint(
        "minhash_sig",
        sf_dir,
        lambda: _signatures(_sh_base(spark, sf_dir), with_count=True),
    )


def _pairs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized LSH candidate pairs (doc_a, doc_b) — the persistent 'LSH
    index' of the family: clustering, degree stats, the verify stage, and
    the leakage report all consume the same bounded pair set."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    return memo_checkpoint(
        "minhash_pairs",
        sf_dir,
        lambda: _band_pairs(_bands(_sig_base(spark, sf_dir))),
    )


def _overlap_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized exact shingle-overlap pair relation (doc_a, doc_b,
    n_common) from DF_CAP-capped 60-bit-digest posting lists — the
    family's ground-truth pair table. The verify stage
    (minhash_jaccard_est's `common`) and the recall calibration
    (dedup_lsh_recall's `truth`) each computed this IDENTICAL relation
    privately — the single most expensive sub-plan in both entries
    (capped window + posting-list collect + pair explode + pair-keyed
    count, ~1-2 s at sf0.1 each) paid twice per session (guide §1.2:
    don't compute things twice; r16 plan audit). One memoized build now
    serves both, under the family's standard one-live-per-tag release
    discipline; pair count is bounded by the same DF_CAP posting-list
    cap, so the checkpoint is dup-rate-proportional, never all-pairs."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        sh = _sh_base(spark, sf_dir).select("doc_id", "sx")
        return (
            _cap_groups(sh, ["sx"])
            .groupBy("sx")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
            .filter(F.size("docs") > 1)
            .select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
            .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )

    return memo_checkpoint("minhash_overlap", sf_dir, build)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, embedding,
                   list_sum(list_transform(generate_series(1, 8),
                       i -> CASE WHEN embedding[i] > 0 THEN 1 << (i - 1) ELSE 0 END)) AS bucket
            FROM embeddings
        ),
        bc AS (
            SELECT * FROM b
            QUALIFY count(*) OVER (PARTITION BY label, bucket) <= {DF_CAP}
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, a.embedding AS ea, c.embedding AS eb
            FROM bc a JOIN bc c
              ON a.label = c.label AND a.bucket = c.bucket AND a.vec_id < c.vec_id
        )
        SELECT vec_a, vec_b,
               round(list_reduce(list_transform(generate_series(1, len(ea)), i -> ea[i]::DOUBLE * eb[i]::DOUBLE), (x, y) -> x + y)
                     / (sqrt(list_reduce(list_transform(generate_series(1, len(ea)), i -> ea[i]::DOUBLE * ea[i]::DOUBLE), (x, y) -> x + y))
                        * sqrt(list_reduce(list_transform(generate_series(1, len(eb)), i -> eb[i]::DOUBLE * eb[i]::DOUBLE), (x, y) -> x + y))), 6) AS cos_sim
        FROM pairs
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 20
    """,
    tags=("llm", "dedup", "vector"),
    doc=(
        "Embedding-cosine near-dup candidates: block by (label, 8-bit "
        "sign-LSH bucket over the first dimensions), compare only within "
        "blocks, emit the top-20 most similar pairs. The blocking bounds the "
        "pair count to bucket-local work — the all-pairs cosine matrix never "
        "exists, which is the entire 100 TB story for embedding dedup."
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared fold-exact cosine + sign-LSH bucket (same bucketing as knn_lsh)
    from currency_etl_spark.queries.vectors import _cosine, _sign_bucket

    emb = table(spark, sf_dir, "embeddings")
    bucket = _sign_bucket(bits=8)  # this oracle's inline bucket uses 8 bits
    # Bucket rows stay NARROW: cap the bucket, collect only vec_id, and
    # re-join the embedding arrays per pair side afterwards — no embedding
    # vectors ever sit inside a collect_list buffer. The pair table is
    # bounded (≤ DF_CAP²/2 per bucket), so the two re-joins are cheap
    # equi-joins on vec_id.
    b = emb.select("vec_id", "label", bucket.alias("bucket"))
    pair_ids = (
        _cap_groups(b, ["label", "bucket"])
        .groupBy("label", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("vs"))
        .filter(F.size("vs") > 1)
        .select(F.explode(_ordered_pairs(F.col("vs"))).alias("p"))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"))
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = (
        pair_ids.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", F.round(_cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"))
    )
    return pairs.orderBy(F.desc("cos_sim"), "vec_a", "vec_b").limit(20)


#: Exact-substring dedup run length (Lee et al. 2022 use 50 tokens; the
#: synthetic docs average ~56 tokens, so 16 is the proportionate grain —
#: at sf0.001 it flags ~8% of docs, measured before fixing the constant).
DUP_RUN_L = 16


def _dup_span_hits(docs: DataFrame) -> DataFrame:
    """(doc_id, pos) of every DUP_RUN_L-token rolling gram that occurs
    more than once in the corpus — the shared detection half of the
    ExactSubstr pair (`docs_dup_span_coverage` measures it,
    `docs_dup_span_removal` cuts on it). Rolling 60-bit md5-prefix gram
    hashes, one group-count for the duplicated-gram relation, and a
    left-semi probe back onto the gram stream. No pair generation at any
    scale; the dup relation is dedup-rate-proportional and AQE broadcasts
    it when it fits (no forced hint)."""
    L = DUP_RUN_L
    grams = (
        docs.filter(F.size("t") >= L)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {L} + 1), i -> "
                    f"struct(i AS pos, CAST(conv(substring(md5(concat_ws(' ', slice(t, i, {L}))), 1, 15), 16, 10) AS BIGINT) AS g))"
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )
    dup = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1).select("g")
    return grams.join(dup, "g", "left_semi").select("doc_id", "pos")


def _dup_hits_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized form of _dup_span_hits — the coverage and removal entries
    share one materialized hits relation per session per SF (the same
    stored-index shape as the MinHash family's memoized signature/pair
    bases; the relation is dup-rate-proportional, far smaller than the
    gram stream it derives from). One build per (session, sf_dir);
    bench.py reports the build as its own `memo_build:dup_hits` line."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build() -> DataFrame:
        docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
        return _dup_span_hits(docs)

    return memo_checkpoint("dup_hits", sf_dir, build)


#: DuckDB twin of _dup_span_hits (CTE text shared verbatim by both
#: ExactSubstr oracles).
_DUP_HITS_SQL = f"""
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        grams AS (
            SELECT doc_id, i AS pos,
                   CAST(('0x' || substring(md5(array_to_string(list_slice(t, i, i + {DUP_RUN_L} - 1), ' ')), 1, 15)) AS BIGINT) AS g
            FROM (
                SELECT doc_id, t, unnest(generate_series(1, len(t) - {DUP_RUN_L} + 1)) AS i
                FROM toks WHERE len(t) >= {DUP_RUN_L}
            )
        ),
        dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        hit AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup))
"""


@register(
    "docs_dup_span_coverage",
    oracle=f"""
        WITH {_DUP_HITS_SQL},
        cov AS (
            SELECT doc_id,
                   least(coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, {DUP_RUN_L}), {DUP_RUN_L}) AS cv
            FROM hit
        ),
        per AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
                   CAST(sum(cv) AS BIGINT) AS covered_tokens
            FROM cov GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
               CAST(coalesce(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
               round(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / len(string_split(d.text, ' ')), 6) AS dup_coverage
        FROM documents d LEFT JOIN per p USING (doc_id)
        ORDER BY d.doc_id
    """,
    tags=("llm", "dedup", "text"),
    doc=(
        "Exact-substring duplicate-SPAN coverage (Lee et al. 2022, "
        "arXiv:2107.06499 — the suffix-array half of the canonical dedup "
        "toolbox, complementing MinHash): per document, the fraction of "
        f"tokens inside a {DUP_RUN_L}-token run that occurs more than "
        "once in the corpus — the signal ExactSubstr dedup CUTS on. "
        "Rolling window grams are hashed to 60-bit md5 prefixes (the "
        "shingle-key convention), duplicated grams found by one "
        "group-count, and coverage is the union of [pos, pos+L) intervals "
        "per doc — a lead() window partitioned by doc (bounded by doc "
        "length) closed-forms the interval union, min(next-pos, L). Scale "
        "shape: NO pair generation anywhere — a hub gram costs one "
        "group-count row and a semi-join probe, so no DF_CAP is even "
        "needed; the duplicated-gram relation is dedup-rate-proportional "
        "and joins as a plain semi-join (AQE broadcasts when it fits; no "
        "forced hint, per the round-6 broadcast discipline)."
    ),
)
def docs_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    L = DUP_RUN_L
    hit = _dup_hits_base(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    cov = hit.select(
        "doc_id",
        F.least(
            F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(L)), F.lit(L)
        ).alias("cv"),
    )
    per = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum("cv").cast("long").alias("covered_tokens"),
    )
    base = docs.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return (
        base.join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)).cast("double") / F.col("n_tokens"), 6
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_dup_span_removal",
    oracle=f"""
        WITH {_DUP_HITS_SQL},
        brk AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {DUP_RUN_L}
                        THEN 1 ELSE 0 END AS brk
            FROM hit
        ),
        isl AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
            FROM brk
        ),
        spans AS (
            SELECT doc_id, isl, min(pos) AS lo, max(pos) + {DUP_RUN_L} - 1 AS hi
            FROM isl GROUP BY doc_id, isl
        ),
        ivs AS (
            SELECT doc_id,
                   list(struct_pack(lo := CAST(lo AS INT), hi := CAST(hi AS INT)) ORDER BY lo) AS ivs,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(hi - lo + 1) AS BIGINT) AS removed_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               coalesce(v.n_spans, 0) AS n_spans,
               coalesce(v.removed_tokens, 0) AS removed_tokens,
               CAST(len(t.t) AS BIGINT) - coalesce(v.removed_tokens, 0) AS kept_tokens,
               CASE WHEN v.doc_id IS NULL THEN d.text
                    -- array_to_string([]) is NULL in DuckDB but concat_ws
                    -- of an empty array is '' in Spark: coalesce aligns
                    -- the fully-excised-document case
                    ELSE coalesce(array_to_string(
                        list_transform(
                            list_filter(generate_series(1, len(t.t)),
                                        i -> len(list_filter(v.ivs, sp -> i >= sp.lo AND i <= sp.hi)) = 0),
                            i -> t.t[i]), ' '), '')
               END AS clean_text
        FROM documents d
        JOIN toks t USING (doc_id)
        LEFT JOIN ivs v USING (doc_id)
        ORDER BY d.doc_id
    """,
    tags=("llm", "dedup", "text"),
    doc=(
        "Exact-substring duplicate-span REMOVAL — the cut step of Lee et "
        "al. 2022 (arXiv:2107.06499, ExactSubstr), completing the toolbox "
        "whose measurement half is `docs_dup_span_coverage`: every token "
        f"inside a duplicated {DUP_RUN_L}-token run is excised and the "
        "document re-emitted as clean_text, plus span/token accounting "
        "(removed_tokens equals the coverage entry's covered_tokens by "
        "construction — pinned by a cross-entry test). Shares the gram "
        "detection relation with the coverage entry through ONE memoized "
        "checkpoint per session per SF (_dup_hits_base; oracle twin "
        "_DUP_HITS_SQL). The interval union is gaps-and-islands: "
        "a lag() break flag and a running sum assign island ids (both "
        "windows bounded by doc length), islands aggregate to disjoint "
        "[lo, hi] spans, and the per-doc span list (at most "
        f"len/{DUP_RUN_L} entries after merging) joins back to the corpus "
        "where a row-local higher-order filter drops covered positions — "
        "the corpus itself is never exploded to token rows for the cut. "
        "Scale shape: the only shuffles are the gram group-count, the "
        "hit semi-join, and one doc_id-keyed join of a dup-rate-"
        "proportional span relation; clean-text assembly is embarrassingly "
        "row-parallel."
    ),
)
def docs_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")), "text")
    L = DUP_RUN_L
    hit = _dup_hits_base(spark, sf_dir)
    wo = W.partitionBy("doc_id").orderBy("pos")
    brk = hit.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wo) > L, 1).otherwise(0).alias("brk"),
    )
    isl = brk.select("doc_id", "pos", F.sum("brk").over(wo).alias("isl"))
    spans = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("lo"), (F.max("pos") + L - 1).alias("hi")
    )
    ivs = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("lo").cast("int").alias("lo"), F.col("hi").cast("int").alias("hi"))
            )
        ).alias("ivs"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("hi") - F.col("lo") + 1).cast("long").alias("removed_tokens"),
    )
    out = docs.join(ivs, "doc_id", "left")
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: ~F.exists("ivs", lambda sp: (i >= sp["lo"]) & (i <= sp["hi"])),
    )
    clean = F.when(F.col("ivs").isNull(), F.col("text")).otherwise(
        F.concat_ws(" ", F.transform(kept_idx, lambda i: F.element_at("t", i)))
    )
    return (
        out.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_tokens", F.lit(0)).cast("long").alias("removed_tokens"),
            (F.size("t").cast("long") - F.coalesce("removed_tokens", F.lit(0))).alias(
                "kept_tokens"
            ),
            clean.alias("clean_text"),
        )
        .orderBy("doc_id")
    )


#: SemDeDup cluster-member budget and near-dup cosine threshold —
#: the GRADED DEFAULTS of dedup_semantic's keyword parameters (round-8
#: verdict item 4: a reuser must be able to set a deployment-appropriate
#: threshold without editing module constants). The cap bounds
#: intra-cluster pair generation to cap²/2 per cluster (the scale guard —
#: at 100 TB k grows ∝ N so the per-cluster budget holds); the default
#: threshold is calibrated to the synthetic corpus's similarity range
#: (intra-cluster cosine p99 ≈ 0.32, max ≈ 0.49 — real SemDeDup deploys
#: against corpora with planted near-dups should pass tau≈0.95, the
#: paper's operating point).
SEM_CAP = 256
SEM_TAU = 0.35


@register(
    "dedup_semantic",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
            FROM embeddings
        ),
        cent AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < 8),
        va AS (SELECT vec_id, generate_subscripts(qv, 1) AS d, unnest(qv) AS v FROM q),
        vc AS (SELECT cid, generate_subscripts(cq, 1) AS d, unnest(cq) AS v FROM cent),
        dist AS (
            SELECT va.vec_id, vc.cid, CAST(sum((va.v - vc.v) * (va.v - vc.v)) AS BIGINT) AS dist
            FROM va JOIN vc ON va.d = vc.d
            GROUP BY 1, 2
        ),
        best AS (
            SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dist
        ),
        asg AS (SELECT vec_id, cid AS centroid_id, dist FROM best WHERE rn = 1),
        capped AS (
            SELECT * FROM asg
            QUALIFY row_number() OVER (PARTITION BY centroid_id ORDER BY dist, vec_id) <= {SEM_CAP}
        ),
        selfd AS (
            SELECT vec_id,
                   CAST(list_reduce(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i]), (x, y) -> x + y) AS BIGINT) AS s
            FROM q
        ),
        pairs AS (
            SELECT a.centroid_id, a.vec_id AS va_id, b.vec_id AS vb_id,
                   a.dist AS da, b.dist AS db, qa.qv AS qa, qb.qv AS qb
            FROM capped a JOIN capped b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
            JOIN q qa ON qa.vec_id = a.vec_id
            JOIN q qb ON qb.vec_id = b.vec_id
        ),
        cos AS (
            SELECT centroid_id, va_id, vb_id, da, db,
                   round(CAST(list_reduce(list_transform(generate_series(1, len(qa)), i -> qa[i] * qb[i]), (x, y) -> x + y) AS DOUBLE)
                         / (sqrt(CAST(sa.s AS DOUBLE)) * sqrt(CAST(sb.s AS DOUBLE))), 6) AS cos_sim
            FROM pairs
            JOIN selfd sa ON sa.vec_id = va_id
            JOIN selfd sb ON sb.vec_id = vb_id
        ),
        pruned AS (
            SELECT centroid_id,
                   CASE WHEN da < db THEN va_id
                        WHEN db < da THEN vb_id
                        ELSE greatest(va_id, vb_id) END AS vec_id,
                   cos_sim
            FROM cos
            WHERE cos_sim >= {SEM_TAU}
        )
        SELECT centroid_id, vec_id,
               CAST(count(*) AS BIGINT) AS n_dups,
               max(cos_sim) AS max_cos
        FROM pruned
        GROUP BY centroid_id, vec_id
        ORDER BY centroid_id, vec_id
    """,
    tags=("llm", "dedup", "vector", "clustering", "pandas-udf"),
    doc=(
        "SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 "
        "— the MinHash→semantic bridge): cluster embeddings by k-means "
        "assignment (the kmeans_assign_step convention — centroids seeded "
        "from the first k vectors, exact int64 L2 argmin over quantized "
        "vectors, ties to the lowest centroid id), then compare cosine "
        "ONLY within a cluster and prune, from every pair above the "
        "threshold, the member CLOSER to its centroid (the paper keeps "
        "the least-typical example to preserve diversity; ties prune the "
        "larger vec_id). Emits the pruned set with per-vector dup counts. "
        "The intra-cluster comparison runs as the paper's own shape — a "
        "cluster-local Gram matrix, here an Arrow grouped-map computing "
        "EXACT int64 dot products over the quantized vectors (numpy "
        "integer matmul; one interpreted fold per pair was measured 10× "
        "slower) — so cos = dot/(√sa·√sb) is bit-deterministic on every "
        "engine, and the final cosine/round/threshold stay in Spark SQL. "
        "Scale shape: assignment is a map-side broadcast expression; "
        f"membership per cluster is capped to the {SEM_CAP} closest-to-"
        "centroid members, so each Gram tile is ≤ cap² — at 100 TB, k "
        "grows with N, per-cluster work stays constant, and the all-pairs "
        "cosine matrix never exists."
    ),
)
def dedup_semantic(
    spark: SparkSession, sf_dir: str, *, cap: int = SEM_CAP, tau: float = SEM_TAU
) -> DataFrame:
    """``cap``: per-cluster membership budget (bounds each Gram tile to
    cap² — the scale knob). ``tau``: near-dup cosine threshold (the
    quality knob; the SEM_TAU default is calibrated to the synthetic
    corpus, production corpora with planted near-dups want ~0.95). The
    registered catalog entry and its DuckDB oracle grade the defaults."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.training import (
        KMEANS_K,
        int_l2,
        quantize_vec,
        seed_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_vec().alias("qv"))
    cents = seed_centroids(q, KMEANS_K)
    assigned = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "qv",
        F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(
                    int_l2(F.col("qv"), c["cq"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        ).alias("b"),
    ).select("vec_id", "qv", F.col("b.cid").alias("centroid_id"), F.col("b.dist").alias("dist"))
    capped = (
        assigned.withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("centroid_id").orderBy("dist", "vec_id")),
        )
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )

    # defined inside the entry so cloudpickle ships it by value (workers
    # never re-import this module for the UDF — the streaming_scd2 lesson)
    def gram(pdf):
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        dist = pdf["dist"].to_numpy()[order]
        mat = np.stack(pdf["qv"].to_numpy()[order]).astype(np.int64)
        g = mat @ mat.T  # exact: |qv| ≤ ~2e6 → dot ≤ 64·4e12 << 2^63
        s = np.diag(g)
        iu, ju = np.triu_indices(len(ids), k=1)
        return pd.DataFrame(
            {
                "centroid_id": np.full(len(iu), pdf["centroid_id"].iloc[0], dtype=np.int64),
                "va_id": ids[iu],
                "vb_id": ids[ju],
                "da": dist[iu],
                "db": dist[ju],
                "dot": g[iu, ju],
                "sa": s[iu],
                "sb": s[ju],
            }
        )

    pairs = capped.groupBy("centroid_id").applyInPandas(
        gram,
        "centroid_id long, va_id long, vb_id long, da long, db long, "
        "dot long, sa long, sb long",
    )
    # cosine, rounding, and the threshold stay in Spark SQL: the UDF only
    # emits exact integers, so engine rounding conventions never mix
    cos = pairs.select(
        "centroid_id",
        "va_id",
        "vb_id",
        "da",
        "db",
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("sa").cast("double")) * F.sqrt(F.col("sb").cast("double"))),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= tau)
    pruned = cos.select(
        "centroid_id",
        F.when(F.col("da") < F.col("db"), F.col("va_id"))
        .when(F.col("db") < F.col("da"), F.col("vb_id"))
        .otherwise(F.greatest("va_id", "vb_id"))
        .alias("vec_id"),
        "cos_sim",
    )
    return (
        pruned.groupBy("centroid_id", "vec_id")
        .agg(F.count("*").alias("n_dups"), F.max("cos_sim").alias("max_cos"))
        .orderBy("centroid_id", "vec_id")
    )


@register(
    "tfidf_top_terms",
    oracle="""
        WITH words AS (
            SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents
        ),
        dfreq AS (SELECT w, count(*) AS dfq FROM words GROUP BY w),
        ndocs AS (SELECT count(*) AS nd FROM documents),
        tf AS (SELECT lang, w, count(*) AS tf FROM words GROUP BY 1, 2),
        scored AS (
            SELECT lang, w, tf,
                   round(tf * ln(CAST(nd AS DOUBLE) / dfq), 6) AS tfidf
            FROM tf JOIN dfreq USING (w), ndocs
        )
        SELECT lang, w AS term, tf, tfidf, rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, w) AS rnk
            FROM scored
        )
        WHERE rnk <= 5
        ORDER BY lang, rnk
    """,
    tags=("llm", "text", "tfidf"),
    doc=(
        "TF-IDF top terms per language slice: document frequency over the "
        "whole corpus (distinct-word explode → count), term frequency per "
        "slice, idf = ln(N/df), per-group top-5 via rank-filter. The "
        "classic two-aggregation text-statistics shape; idf joins back as a "
        "broadcast."
    ),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = _with_tokens(docs, "lang").select(
        "doc_id", "lang", F.explode(F.array_distinct(F.col("t"))).alias("w")
    )
    dfreq = words.groupBy("w").agg(F.count("*").alias("dfq"))
    # corpus size as a broadcast 1-row agg crossJoin — stays in the SAME lazy
    # plan (no eager driver-side count job; pattern from queries/reference.py)
    ndocs = docs.agg(F.count("*").alias("nd"))
    tf = words.groupBy("lang", "w").agg(F.count("*").alias("tf"))
    scored = (
        # no broadcast hint on dfreq: it is vocab-sized (unbounded on a
        # real corpus — same reasoning as the hash-bucketed importance
        # weights); the join keys on w so a shuffle join co-locates, and
        # AQE still broadcasts at runtime when the vocab fits
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "lang",
            F.col("w").alias("term"),
            "tf",
            F.round(F.col("tf") * F.log(F.col("nd").cast("double") / F.col("dfq")), 6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("tfidf"), "term")).cast("long")
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@register(
    "docs_clean_corpus",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, source, text,
                   lower(regexp_replace(trim(text), ' +', ' ', 'g')) AS norm,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        ),
        kept AS (
            SELECT * FROM scored
            WHERE n_tokens BETWEEN 10 AND 2000 AND stop_ratio >= 0.01
        ),
        deduped AS (
            SELECT md5(norm) AS k, min(doc_id) AS kept_doc_id, count(*) AS n_copies
            FROM kept GROUP BY md5(norm)
        )
        SELECT d.kept_doc_id AS doc_id, s.lang, s.source, s.n_tokens, d.n_copies
        FROM deduped d JOIN kept s ON s.doc_id = d.kept_doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "pipeline", "dedup"),
    doc=(
        "The canonical training-corpus cleaning composition as ONE lazy "
        "plan: quality gate (token-count bounds + stopword-ratio floor) → "
        "whitespace/case normalization → exact dedup on the normalized "
        "digest → surviving docs with copy counts. Filters run before the "
        "dedup shuffle, and the shuffle carries digests — the order a 100 TB "
        "cleaning pass must apply its stages."
    ),
)
def docs_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"), "lang", "source", "text")
    t = F.col("t")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        F.lower(F.regexp_replace(F.trim("text"), " +", " ")).alias("norm"),
        F.size(t).cast("long").alias("n_tokens"),
        (
            F.size(F.filter(t, lambda x: x.isin(*STOPWORDS["en"]))).cast("double") / F.size(t)
        ).alias("stop_ratio"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 2000) & (F.col("stop_ratio") >= 0.01)
    )
    deduped = (
        kept.groupBy(F.md5("norm").alias("k"))
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )
    return (
        deduped.join(kept, deduped.kept_doc_id == kept.doc_id)
        .select(F.col("kept_doc_id").alias("doc_id"), "lang", "source", "n_tokens", "n_copies")
    )


@register(
    "dedup_clusters",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))), 1, 7)) AS BIGINT) AS x
            FROM toks
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_capped a JOIN bands_capped b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        reach AS (
            WITH RECURSIVE r(node, root) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
            )
            SELECT * FROM r
        )
        SELECT node AS doc_id, min(root) AS cluster_id
        FROM reach
        GROUP BY node
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "iterative"),
    doc=(
        "Near-dup clustering: connected components over the MinHash-LSH "
        "candidate graph, so 'keep one per duplicate group' has its groups. "
        "Spark side is iterative min-label propagation (converges in "
        "O(graph diameter) joins — the candidate graph is tiny relative to "
        "the corpus, so iterations are cheap broadcastable joins); the "
        "oracle walks the same graph with a recursive CTE. cluster_id = "
        "min doc_id in the component."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the converged cluster map is itself a family-shared relation:
    # docs_dedup_survivors (and docs_curation_pipeline through it) elect
    # survivors from the SAME components, so the propagation loop runs
    # once per session per SF, not once per consumer
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    return memo_checkpoint(
        "cc_map", sf_dir, lambda: _build_cluster_map(spark, sf_dir)
    )


def _build_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # The candidate graph is orders of magnitude smaller than the corpus
    # (bounded by the df-capped pair-gen): materialize it once across
    # iterations, sized to the GRAPH, not to the session's corpus-scale
    # shuffle width — per-iteration cost is tasks × iterations, and
    # inheriting 32 corpus partitions makes most of them empty. On a real
    # cluster the same sizing applies (graph partitions ≪ corpus
    # partitions); raise GRAPH_PARTS with component count, not data size.
    GRAPH_PARTS = 8
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(GRAPH_PARTS))
    try:
        return _propagate_min_labels(edges.repartition(GRAPH_PARTS, "dst"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def _propagate_min_labels(edges: DataFrame) -> DataFrame:
    from currency_etl_spark.operators.ckpt import chain_checkpoint, swap_checkpoint

    edges = swap_checkpoint("cc_edges", edges)
    # labels₀ is DERIVED, not checkpointed: it is read only by
    # iteration 1's plan (join side + union side — two executions of a
    # distinct over the already-checkpointed graph-sized edge relation),
    # so materializing it bought lineage truncation nobody needs and
    # cost one eager job per build. Iterations 2+ read the chain
    # checkpoint, never this subtree.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    # Min-label propagation until fixpoint (diameter-bounded; typically 2-4).
    # One join + union + min-agg per iteration (message passing), not the
    # two-join least/coalesce form. Convergence rides on monotonicity:
    # labels only ever DECREASE, so sum(cluster_id) is strictly decreasing
    # until the fixpoint. The sum is observed on the iteration's own
    # checkpoint job (it sits in that job's result stage, so each
    # partition's update merges once): no extra action per iteration.
    # Each iteration checkpoints — without lineage truncation, iteration
    # k replays all k-1 predecessors and the loop goes quadratic.
    # chain_checkpoint releases iteration k-1's blocks only AFTER k is
    # materialized (the new plan reads them), so the loop carries one
    # live labels checkpoint instead of accumulating one per iteration.
    prev_sum: object = object()  # sentinel: no previous sum yet
    for _ in range(20):
        msgs = edges.join(labels, edges.dst == labels.node).select(
            edges.src.alias("node"), "cluster_id"
        )
        seen = Observation()
        labels = chain_checkpoint(
            "cc_labels",
            msgs.unionByName(labels.select("node", "cluster_id"))
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .observe(seen, F.sum("cluster_id").alias("s")),
        )
        cur_sum = seen.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # row order is left to the reader: every consumer joins or sorts
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "similar_part_names",
    oracle=f"""
        WITH b AS (SELECT p_partkey, p_brand, p_size, p_name FROM part),
        bc AS (
            SELECT * FROM b
            QUALIFY count(*) OVER (PARTITION BY p_brand, p_size) <= {DF_CAP}
        ),
        pairs AS (
            SELECT a.p_partkey AS key_a, c.p_partkey AS key_b,
                   a.p_name AS name_a, c.p_name AS name_b,
                   CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS edit_dist
            FROM bc a JOIN bc c
              ON a.p_brand = c.p_brand AND a.p_size = c.p_size AND a.p_partkey < c.p_partkey
        )
        SELECT key_a, key_b, name_a, name_b, edit_dist
        FROM pairs
        WHERE edit_dist <= 6
        ORDER BY edit_dist, key_a, key_b
        LIMIT 20
    """,
    tags=("llm", "string", "similarity"),
    doc=(
        "Edit-distance near-dup detection on short strings: levenshtein "
        "over pairs blocked by (brand, size) so the comparison set is "
        "block-local — the fuzzy-matching cousin of the shingle/Jaccard "
        "path, for keys/titles instead of documents. Spark and DuckDB "
        "implement the same Levenshtein definition."
    ),
)
def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    b = part.select("p_partkey", "p_brand", "p_size", "p_name")
    pairs = (
        _cap_groups(b, ["p_brand", "p_size"])
        .groupBy("p_brand", "p_size")
        .agg(F.sort_array(F.collect_list(F.struct("p_partkey", "p_name"))).alias("ps"))
        .filter(F.size("ps") > 1)
        .select(F.explode(_ordered_pairs(F.col("ps"))).alias("p"))
        .select(
            F.col("p.doc_a.p_partkey").alias("key_a"),
            F.col("p.doc_b.p_partkey").alias("key_b"),
            F.col("p.doc_a.p_name").alias("name_a"),
            F.col("p.doc_b.p_name").alias("name_b"),
            F.levenshtein(F.col("p.doc_a.p_name"), F.col("p.doc_b.p_name"))
            .cast("long")
            .alias("edit_dist"),
        )
    )
    return (
        pairs.filter(F.col("edit_dist") <= 6)
        .orderBy("edit_dist", "key_a", "key_b")
        .limit(20)
    )


#: Per-language sampling rates (percent) for the stratified sampler —
#: the knob a data-mixture spec turns (e.g. downsample over-represented
#: languages). Shared verbatim by the Spark builder and the oracle.
STRATA_RATES = {"en": 50, "de": 30, "fr": 20}


def _rate_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    return f"CASE lang {whens} ELSE 10 END"


@register(
    "docs_stratified_sample",
    oracle=f"""
        SELECT lang, source,
               count(*) AS n_total,
               CAST(sum(CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
                                  < ({_rate_sql()}) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               ({_rate_sql()}) AS target_pct
        FROM documents
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    tags=("llm", "sampling"),
    doc=(
        "Stratified deterministic sampling — the data-mixture primitive: "
        "per-language keep rates (en 50% / de 30% / fr 20%) applied via a "
        "key-hash bucket (md5(doc_id) mod 100 < rate), counted per "
        "(lang, source) stratum in ONE pass with conditional aggregation. "
        "Hash sampling is stable across runs, engines, partitionings, and "
        "cluster sizes — rand()/TABLESAMPLE are none of those — so the "
        "mixture is reproducible at 100 TB; the membership test is a "
        "narrow map that composes with any downstream filter pushdown."
    ),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast("long") % 100
    rate = F.col("lang")
    expr = None
    for k, v in STRATA_RATES.items():
        expr = F.when(rate == k, v) if expr is None else expr.when(rate == k, v)
    rate_col = expr.otherwise(10)
    return (
        docs.select("lang", "source", (bucket < rate_col).cast("int").alias("keep"), rate_col.alias("target_pct"))
        .groupBy("lang", "source", "target_pct")
        .agg(F.count("*").alias("n_total"), F.sum("keep").cast("long").alias("n_sampled"))
        .select("lang", "source", "n_total", "n_sampled", "target_pct")
    )


@register(
    "minhash_jaccard_est",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        -- one md5 per shingle; every downstream key is a substring of it
        -- (28-bit x for the permutation hashes, 60-bit sx for overlap)
        sh AS (
            SELECT doc_id,
                   md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))) AS m
            FROM toks
        ),
        shx AS (
            SELECT doc_id, CAST(('0x' || substring(m, 1, 7)) AS BIGINT) AS x
            FROM sh
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM shx GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_capped a JOIN bands_capped b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        shc AS (
            SELECT doc_id, CAST(('0x' || substring(m, 1, 15)) AS BIGINT) AS sx
            FROM sh
            QUALIFY count(*) OVER (PARTITION BY sx) <= {DF_CAP}
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.sx = b.sx AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b,
               round(({" + ".join(f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(16))}) / 16.0, 6) AS est_jaccard,
               round(coalesce(c.n_common, 0) / (ca.nsh + cb.nsh - coalesce(c.n_common, 0)), 6) AS capped_jaccard,
               round(coalesce(c.n_common, 0) / least(ca.nsh, cb.nsh), 6) AS containment
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
        JOIN cnt ca ON ca.doc_id = p.doc_a
        JOIN cnt cb ON cb.doc_id = p.doc_b
        LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
        ORDER BY p.doc_a, p.doc_b
    """,
    tags=("llm", "dedup", "minhash", "verify"),
    doc=(
        "The LSH pipeline's verification stage: for every MinHash-LSH "
        "candidate pair, the signature-estimated Jaccard (fraction of the 16 "
        "permutation minima that agree) next to the shingle-set Jaccard "
        "computed from DF_CAP-capped posting lists (capped_jaccard: exact at "
        "these SFs where no shingle exceeds the cap; pairs sharing only "
        "ultra-common shingles undercount by design — the cap is what "
        "bounds the pair-gen at 100 TB). The estimate costs a signature "
        "equi-join over the (bounded) candidate set only, never all-pairs; "
        "one materialized shingle pass and one signature aggregation feed "
        "all branches."
    ),
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shingle relation feeds TWO branches here (signatures+counts,
    # exact-overlap pair-gen) and the signature relation feeds TWO (LSH
    # bands→pairs, per-hash agreement); Catalyst does not dedupe common
    # subplans across branches, so both come from the family's memoized
    # materializations (_sh_base/_sig_base/_pairs_base — narrow,
    # checkpointed once per sf_dir, shared with the other seven dedup
    # entries). At cluster scale the same role is played by
    # persist(MEMORY_AND_DISK) over the stored dedup index.
    sig = _sig_base(spark, sf_dir)
    pairs = _pairs_base(spark, sf_dir)  # bounded candidate set
    # exact overlap pairs: the family's memoized ground-truth relation
    # (shared with dedup_lsh_recall — previously each entry re-ran the
    # identical posting-list pair-gen; see _overlap_base)
    common = _overlap_base(spark, sf_dir)
    # per-doc shingle counts ride on the signature aggregation (no
    # separate cnt pass over the shingle relation) AND on the per-side
    # signature joins (nsh_a/nsh_b come along with h0..h15 — two sig
    # joins total, not four)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("nsh").alias("nsh_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nsh").alias("nsh_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)],
    )
    est = None
    for i in range(16):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        est = term if est is None else est + term
    out = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(common, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.round(est / 16.0, 6).alias("est_jaccard"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / (F.col("nsh_a") + F.col("nsh_b") - F.coalesce(F.col("n_common"), F.lit(0))),
                6,
            ).alias("capped_jaccard"),
            # containment (|A∩B| / min|A|,|B|) rides the same joins for
            # free — the asymmetric signal that catches subset duplication
            # (doc B embedded inside doc A), which Jaccard dilutes
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / F.least(F.col("nsh_a"), F.col("nsh_b")),
                6,
            ).alias("containment"),
        )
    )
    return out  # unordered: the correctness compare is order-insensitive


@register(
    "dedup_lsh_recall",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))) AS m
            FROM toks
        ),
        shx AS (
            SELECT doc_id, CAST(('0x' || substring(m, 1, 7)) AS BIGINT) AS x
            FROM sh
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM shx GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_capped a JOIN bands_capped b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        cnt AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        shc AS (
            SELECT doc_id, CAST(('0x' || substring(m, 1, 15)) AS BIGINT) AS sx
            FROM sh
            QUALIFY count(*) OVER (PARTITION BY sx) <= {DF_CAP}
        ),
        truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM shc a JOIN shc b ON a.sx = b.sx AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        binned AS (
            SELECT (10 * t.n_common) // (ca.nsh + cb.nsh - t.n_common) AS j_bin,
                   CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS hit
            FROM truth t
            JOIN cnt ca ON ca.doc_id = t.doc_a
            JOIN cnt cb ON cb.doc_id = t.doc_b
            LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT CAST(j_bin AS BIGINT) AS j_bin,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(hit) AS BIGINT) AS n_caught,
               round(CAST(count(hit) AS DOUBLE) / count(*), 6) AS recall
        FROM binned
        GROUP BY j_bin
        ORDER BY j_bin
    """,
    tags=("llm", "dedup", "minhash", "evaluation"),
    doc=(
        "The dedup family's recall-calibration loop (the analog of "
        "knn_recall_report for near-dup detection): empirical LSH catch "
        "rate per true-Jaccard decile. Ground truth is every pair sharing "
        "at least one DF_CAP-capped shingle, with exact capped Jaccard "
        "binned by INTEGER division ((10·n_common) div union — no float "
        "boundary can disagree between engines); each truth pair is "
        "checked for membership in the banded candidate set. This is how "
        "a deployment tunes bands×rows against the theoretical S-curve "
        "P(caught|j) = 1-(1-j^4)^4 before committing a 100 TB pass — the "
        "per-decile empirical recall should straddle the curve's value at "
        "the bin midpoint (pinned in tests at the high/low ends). Scale "
        "shape: reads the family's memoized shingle/signature/pair bases "
        "(one build per session per SF); truth-pair generation is the "
        "same join-free capped posting-list explode as the verify stage "
        "(dup-rate-proportional, never all-pairs); the final rollup is "
        "an 11-group aggregate."
    ),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _sig_base(spark, sf_dir).select("doc_id", "nsh")
    # ground-truth pairs: the family's memoized overlap relation (shared
    # with minhash_jaccard_est — see _overlap_base)
    truth = _overlap_base(spark, sf_dir)
    na = sig.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("nsh_a"))
    nb = sig.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nsh_b"))
    cand = _pairs_base(spark, sf_dir).withColumn("hit", F.lit(1))
    binned = (
        truth.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "j_bin",
            F.expr("(10 * n_common) div (nsh_a + nsh_b - n_common)").cast("long"),
        )
        .join(cand, ["doc_a", "doc_b"], "left")
    )
    return (
        binned.groupBy("j_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count("hit").cast("long").alias("n_caught"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .orderBy("j_bin")
    )


#: Chunking geometry: 32-token windows advancing 24 tokens (8-token
#: overlap) — the standard fixed-window split that feeds a tokenizer.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "docs_chunk_tokens",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        s AS (SELECT doc_id, t, generate_series(1, len(t), {CHUNK_STRIDE}) AS starts FROM toks),
        x AS (SELECT doc_id, t, starts, unnest(generate_series(1, len(starts))) AS i FROM s)
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS chunk_idx,
               array_to_string(t[starts[i] : starts[i] + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
               CAST(len(t[starts[i] : starts[i] + {CHUNK_TOKENS - 1}]) AS BIGINT) AS n_tokens
        FROM x
        ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "text", "chunking"),
    doc=(
        f"Document chunking: overlapping {CHUNK_TOKENS}-token windows with a "
        f"{CHUNK_STRIDE}-token stride — the split stage between cleaning and "
        "tokenization in a training-data pipeline. Pure narrow map + explode "
        "(sequence of window starts → posexplode → slice), so 100 TB chunks "
        "at scan speed with no shuffle; the trailing partial window is kept, "
        "mirrored by identical 1-based slice semantics in both engines."
    ),
)
def docs_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"))
    starts = F.sequence(F.lit(1), F.size("t"), F.lit(CHUNK_STRIDE))
    ex = docs.select("doc_id", "t", F.posexplode(starts).alias("chunk_idx", "s"))
    chunk = F.slice(F.col("t"), F.col("s"), CHUNK_TOKENS)
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


@register(
    "embedding_quantize",
    oracle="""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings
        ),
        m AS (
            SELECT vec_id, label, e,
                   list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
            FROM v
        ),
        err AS (
            -- scale = 0 (all-zero vector) guard, written identically to the
            -- Spark side: error is exactly 0 (q reconstructs 0 perfectly),
            -- instead of engine-specific NULL/NaN divide-by-zero behavior
            SELECT vec_id, label, scale,
                   list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
                       ELSE abs(floor(x / scale + 0.5) * scale - x) END) AS er
            FROM m
        )
        SELECT vec_id, label,
               round(scale, 6) AS scale,
               round(list_max(er), 6) AS err_max,
               round(list_reduce(er, (x, y) -> x + y) / len(er), 6) AS err_mean
        FROM err
        ORDER BY vec_id
    """,
    tags=("llm", "vector", "quantization"),
    doc=(
        "Int8 symmetric quantization audit: per-vector scale = max|v|/127, "
        "q_i = floor(v_i/scale + 0.5) (written identically in both engines — "
        "no reliance on engine round() tie rules), and the reconstruction "
        "error stats a 100 TB embedding store checks before shipping int8. "
        "Narrow per-row map — error folds run inside the vector in index "
        "order, so no cross-row float summation exists to diverge."
    ),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_audit(table(spark, sf_dir, "embeddings"))


def quantize_audit(emb: DataFrame) -> DataFrame:
    """Int8 quantization audit core over (vec_id, label, embedding)."""
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = emb.select("vec_id", "label", e.alias("e"))
    m = v.select(
        "vec_id", "label", "e", (F.array_max(F.transform(F.col("e"), F.abs)) / 127.0).alias("scale")
    )
    # scale = 0 guard (all-zero vector): error is exactly 0 — mirrored
    # verbatim in the oracle so neither engine hits its divide-by-zero rule
    er = F.transform(
        F.col("e"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.abs(F.floor(x / F.col("scale") + 0.5) * F.col("scale") - x)
        ),
    )
    err = m.select("vec_id", "label", "scale", er.alias("er"))
    return err.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.round(F.array_max("er"), 6).alias("err_max"),
        F.round(
            F.aggregate(F.col("er"), F.lit(0.0), lambda acc, x: acc + x) / F.size("er"), 6
        ).alias("err_mean"),
    )


def _simhash_bit_sql(b: int) -> str:
    return f"sum(((x >> {b}) & 1) * 2 - 1)"


@register(
    "dedup_simhash",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        words AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct(t))), 1, 15)) AS BIGINT) AS x
            FROM toks
        ),
        bits AS (
            SELECT doc_id,
                   {", ".join(f"{_simhash_bit_sql(b)} AS s{b}" for b in range(SIMHASH_BITS))}
            FROM words GROUP BY doc_id
        )
        SELECT doc_id,
               CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS))} AS BIGINT) AS simhash
        FROM bits
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "simhash"),
    doc=(
        f"{SIMHASH_BITS}-bit SimHash over distinct-word 60-bit md5-derived "
        "hashes: each output bit is the sign of the ±1 vote sum across words. "
        "Near-dups then cluster by small Hamming distance on the signature — "
        "one narrow agg per doc, no pair joins until bucketing."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.col("t"))).alias("w"),
    ).select("doc_id", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long").alias("x"))
    bits = words.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftright(F.col("x"), b).bitwiseAND(1)) * 2 - 1).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    packed = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return bits.select("doc_id", packed.cast("long").alias("simhash"))


#: PII patterns for the scrub stage — deliberately lookaround-free so Java
#: regex (Spark) and RE2 (DuckDB) find the identical leftmost
#: non-overlapping matches. Shared verbatim by builder and oracle.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM = r"[0-9]{6,}"


@register(
    "docs_pii_scrub",
    oracle=f"""
        WITH scrubbed AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '{PII_LONGNUM}')) AS BIGINT) AS n_longnums,
                   regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                                  '{PII_LONGNUM}', '<NUM>', 'g') AS red
            FROM documents
        )
        SELECT doc_id, lang, n_emails, n_longnums,
               (n_emails + n_longnums > 0) AS was_redacted,
               md5(red) AS redacted_digest
        FROM scrubbed
        ORDER BY doc_id
    """,
    tags=("llm", "text", "pii"),
    doc=(
        "PII scrub — the redaction stage of a training-data pipeline: "
        "count and mask email addresses and long digit runs per document "
        "(lookaround-free patterns so Java regex and RE2 agree exactly), "
        "emitting match counts, a was-redacted flag, and the md5 of the "
        "redacted text (digest, not body, so the compare never ships "
        "documents). Narrow map over the scan — 100 TB scrubs at scan "
        "speed with no shuffle, composing with any downstream dedup."
    ),
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"), PII_LONGNUM, "<NUM>"
    )
    n_emails = F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("long")
    n_longnums = F.regexp_count(F.col("text"), F.lit(PII_LONGNUM)).cast("long")
    return docs.select(
        "doc_id",
        "lang",
        n_emails.alias("n_emails"),
        n_longnums.alias("n_longnums"),
        ((n_emails + n_longnums) > 0).alias("was_redacted"),
        F.md5(red).alias("redacted_digest"),
    )


@register(
    "docs_ngram_counts",
    oracle="""
        WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        bg AS (
            SELECT lang,
                   unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks
            WHERE len(t) >= 2
        ),
        counted AS (
            SELECT lang, bigram, count(*) AS n
            FROM bg GROUP BY lang, bigram
        )
        SELECT lang, bigram, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT lang, bigram, n,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
            FROM counted
        )
        WHERE rnk <= 5
        ORDER BY lang, rnk
    """,
    tags=("llm", "text", "ngram"),
    doc=(
        "Bigram frequency table (top-5 per language) — the n-gram counting "
        "stage of LM data analysis. Explode word bigrams (narrow map, "
        "parallelized by spread() on under-split scans), count per "
        "(lang, bigram) with map-side partial aggregation, per-group "
        "top-k via rank-filter — no global sort. The same shape scales to "
        "trillion-token n-gram tables: the shuffle carries (lang, bigram, "
        "partial count), never documents."
    ),
)
def docs_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from currency_etl_spark.sources import spread

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")), "lang")
    t = F.col("t")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    bg = (
        docs.filter(F.size(t) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
    )
    counted = bg.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    rnk = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("n"), "bigram")).cast("long")
    return (
        counted.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@register(
    "docs_repetition_score",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   {_SQL_SHINGLES.format(t='t')} AS shl
            FROM toks
        )
        SELECT doc_id,
               CAST(len(shl) AS BIGINT) AS n_shingles,
               CAST(len(list_distinct(shl)) AS BIGINT) AS n_distinct,
               CASE WHEN len(shl) = 0 THEN 0.0
                    ELSE round((len(shl) - len(list_distinct(shl)))
                               / CAST(len(shl) AS DOUBLE), 6) END AS rep_ratio
        FROM sh
        ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
    doc=(
        "Within-document repetition score — the duplicate-3-gram ratio "
        "quality signal (a la C4/Gopher filtering): fraction of a doc's "
        "word trigrams that are repeats of an earlier trigram. High ratio "
        "= boilerplate/spam/looping text. Pure narrow map (shingle array + "
        "two len()s per row, no explode, no shuffle) — at 100 TB this "
        "gates at scan speed before any dedup shuffle runs."
    ),
)
def docs_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_tokens(table(spark, sf_dir, "documents"))
    shl = _shingles(F.col("t"))
    d = docs.select(
        "doc_id",
        F.size(shl).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(shl)).cast("long").alias("n_distinct"),
    )
    return d.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        F.when(F.col("n_shingles") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("n_shingles") - F.col("n_distinct")) / F.col("n_shingles").cast("double"), 6
            )
        )
        .alias("rep_ratio"),
    )


#: Vocabulary size for the OOV-coverage stage (top-K corpus words).
VOCAB_K = 1000


@register(
    "docs_vocab_coverage",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        vocab AS (
            SELECT w FROM (
                SELECT w, ROW_NUMBER() OVER (ORDER BY count(*) DESC, w) AS rnk
                FROM words GROUP BY w
            ) WHERE rnk <= {VOCAB_K}
        )
        SELECT d.doc_id,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS oov_ratio
        FROM words d LEFT JOIN vocab v ON d.w = v.w
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """,
    tags=("llm", "text", "vocab"),
    doc=(
        f"Vocabulary coverage — per-document out-of-vocabulary rate "
        f"against the corpus top-{VOCAB_K} word vocabulary (the tokenizer-"
        "fit signal: high OOV = wrong language/encoding/domain for the "
        "vocab). Two aggregation passes: build the vocab (word counts + "
        "top-k rank), then a broadcast LEFT JOIN of exploded tokens "
        "against it — the vocab is tiny and broadcasts at any corpus "
        "scale, so coverage costs one scan + one narrow join."
    ),
)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from currency_etl_spark.sources import spread

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    words = docs.select("doc_id", F.explode("t").alias("w"))
    # top-k as orderBy+limit → TakeOrderedAndProject (per-partition heaps,
    # no single-partition global rank window), same rows as the oracle's
    # ROW_NUMBER ≤ K because the (cnt DESC, w) order is total
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(VOCAB_K)
        .select(F.col("w").alias("vw"))
    )
    joined = words.join(F.broadcast(vocab), words.w == vocab.vw, "left")
    oov = F.when(F.col("vw").isNull(), 1).otherwise(0)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup application + text-eval composites
# ---------------------------------------------------------------------------


@register(
    "docs_dedup_survivors",
    oracle=None,  # filled in right below from the dedup_clusters oracle
    tags=("llm", "dedup", "composite"),
    doc=(
        "The APPLY stage of the dedup pipeline: every document with its "
        "connected-component id and a kept flag — the canonical member "
        "(min doc_id) of each near-dup cluster survives, singletons (docs "
        "in no candidate cluster) survive by default. Composes "
        "dedup_clusters over the full corpus via a LEFT equi-join on "
        "doc_id; no broadcast hint — web-scale dedup rates make the "
        "cluster map corpus-proportional, so the planner must be free to "
        "shuffle, while AQE still broadcasts it at runtime whenever it "
        "fits (one map-side pass in that case)."
    ),
)
def docs_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = dedup_clusters(spark, sf_dir).withColumnRenamed("cluster_id", "cid")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = docs.join(clusters, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("cid", F.col("doc_id")).alias("cluster_id"),
        (F.col("cid").isNull() | (F.col("cid") == F.col("doc_id"))).alias("kept"),
    )


# the survivors oracle wraps the dedup_clusters oracle as a derived table —
# single source of truth for the recursive component walk
CATALOG["docs_dedup_survivors"].oracle = f"""
    WITH clusters AS ({CATALOG["dedup_clusters"].oracle})
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           (c.doc_id IS NULL OR c.cluster_id = d.doc_id) AS kept
    FROM documents d LEFT JOIN clusters c USING (doc_id)
    ORDER BY d.doc_id
"""


@register(
    "lang_id_confusion",
    oracle=None,  # filled in right below from the lang_id oracle
    tags=("llm", "text", "eval"),
    doc=(
        "Language-ID evaluation: the labeled-vs-predicted confusion matrix "
        "of the stopword-overlap classifier, with each cell's share of its "
        "labeled row — the text-family twin of knn_recall_report's "
        "measure-don't-guess loop. Composes lang_id; one small groupBy "
        "over (label, prediction) pairs after the narrow classify map."
    ),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    preds = lang_id(spark, sf_dir).select("labeled_lang", "predicted_lang")
    cell = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    row_total = F.sum("n_docs").over(_W.partitionBy("labeled_lang"))
    return cell.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / row_total, 6).alias("share_of_labeled"),
    )


CATALOG["lang_id_confusion"].oracle = f"""
    WITH preds AS ({CATALOG["lang_id"].oracle})
    SELECT labeled_lang, predicted_lang,
           count(*) AS n_docs,
           round(CAST(count(*) AS DOUBLE) /
                 sum(count(*)) OVER (PARTITION BY labeled_lang), 6) AS share_of_labeled
    FROM preds
    GROUP BY labeled_lang, predicted_lang
    ORDER BY labeled_lang, predicted_lang
"""


@register(
    "dedup_graph_degree_stats",
    oracle=None,  # composed below from the dedup_minhash_lsh oracle
    tags=("llm", "dedup", "graph", "eval"),
    doc=(
        "Candidate-graph degree distribution — the dedup diagnostics run "
        "BEFORE clustering: how many near-dup partners each document has, "
        "as a degree histogram. A heavy tail here means the LSH band "
        "width / DF_CAP need retuning before the pair list explodes; at "
        "100 TB this is the cheap health check (pairs are already "
        "banded+capped, the histogram is two key-only aggregations) that "
        "gates the expensive verify/cluster stages."
    ),
)
def dedup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


CATALOG["dedup_graph_degree_stats"].oracle = f"""
    WITH pairs AS ({CATALOG["dedup_minhash_lsh"].oracle}),
    ends AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM ends GROUP BY doc_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg
    GROUP BY degree
    ORDER BY degree
"""


@register(
    "docs_embedding_coverage",
    oracle="""
        SELECT d.lang,
               count(*) AS n_docs,
               CAST(count(e.vec_id) AS BIGINT) AS n_embedded,
               round(CAST(count(e.vec_id) AS DOUBLE) / count(*), 6) AS coverage,
               CAST(coalesce(sum(
                   CASE WHEN e.vec_id IS NOT NULL THEN CAST(round(sqrt(list_reduce(
                       list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE),
                       (a, b) -> a + b)) * 1000000) AS BIGINT) END), 0) AS DOUBLE)
                   / 1000000 AS sum_norms
        FROM documents d
        LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        GROUP BY d.lang
        ORDER BY d.lang
    """,
    tags=("llm", "vector", "join", "audit"),
    doc=(
        "Text↔vector store coverage audit: per language, how many "
        "documents have an embedding row (doc_id = vec_id linkage) and "
        "the summed L2 norms of the covered vectors — the join-health "
        "check run before any retrieval/dedup stage trusts the vector "
        "store. One equi-join shuffle keyed on the id; at 100 TB both "
        "sides are bucketed on the id and the join is co-located. Norm "
        "folds are index-ordered per vector (bit-identical across "
        "engines) and quantized to int64 millionths before the group "
        "sum, so the cross-partition summation is exact in any order."
    ),
)
def docs_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    # per-vector norms are bit-identical in both engines (index-ordered
    # folds); quantize each to int64 millionths BEFORE the group sum so
    # the cross-partition summation is exact integer math in any order
    # (the catalog's decimal-sum rule, in the quantize_vec convention)
    j = d.join(e, d.doc_id == e.vec_id, "left").select(
        "lang",
        "vec_id",
        F.when(
            F.col("vec_id").isNotNull(), F.round(norm * 1000000).cast("long")
        ).alias("norm_q"),
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("vec_id").alias("n_embedded"),
            F.round(F.count("vec_id").cast("double") / F.count(F.lit(1)), 6).alias(
                "coverage"
            ),
            (
                F.coalesce(F.sum("norm_q"), F.lit(0)).cast("double") / 1000000
            ).alias("sum_norms"),
        )
    )


@register(
    "dedup_incremental",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))), 1, 7)) AS BIGINT) AS x
            FROM toks
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        cand AS (
            SELECT n.doc_id AS doc_id, CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_candidates
            FROM bands_capped n JOIN bands_capped o
              ON n.band_idx = o.band_idx AND n.band_key = o.band_key
            WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
            GROUP BY n.doc_id
        ),
        dig AS (SELECT doc_id, md5(text) AS dig FROM documents),
        exact AS (
            SELECT DISTINCT nd.doc_id FROM dig nd
            WHERE nd.doc_id % 10 = 7
              AND EXISTS (SELECT 1 FROM dig od WHERE od.doc_id % 10 <> 7 AND od.dig = nd.dig)
        )
        SELECT d.doc_id,
               (e.doc_id IS NOT NULL) AS exact_dup,
               coalesce(c.n_candidates, 0) AS n_candidates,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                    WHEN coalesce(c.n_candidates, 0) > 0 THEN 'near_candidate'
                    ELSE 'unique' END AS verdict
        FROM documents d
        LEFT JOIN exact e ON e.doc_id = d.doc_id
        LEFT JOIN cand c ON c.doc_id = d.doc_id
        WHERE d.doc_id % 10 = 7
        ORDER BY d.doc_id
    """,
    tags=("llm", "dedup", "incremental"),
    doc=(
        "Incremental dedup: screen a NEW ingest batch (deterministic 10% "
        "slice, doc_id % 10 = 7) against the EXISTING corpus without ever "
        "re-pairing the corpus with itself — the shape every continuously "
        "ingesting 100 TB pipeline needs, where corpus x corpus work is "
        "O(N^2-ish) but batch x corpus is O(|batch|). Exact layer: md5 "
        "digest semi-join (new against old digests). Near layer: MinHash "
        "band keys of the batch joined against the corpus's band keys "
        "only (new x old candidate generation; corpus bands are exactly "
        "what a production system keeps as a persistent LSH index, so the "
        "corpus side is a stored-index scan, not a recompute). Per new "
        "doc: the exact flag, the distinct corpus-candidate count, and a "
        "triage verdict."
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    bands = _bands(_sig_base(spark, sf_dir))
    capped = _cap_groups(bands, ["band_idx", "band_key"])
    newb = capped.filter(F.col("doc_id") % 10 == 7).alias("n")
    oldb = capped.filter(F.col("doc_id") % 10 != 7).alias("o")
    cand = (
        newb.join(oldb, ["band_idx", "band_key"])
        .select(F.col("n.doc_id").alias("doc_id"), F.col("o.doc_id").alias("dup_of"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    dig = docs.select("doc_id", F.md5("text").alias("dig"))
    old_digests = dig.filter(~is_new).select("dig").distinct()
    exact = (
        dig.filter(is_new)
        .join(old_digests, "dig", "left_semi")
        .select("doc_id", F.lit(True).alias("hit"))
    )
    flagged = (
        docs.filter(is_new)
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(cand, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hit", F.lit(False)).alias("exact_dup"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        )
    )
    return flagged.select(
        "doc_id",
        "exact_dup",
        "n_candidates",
        F.when(F.col("exact_dup"), "exact")
        .when(F.col("n_candidates") > 0, "near_candidate")
        .otherwise("unique")
        .alias("verdict"),
    ).orderBy("doc_id")


#: Split-hash modulus: buckets 0-17 train, 18 val, 19 test (90/5/5).
SPLIT_MOD = 20


def _split_label(col: str):
    s = (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 4), 16, 10).cast("long")
        % SPLIT_MOD
    )
    return F.when(s < 18, "train").when(s == 18, "val").otherwise("test")


def _split_label_sql(col: str) -> str:
    return (
        f"CASE WHEN (CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 4)) AS BIGINT) % {SPLIT_MOD}) < 18 THEN 'train' "
        f"WHEN (CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 4)) AS BIGINT) % {SPLIT_MOD}) = 18 THEN 'val' "
        f"ELSE 'test' END"
    )


@register(
    "docs_split_leakage",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(unnest(list_distinct({_SQL_SHINGLES.format(t='t')}))), 1, 7)) AS BIGINT) AS x
            FROM toks
        ),
        sig AS (
            SELECT doc_id,
                   {_minhash_sig_sql()}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_idx, {_band_key_sql(band)} AS band_key FROM sig" for band in range(MINHASH_BANDS))}
        ),
        bands_capped AS (
            SELECT * FROM bands
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= {DF_CAP}
        ),
        near_pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_capped a JOIN bands_capped b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        dig AS (
            SELECT doc_id, md5(lower(trim(text))) AS k FROM documents
            QUALIFY count(*) OVER (PARTITION BY md5(lower(trim(text)))) <= {DF_CAP}
        ),
        exact_pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM dig a JOIN dig b ON a.k = b.k AND a.doc_id < b.doc_id
        ),
        all_pairs AS (
            SELECT 'near' AS kind, doc_a, doc_b FROM near_pairs
            UNION ALL
            SELECT 'exact' AS kind, doc_a, doc_b FROM exact_pairs
        )
        SELECT kind,
               least({_split_label_sql('doc_a')}, {_split_label_sql('doc_b')}) AS split_a,
               greatest({_split_label_sql('doc_a')}, {_split_label_sql('doc_b')}) AS split_b,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM all_pairs
        GROUP BY 1, 2, 3
        ORDER BY kind, split_a, split_b
    """,
    tags=("llm", "governance", "dedup", "split"),
    doc=(
        "Train/val/test split-leakage audit: hash-split the corpus 90/5/5 "
        "(stable md5 of doc_id), then count exact-duplicate and MinHash-"
        "LSH near-duplicate pairs by the split pair they land in — the "
        "cross-split rows are evaluation contamination (a test doc whose "
        "near-twin sits in train inflates every benchmark run on it). "
        "Complements docs_decontaminate (external benchmark vs corpus) "
        "with the INTERNAL split check. Scale shape: both pair relations "
        "are the already-bounded dedup machinery (banded LSH + df-capped "
        "posting lists), and split labels derive arithmetically from the "
        "pair's own ids — labeling needs no join against the corpus at "
        "all."
    ),
)
def docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    near = _pairs_base(spark, sf_dir).select(
        F.lit("near").alias("kind"), "doc_a", "doc_b"
    )
    dig = docs.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("k"))
    exact = (
        _cap_groups(dig, ["k"])
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
        .select(
            F.lit("exact").alias("kind"),
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
    )
    allp = near.unionByName(exact)
    return (
        allp.select(
            "kind",
            F.least(_split_label("doc_a"), _split_label("doc_b")).alias("split_a"),
            F.greatest(_split_label("doc_a"), _split_label("doc_b")).alias("split_b"),
        )
        .groupBy("kind", "split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("kind", "split_a", "split_b")
    )


@register(
    "docs_bigram_surprisal",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1]))) AS bigram
            FROM toks
            WHERE len(t) >= 2
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM bg),
        dfreq AS (SELECT bigram, count(*) AS df FROM bg GROUP BY bigram)
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               CAST(count(*) FILTER (WHERE d.df = 1) AS BIGINT) AS novel_cnt,
               CAST(sum((length(bin(n.n_docs)) - 1) - (length(bin(d.df)) - 1))
                    AS BIGINT) AS surprisal_sum,
               round(CAST(sum((length(bin(n.n_docs)) - 1) - (length(bin(d.df)) - 1))
                          AS DOUBLE) / count(*), 6) AS mean_surprisal
        FROM bg b JOIN dfreq d USING (bigram) CROSS JOIN n
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
    tags=("llm", "text", "quality", "ngram"),
    doc=(
        "Integer-exact bigram surprisal score — the LM-flavored quality "
        "signal between docs_vocab_coverage (unigram OOV) and a real "
        "perplexity filter (CCNet-style): each of a document's DISTINCT "
        "word bigrams contributes ilog2(N_docs) - ilog2(doc_freq) bits, "
        "so rare-in-corpus phrasing scores high and boilerplate scores "
        "low; novel_cnt counts bigrams seen nowhere else. ilog2 is "
        "length(bin(x)) - 1 — pure integer/string ops, shared exactly by "
        "both engines, dodging the cross-libm log() ulp lottery that "
        "makes true log-prob sums hash-fragile. Shape at 100 TB: explode "
        "distinct (doc, bigram) pairs, one shuffle on bigram for the "
        "doc-frequency table, one shuffle back on doc_id — the trillion-"
        "token n-gram-table pattern; the corpus-size scalar rides a "
        "broadcast 1-row cross join."
    ),
)
def docs_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return surprisal_base(spark, sf_dir).orderBy("doc_id")


def surprisal_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc bigram-surprisal SCORE TABLE — memoized per session/SF
    (memo tag ``surp_base``): |docs| rows x 5 narrow columns, the stored
    artifact a pipeline keeps so every consumer of the LM-quality signal
    (the surprisal report itself, the DoReMi mixture-reweight step in
    queries/training.py) reads scores instead of re-paying the
    bigram-table build. Same stored-index shape as the dedup family's
    signature memos: detection paid once per session."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    return memo_checkpoint(
        "surp_base", sf_dir, lambda: _surprisal_build(spark, sf_dir)
    )


def _surprisal_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The score table's BUILD plan (what the memo materializes once per
    session/SF) — module-level so the plan pin in tests/test_plans.py
    inspects the real geometry, not the checkpoint read."""
    from currency_etl_spark.sources import spread

    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    t = F.col("t")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    pairs = (
        docs.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(F.array_distinct(bigrams)).alias("bigram"))
    )
    n = pairs.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    ilog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731 — exact floor(log2)
    scored = pairs.join(dfreq, "bigram").crossJoin(F.broadcast(n))
    surp = ilog2(F.col("n_docs")) - ilog2(F.col("df"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count_if(F.col("df") == 1).alias("novel_cnt"),
        F.sum(surp).alias("surprisal_sum"),
        F.round(F.sum(surp).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_surprisal"
        ),
    )


#: Posting-list head length for the inverted-index build (first K doc ids
#: per term, by ascending doc_id). Shared verbatim by the oracle.
POSTING_HEAD_K = 8


def _text_tf_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored (doc_id, term, cnt) term-frequency relation — the inverted
    index's base table and the shared foundation of the whole retrieval
    family (docs_inverted_index, docs_index_lookup, docs_bm25_search,
    docs_hybrid_search_rrf — which each built it from scratch until the
    r13 bench showed the family paying the tokenize+explode+group scan
    four times per session). Memoized per session/SF (memo tag
    ``text_tf``): a production stack PERSISTS this index and the
    retrieval entries read it; only the first touch per session builds
    it. Doc length is derivable from it exactly (dl = sum(cnt) over the
    doc's terms == token count), so downstream consumers need no second
    documents scan."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
        return (
            docs.select("doc_id", F.explode("t").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return memo_checkpoint("text_tf", sf_dir, build)


def _text_df_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df) document frequencies over the stored tf relation —
    vocab-sized; memoized per session/SF (memo tag ``text_df``) because
    three retrieval entries rank or gate on it."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        return (
            _text_tf_base(spark, sf_dir)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    return memo_checkpoint("text_df", sf_dir, build)


def _text_dls_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl) document lengths over the stored tf relation —
    doc-count-sized; memoized per session/SF (memo tag ``text_dls``).
    Three retrieval families (docs_bm25_search, the hybrid arms, the
    escalation ladder) each derived this groupBy privately, and inside
    each plan it executed 2-4x (once per scoring join side plus once per
    1-row stats broadcast it feeds) — up to ~10 token-relation shuffles
    per session for one relation (guide §1.2; r16 plan audit). The 1-row
    BM25 stats aggregate stays per-entry: it reads this checkpoint, so
    it costs a doc-count-sized fold, not a token shuffle."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        return (
            _text_tf_base(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("dl"))
        )

    return memo_checkpoint("text_dls", sf_dir, build)


@register(
    "docs_inverted_index",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        agg AS (
            SELECT term,
                   count(*) AS df,
                   CAST(sum(cnt) AS BIGINT) AS tf,
                   array_to_string(list_sort(list(doc_id))[1:{POSTING_HEAD_K}], ',')
                       AS posting_head
            FROM tf GROUP BY term
        )
        SELECT term, df, tf, posting_head
        FROM agg
        ORDER BY df DESC, term
        LIMIT 20
    """,
    tags=("llm", "text", "index", "search"),
    doc=(
        "Inverted-index build — the retrieval-side artifact of a text "
        "corpus: per term, document frequency, total term frequency, and "
        "the head of the doc_id-sorted posting list. The scalable shape: "
        "the (doc, term) term-frequency relation is the MEMOIZED stored "
        "index base (memo tag text_tf, shared by the whole retrieval "
        "family — this entry IS the index build, so its first touch per "
        "session pays the one tokenize+explode+group shuffle), then one "
        "shuffle on term where a single window pass computes df + tf "
        "AND rank-caps "
        "the posting rows to K before any list is materialized — no "
        "collect_list of an unbounded hot-term posting (a stopword's "
        "posting at 100 TB is billions of ids; the cap keeps the "
        "aggregation state K-bounded, and a full index write would emit "
        "the rank-capped pages the same way)."
    ),
)
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tf = _text_tf_base(spark, sf_dir)
    w = W.partitionBy("term")
    ranked = tf.select(
        "term",
        "doc_id",
        F.count(F.lit(1)).over(w).alias("df"),
        F.sum("cnt").over(w).alias("tf"),
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
    ).filter(F.col("rn") <= POSTING_HEAD_K)
    return (
        ranked.groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.first("tf").alias("tf"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("posting_head"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


@register(
    "docs_index_lookup",
    oracle="""
        -- direct-scan evaluation of the conjunctive query the Spark side
        -- answers THROUGH posting lists: equality proves index-based
        -- retrieval returns exactly the scan's result set
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        top2 AS (
            SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rnk
            FROM dfr QUALIFY rnk <= 2
        ),
        hits AS (
            SELECT tf.doc_id,
                   max(CASE WHEN t2.rnk = 1 THEN t2.term END) AS term1,
                   max(CASE WHEN t2.rnk = 2 THEN t2.term END) AS term2,
                   CAST(max(CASE WHEN t2.rnk = 1 THEN tf.cnt END) AS BIGINT) AS tf1,
                   CAST(max(CASE WHEN t2.rnk = 2 THEN tf.cnt END) AS BIGINT) AS tf2
            FROM tf JOIN top2 t2 USING (term)
            GROUP BY tf.doc_id
            HAVING count(*) = 2
        )
        SELECT doc_id, term1, term2, tf1, tf2, tf1 + tf2 AS score
        FROM hits
        ORDER BY doc_id
    """,
    tags=("llm", "text", "index", "search"),
    doc=(
        "Conjunctive (AND) retrieval through the inverted index: the two "
        "highest-df terms are the query; their posting lists join on "
        "doc_id and only documents carrying BOTH survive, scored by "
        "summed term frequency. The Spark plan is the index route — "
        "posting rows for the two query terms (broadcast 2-row term "
        "relation) re-keyed by doc_id, a |postings|-sized intersection "
        "that never rescans text — and the oracle is the direct corpus "
        "scan: equality is the retrieval-correctness contract. At 100 TB "
        "with a stored index the same plan reads two posting ranges "
        "instead of the corpus."
    ),
)
def docs_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tf = _text_tf_base(spark, sf_dir)
    dfr = _text_df_base(spark, sf_dir)
    # top-k-first: TakeOrderedAndProject over the vocab relation, THEN a
    # 2-row window for the rank labels — never a global-sort window
    top2 = (
        dfr.orderBy(F.desc("df"), "term")
        .limit(2)
        .select("term", F.row_number().over(W.orderBy(F.desc("df"), "term")).alias("rnk"))
    )
    postings = tf.join(F.broadcast(top2), "term")
    hits = (
        postings.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("term"))).alias("term1"),
            F.max(F.when(F.col("rnk") == 2, F.col("term"))).alias("term2"),
            F.max(F.when(F.col("rnk") == 1, F.col("cnt"))).alias("tf1"),
            F.max(F.when(F.col("rnk") == 2, F.col("cnt"))).alias("tf2"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == 2)
    )
    return hits.select(
        "doc_id",
        "term1",
        "term2",
        "tf1",
        "tf2",
        (F.col("tf1") + F.col("tf2")).alias("score"),
    ).orderBy("doc_id")


#: BM25 ranking parameters (the Robertson defaults k1=1.2, b=0.75 — written
#: as the literals 2.2/1.2/0.25/0.75 in the shared formula text) and query
#: shape: the BM25_QUERY_K highest-df "content" terms (df*2 <= N, so
#: stopword-grade terms with idf ≈ 0 don't mask the ranking), disjunctive
#: (OR) retrieval, top BM25_TOP_N docs. Per-term scores quantize to 1e-6
#: int64 BEFORE the per-doc sum, so the sum is associativity-proof and the
#: final ordering is integer-backed in both engines; the only float op is
#: the per-term idf*saturation product, rounded like tfidf_top_terms.
BM25_QUERY_K = 3
BM25_TOP_N = 20


@register(
    "docs_bm25_search",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        stats AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS s_tokens FROM dls),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qterms AS (
            SELECT term, df FROM dfreq CROSS JOIN stats
            WHERE df * 2 <= nd
            ORDER BY df DESC, term
            LIMIT {BM25_QUERY_K}
        ),
        scored AS (
            SELECT tf.doc_id, d.dl,
                   CAST(round(
                       ln(1.0 + (CAST(nd AS DOUBLE) - q.df + 0.5) / (q.df + 0.5))
                       * (tf.cnt * 2.2 / (tf.cnt + 1.2 * (0.25 + 0.75 * CAST(d.dl * nd AS DOUBLE) / s_tokens)))
                       * 1000000) AS BIGINT) AS score_q
            FROM tf JOIN qterms q USING (term) JOIN dls d USING (doc_id) CROSS JOIN stats
        )
        SELECT doc_id, dl,
               CAST(count(*) AS BIGINT) AS n_hit_terms,
               CAST(sum(score_q) AS DOUBLE) / 1000000 AS bm25
        FROM scored
        GROUP BY doc_id, dl
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP_N}
    """,
    tags=("llm", "text", "index", "search"),
    doc=(
        "BM25 ranked retrieval through the inverted index (Robertson & "
        "Zaragoza 2009 defaults k1=1.2, b=0.75) — the scoring layer the "
        "decontamination and eval-retrieval stories sit on, one expression "
        "deeper than docs_index_lookup's boolean AND: the query is the "
        f"{BM25_QUERY_K} highest-df content terms (df*2 <= N filters "
        "stopword-grade terms whose idf ≈ 0), each posting row scores "
        "idf(df) * tf-saturation(cnt, dl/avgdl), and documents rank by the "
        "summed score. Determinism across engines: the per-term double "
        "product quantizes to 1e-6 int64 BEFORE the per-doc sum (integer "
        "associativity replaces float-sum order), avgdl enters as the "
        "exact rational dl*N/S evaluated in one double division, and the "
        "shared formula text keeps both engines' IEEE op sequence "
        "identical — only ln() crosses libm, behind the same 1e-6 "
        "quantization tfidf_top_terms already rides. Scale shape: tf and "
        "df are the MEMOIZED stored index relations (memo tags "
        "text_tf/text_df, shared with docs_inverted_index / "
        "docs_index_lookup / docs_hybrid_search_rrf — built once per "
        "session, exactly like a persisted index); doc lengths derive "
        "from the stored tf (dl = sum(cnt)), so the entry reads ZERO "
        "documents scans after the build; the "
        "query-term relation is top-K-bounded and broadcast; scoring is "
        "one doc_id-keyed join of the |postings_of_query|-sized hit list "
        "against doc lengths plus a 1-row stats broadcast — at 100 TB "
        "with a stored index this reads K posting ranges, never the "
        "corpus."
    ),
)
def docs_bm25_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_k: int = BM25_QUERY_K,
    top_n: int = BM25_TOP_N,
) -> DataFrame:
    """Graded defaults are the module constants; ``query_k`` (how many
    high-df content terms form the disjunctive query) and ``top_n`` (how
    many ranked docs return) are tunables for other corpora."""
    tf = _text_tf_base(spark, sf_dir)
    dfreq = _text_df_base(spark, sf_dir)
    # dl = sum(cnt) over the doc's terms == the doc's token count, so the
    # stored tf relation serves doc lengths too — zero documents scans;
    # memoized (_text_dls_base) so neither this entry nor its siblings
    # re-shuffle the token relation per consumer
    dls = _text_dls_base(spark, sf_dir)
    stats = dls.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("dl").cast("long").alias("s_tokens")
    )
    # top-K-first over the vocab relation (TakeOrderedAndProject), the
    # 1-row stats relation rides a broadcast cross join
    qterms = (
        dfreq.crossJoin(F.broadcast(stats))
        .filter(F.col("df") * 2 <= F.col("nd"))
        .orderBy(F.desc("df"), "term")
        .limit(query_k)
        .select("term", "df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("nd").cast("double") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("cnt") * F.lit(2.2)) / (
        F.col("cnt")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * (F.col("dl") * F.col("nd")).cast("double") / F.col("s_tokens")
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            F.round(idf * sat * F.lit(1000000), 0).cast("long").alias("score_q"),
        )
    )
    return (
        scored.groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("score_q").alias("sq"),
        )
        .select(
            "doc_id",
            "dl",
            "n_hit_terms",
            (F.col("sq").cast("double") / F.lit(1000000)).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(top_n)
    )


#: Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher 2009 —
#: k=60 is the published default), per-arm result depth, and the
#: lexical query width (the anchor doc's HYBRID_QUERY_K rarest terms —
#: ascending-df selection is the standard most-informative-terms rule
#: and, unlike a stopword-share gate, can never empty the query).
RRF_K = 60
HYBRID_ARM_N = 10
HYBRID_QUERY_K = 8

#: Shared CTE chain of the hybrid-retrieval oracle — single definition
#: for docs_hybrid_search_rrf and its semantic-health eval
#: (docs_hybrid_eval), so the two graded views of the same retrieval can
#: never drift. Exposes: lex/sem (each arm's exact ranked top-N) and
#: fused (the RRF pool with rrf_q on the 1e9 int lattice).
_SQL_HYBRID_CTES = f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        stats AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS s_tokens FROM dls),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qterms AS (
            SELECT tf.term, d.df
            FROM tf JOIN dfreq d USING (term)
            WHERE tf.doc_id = 0
            ORDER BY d.df, tf.term
            LIMIT {HYBRID_QUERY_K}
        ),
        scored AS (
            SELECT tf.doc_id,
                   CAST(round(
                       ln(1.0 + (CAST(nd AS DOUBLE) - q.df + 0.5) / (q.df + 0.5))
                       * (tf.cnt * 2.2 / (tf.cnt + 1.2 * (0.25 + 0.75 * CAST(d.dl * nd AS DOUBLE) / s_tokens)))
                       * 1000000) AS BIGINT) AS score_q
            FROM tf JOIN qterms q USING (term) JOIN dls d USING (doc_id) CROSS JOIN stats
            WHERE tf.doc_id <> 0
        ),
        lex_top AS (
            SELECT doc_id, CAST(sum(score_q) AS BIGINT) AS score
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT {HYBRID_ARM_N}
        ),
        lex AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
            FROM lex_top
        ),
        qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        sem_top AS (
            SELECT e.vec_id AS doc_id,
                   round(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::DOUBLE * qe[i]::DOUBLE), (x, y) -> x + y)
                         / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x, y) -> x + y))
                            * sqrt(list_reduce(list_transform(generate_series(1, len(qe)), i -> qe[i]::DOUBLE * qe[i]::DOUBLE), (x, y) -> x + y))), 6) AS cos_sim
            FROM embeddings e, qv WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, doc_id LIMIT {HYBRID_ARM_N}
        ),
        sem AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
            FROM sem_top
        ),
        fused AS (
            SELECT doc_id,
                   CAST(l.lex_rank AS BIGINT) AS lex_rank,
                   CAST(s.sem_rank AS BIGINT) AS sem_rank,
                   COALESCE(CAST(round(1000000000.0 / ({RRF_K} + l.lex_rank)) AS BIGINT), 0)
                 + COALESCE(CAST(round(1000000000.0 / ({RRF_K} + s.sem_rank)) AS BIGINT), 0) AS rrf_q
            FROM lex l FULL JOIN sem s USING (doc_id)
        )"""


@register(
    "docs_hybrid_search_rrf",
    oracle=f"""
        WITH {_SQL_HYBRID_CTES}
        SELECT doc_id, lex_rank, sem_rank,
               CAST(rrf_q AS DOUBLE) / 1000000000 AS rrf
        FROM fused
        ORDER BY rrf DESC, doc_id
    """,
    tags=("llm", "text", "vector", "search"),
    doc=(
        "Hybrid retrieval with reciprocal-rank fusion — the two-arm "
        "search every production stack ships (Elasticsearch/OpenSearch "
        "hybrid mode: BM25 + kNN fused by RRF; Cormack et al. 2009, "
        f"k={RRF_K} published default): a 'more-like-this' query anchored "
        "on document 0, answered by BOTH retrieval modalities over the "
        f"same corpus and fused rank-wise. Lexical arm: doc 0's "
        f"{HYBRID_QUERY_K} RAREST terms (ascending document frequency — "
        "the standard most-informative-terms selection, never empty "
        "whatever the anchor doc's vocabulary) form the disjunctive "
        "query, candidates score by the IDENTICAL "
        "BM25 formula text (k1=1.2, b=0.75, per-term 1e-6 int64 "
        "quantization before the per-doc sum — the proven determinism "
        f"recipe), top-{HYBRID_ARM_N} by integer score. Semantic arm: "
        "cosine to doc 0's embedding (the 1:1 doc_id = vec_id linkage "
        f"docs_embedding_coverage audits), round-6 keyed, top-"
        f"{HYBRID_ARM_N}. Fusion: per arm 1e9-quantized 1/(k + rank) as "
        "exact int64, summed (absent arm contributes 0), ranks carried "
        "in the output so a reader sees WHY a doc fused high — lexical "
        "overlap, embedding proximity, or both. Scale shape: tf/df are "
        "the MEMOIZED stored index relations (memo tags text_tf/text_df, "
        "shared across the retrieval family); doc lengths derive from "
        "the stored tf (dl = sum(cnt)); the query-term "
        "relation is bounded by one document's vocabulary and broadcast; "
        "each arm truncates via sort-limit (TakeOrderedAndProject) "
        "BEFORE its ranking window, so both windows order 10-row "
        "relations (allowlisted bounded global windows); the fusion join "
        f"is {HYBRID_ARM_N}x{HYBRID_ARM_N}-bounded. The one libm ln() "
        "sits behind the 1e-6 quantization; the RRF reciprocals are "
        "single IEEE divisions rounded onto the 1e9 lattice in both "
        "engines."
    ),
)
def docs_hybrid_search_rrf(
    spark: SparkSession, sf_dir: str, *, arm_n: int = HYBRID_ARM_N
) -> DataFrame:
    """Graded default is the module constant; ``arm_n`` is each arm's
    result depth (the fusion pool is at most 2 x arm_n docs)."""
    lex, sem = _hybrid_arms(spark, sf_dir, arm_n)
    return _hybrid_fused(lex, sem).orderBy(F.desc("rrf"), "doc_id")


def _hybrid_arms(spark: SparkSession, sf_dir: str, arm_n: int):
    """The two exact ranked arm relations (lex: doc_id, lex_rank; sem:
    doc_id, sem_rank) of the hybrid retrieval — SINGLE definition shared
    by docs_hybrid_search_rrf and docs_hybrid_eval, mirroring
    _SQL_HYBRID_CTES on the oracle side. Each arm is exact brute force
    over its modality (full BM25 scoring of every candidate / full
    cosine over every embedding) truncated by sort-limit."""
    from pyspark.sql import Window as W

    from currency_etl_spark.queries.vectors import _cosine

    tf = _text_tf_base(spark, sf_dir)
    dfreq = _text_df_base(spark, sf_dir)
    # dl from the stored tf (sum(cnt) == token count) — zero documents
    # scans; memoized (_text_dls_base), shared across the BM25 entries
    dls = _text_dls_base(spark, sf_dir)
    stats = dls.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("dl").cast("long").alias("s_tokens")
    )
    qterms = (
        tf.filter(F.col("doc_id") == 0)
        .select("term")
        .join(dfreq, "term")
        .orderBy("df", "term")
        .limit(HYBRID_QUERY_K)
        .select("term", "df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("nd").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("cnt") * F.lit(2.2)) / (
        F.col("cnt")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * (F.col("dl") * F.col("nd")).cast("double")
            / F.col("s_tokens")
        )
    )
    scored = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qterms), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * sat * F.lit(1000000), 0).cast("long").alias("score_q"),
        )
    )
    lex_top = (
        scored.groupBy("doc_id")
        .agg(F.sum("score_q").cast("long").alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(arm_n)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score"), "doc_id"))
        .cast("long")
        .alias("lex_rank"),
    )
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    sem_top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(_cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(arm_n)
    )
    sem = sem_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("cos_sim"), "doc_id"))
        .cast("long")
        .alias("sem_rank"),
    )
    return lex, sem


def _hybrid_fused(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF fusion of the two ranked arms (shared with docs_hybrid_eval):
    per arm 1e9-quantized 1/(RRF_K + rank) as exact int64, summed with
    an absent arm contributing 0."""
    rk = F.lit(float(RRF_K))
    arm = lambda c: F.coalesce(  # noqa: E731 — 1e9-lattice reciprocal rank
        F.round(F.lit(1000000000.0) / (rk + F.col(c)), 0).cast("long"), F.lit(0)
    )
    return lex.join(sem, ["doc_id"], "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        ((arm("lex_rank") + arm("sem_rank")).cast("double") / F.lit(1000000000.0)).alias(
            "rrf"
        ),
    )


@register(
    "docs_hybrid_eval",
    oracle=f"""
        WITH {_SQL_HYBRID_CTES},
        fh AS (
            SELECT doc_id FROM fused ORDER BY rrf_q DESC, doc_id
            LIMIT {HYBRID_ARM_N}
        )
        SELECT CAST({HYBRID_ARM_N} AS BIGINT) AS k,
               (SELECT CAST(count(*) AS BIGINT) FROM lex) AS n_lex,
               (SELECT CAST(count(*) AS BIGINT) FROM sem) AS n_sem,
               (SELECT CAST(count(*) AS BIGINT) FROM fused) AS n_fused,
               (SELECT CAST(count(*) AS BIGINT) FROM fh JOIN lex USING (doc_id))
                   AS lex_overlap,
               (SELECT CAST(count(*) AS BIGINT) FROM fh JOIN sem USING (doc_id))
                   AS sem_overlap,
               (SELECT CAST(count(*) AS BIGINT) FROM lex JOIN sem USING (doc_id))
                   AS both_arms,
               round((SELECT count(*) FROM fh JOIN lex USING (doc_id))
                     / CAST({HYBRID_ARM_N} AS DOUBLE), 6) AS lex_overlap_at_k,
               round((SELECT count(*) FROM fh JOIN sem USING (doc_id))
                     / CAST({HYBRID_ARM_N} AS DOUBLE), 6) AS sem_overlap_at_k
    """,
    tags=("llm", "text", "vector", "search", "eval"),
    doc=(
        "Retrieval semantic-health eval — the rung that closes the "
        "hybrid-search loop the way dedup_lsh_recall closed dedup's; "
        "it exists because ORACLE AGREEMENT IS "
        "NOT SEMANTIC HEALTH: the hybrid entry's first-cut stopword gate "
        "emptied its lexical arm at sf0.01 while both engines happily "
        "matched on the degenerate result. Over the SHARED arm/fusion "
        "definitions (_hybrid_arms/_hybrid_fused, oracle twin "
        "_SQL_HYBRID_CTES — the eval and the entry it grades can never "
        "drift): each arm's result count (n_lex/n_sem — the "
        "non-emptiness columns that would have read 0 during the "
        "stopword incident), the fused pool size, and overlap@k of the "
        f"fused top-{HYBRID_ARM_N} against each arm's exact brute-force "
        f"top-{HYBRID_ARM_N} — RRF's defining property is that both "
        "modalities keep representation in the head, so an overlap "
        "collapsing to 0 on either side means one arm has silently "
        "taken over (or died). both_arms counts the docs the two "
        "modalities independently agree on — the strongest relevance "
        "signal a label-free eval can extract. Scale shape: every input "
        "relation here is arm-bounded (<= 2 x arm_n rows, broadcast "
        "1-row aggregates); the expensive work is the arms themselves, "
        "which are the entry under evaluation, served from the memoized "
        "text_tf/text_df stored indexes. Exact integer counts; the two "
        "round-6 shares are single IEEE divisions by the literal k."
    ),
)
def docs_hybrid_eval(
    spark: SparkSession, sf_dir: str, *, k: int = HYBRID_ARM_N
) -> DataFrame:
    """Graded default is the module constant; ``k`` is both the arm
    depth and the fused-head depth the overlap is taken at."""
    from currency_etl_spark.operators.ckpt import swap_checkpoint

    lex, sem = _hybrid_arms(spark, sf_dir, k)
    # six count branches consume the arms — unchecked, each branch
    # re-executes the full BM25/cosine arm lineage; checkpoint the two
    # k-row ranked lists so each arm runs ONCE per eval (one-live-per-
    # tag release discipline; the relations are arm-bounded)
    lex = swap_checkpoint("hybrid_lex", lex)
    sem = swap_checkpoint("hybrid_sem", sem)
    fused = _hybrid_fused(lex, sem)
    fh = fused.orderBy(F.desc("rrf"), "doc_id").limit(k).select("doc_id")

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    out = (
        cnt(lex, "n_lex")
        .crossJoin(cnt(sem, "n_sem"))
        .crossJoin(cnt(fused, "n_fused"))
        .crossJoin(cnt(fh.join(lex, "doc_id"), "lex_overlap"))
        .crossJoin(cnt(fh.join(sem, "doc_id"), "sem_overlap"))
        .crossJoin(cnt(lex.join(sem, "doc_id"), "both_arms"))
    )
    kd = F.lit(float(k))
    return out.select(
        F.lit(k).cast("long").alias("k"),
        "n_lex",
        "n_sem",
        "n_fused",
        "lex_overlap",
        "sem_overlap",
        "both_arms",
        F.round(F.col("lex_overlap").cast("double") / kd, 6).alias(
            "lex_overlap_at_k"
        ),
        F.round(F.col("sem_overlap").cast("double") / kd, 6).alias(
            "sem_overlap_at_k"
        ),
    )


def _text_batch_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, cnt) of the ARRIVING batch slice (doc_id % 10 = 7)
    — the maintenance family's shared input (text_index_staleness audits
    it, text_index_merge folds it into the stored index). Memoized
    (batch-sized, keyed on sf_dir) so the batch's documents slice is
    tokenized ONCE per session/SF and every sibling maintenance entry
    reuses the same materialized relation, under the one-live-per-tag
    release discipline (the knn_index_staleness probe-relation pattern;
    a plain swap_checkpoint would re-tokenize per consumer)."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    return memo_checkpoint(
        "text_batch_tf",
        sf_dir,
        lambda: _with_tokens(
            spread(table(spark, sf_dir, "documents")).filter(
                F.col("doc_id") % 10 == 7
            )
        )
        .select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt")),
    )



#: Head length of the per-side top-term lists the staleness audit
#: compares (df-ranked; ties to the lexicographically smaller term).
TEXT_STALE_TOP = 50


@register(
    "text_index_staleness",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        stored AS (SELECT * FROM tf WHERE doc_id % 10 <> 7),
        btf AS (SELECT * FROM tf WHERE doc_id % 10 = 7),
        sdf AS (SELECT term, count(*) AS df FROM stored GROUP BY term),
        bstat AS (
            SELECT term, count(*) AS dfb, CAST(sum(cnt) AS BIGINT) AS tok
            FROM btf GROUP BY term
        ),
        sg AS (
            SELECT count(DISTINCT doc_id) AS nd,
                   CAST(sum(cnt) AS BIGINT) AS s_tok
            FROM stored
        ),
        bg AS (
            SELECT count(DISTINCT doc_id) AS nd,
                   CAST(sum(cnt) AS BIGINT) AS s_tok
            FROM btf
        ),
        sv AS (SELECT count(*) AS v FROM sdf),
        bv AS (SELECT count(*) AS v FROM bstat),
        oov AS (
            SELECT count(*) AS terms,
                   COALESCE(CAST(sum(tok) AS BIGINT), 0) AS tok
            FROM bstat b
            WHERE NOT EXISTS (SELECT 1 FROM sdf s WHERE s.term = b.term)
        ),
        tops AS (
            SELECT term FROM sdf ORDER BY df DESC, term LIMIT {TEXT_STALE_TOP}
        ),
        topb AS (
            SELECT term FROM bstat ORDER BY dfb DESC, term LIMIT {TEXT_STALE_TOP}
        ),
        tn AS (
            SELECT least((SELECT count(*) FROM tops),
                         (SELECT count(*) FROM topb)) AS n
        ),
        ovl AS (SELECT count(*) AS n FROM tops JOIN topb USING (term))
        SELECT CAST(sg.nd AS BIGINT) AS n_index_docs,
               CAST(bg.nd AS BIGINT) AS n_batch_docs,
               CAST(sv.v AS BIGINT) AS index_vocab,
               CAST(bv.v AS BIGINT) AS batch_vocab,
               CAST(oov.terms AS BIGINT) AS oov_terms,
               round(CAST(oov.tok AS DOUBLE) / bg.s_tok, 6) AS oov_token_share,
               round(CAST(sg.s_tok AS DOUBLE) / sg.nd, 6) AS avg_dl_index,
               round(CAST(bg.s_tok AS DOUBLE) / bg.nd, 6) AS avg_dl_batch,
               CAST(ovl.n AS BIGINT) AS top_overlap,
               (oov.tok * 5 > bg.s_tok
                OR ovl.n * 2 < tn.n
                OR CAST(bg.s_tok AS DECIMAL(18,0)) * CAST(sg.nd AS DECIMAL(18,0)) * 2
                   < CAST(sg.s_tok AS DECIMAL(18,0)) * CAST(bg.nd AS DECIMAL(18,0))
                OR CAST(bg.s_tok AS DECIMAL(18,0)) * CAST(sg.nd AS DECIMAL(18,0))
                   > CAST(sg.s_tok AS DECIMAL(18,0)) * CAST(bg.nd AS DECIMAL(18,0)) * 2) AS rebuild
        FROM sg, bg, sv, bv, oov, ovl, tn
    """,
    tags=("llm", "text", "search", "eval", "incremental"),
    doc=(
        "Text-index staleness audit — the maintenance rung the IVF "
        "family already has (knn_index_staleness / knn_incremental), "
        "now for the retrieval family's stored text index (round-13 "
        "verdict item 4): text_tf/text_df became persisted serving "
        "artifacts in r13, and a serving index needs the "
        "batch-vs-stored-artifact drift check that tells the pipeline "
        "WHEN to rebuild. The arriving batch is the standard "
        "deterministic 10% slice (doc_id % 10 = 7, dedup_incremental's "
        "convention); the stored side is the MEMOIZED tf relation "
        "pruned to pre-batch docs — the one documents scan in the plan "
        "is the batch's own tokenization (plan-pinned). Drift signals, "
        "each a production rebuild trigger: OOV mass (batch token "
        "occurrences whose term the stored vocab lacks — BM25 can't "
        "score what the index never saw), document-length drift (batch "
        "avg dl vs stored avg dl — BM25's length normalization degrades "
        f"when dl shifts), and top-{TEXT_STALE_TOP} df-ranked term-set "
        "overlap (topical drift of the head vocabulary). The rebuild "
        "flag fires on any of: OOV token share > 20%, head overlap "
        "below half, avg dl outside [0.5x, 2x] — all evaluated as "
        "EXACT cross-multiplications (oov*5 > tok, ovl*2 < n, and the dl "
        "band 2*sb*ni < si*nb in decimal(38,0) — int64 token×doc "
        "products could wrap in Spark but raise in DuckDB at extreme "
        "scale), so the decision itself is bit-reproducible; "
        "the two round-6 averages and the share are single IEEE "
        "divisions of exact int64 totals. Scale shape: every relation "
        "is vocab- or batch-sized; the stored side reads the checkpoint "
        "(no corpus re-tokenization); the top lists truncate by "
        "sort-limit before the bounded overlap join."
    ),
)
def text_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _text_tf_base(spark, sf_dir)
    stored = tf.filter(F.col("doc_id") % 10 != 7)
    # the batch tf feeds five audit branches (globals, vocab, OOV, top
    # list, and the per-term stats) — the shared checkpointed build
    batch_tf = _text_batch_tf(spark, sf_dir)
    sdf = stored.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bstat = batch_tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("dfb"), F.sum("cnt").cast("long").alias("tok")
    )

    def globals_of(rel: DataFrame) -> DataFrame:
        return rel.groupBy("doc_id").agg(F.sum("cnt").alias("dl")).agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum("dl").cast("long").alias("s_tok"),
        )

    sg = globals_of(stored).select(
        F.col("nd").alias("s_nd"), F.col("s_tok").alias("s_stok")
    )
    bg = globals_of(batch_tf).select(
        F.col("nd").alias("b_nd"), F.col("s_tok").alias("b_stok")
    )
    sv = sdf.agg(F.count(F.lit(1)).cast("long").alias("index_vocab"))
    bv = bstat.agg(F.count(F.lit(1)).cast("long").alias("batch_vocab"))
    oov = (
        bstat.join(sdf, "term", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("oov_terms"),
            F.coalesce(F.sum("tok"), F.lit(0)).cast("long").alias("oov_tok"),
        )
    )
    tops = sdf.orderBy(F.desc("df"), "term").limit(TEXT_STALE_TOP).select("term")
    topb = bstat.orderBy(F.desc("dfb"), "term").limit(TEXT_STALE_TOP).select("term")
    tn = tops.agg(F.count(F.lit(1)).alias("nt")).crossJoin(
        topb.agg(F.count(F.lit(1)).alias("nb"))
    ).select(F.least("nt", "nb").cast("long").alias("tn"))
    ovl = tops.join(topb, "term").agg(
        F.count(F.lit(1)).cast("long").alias("top_overlap")
    )
    out = (
        sg.crossJoin(bg)
        .crossJoin(sv)
        .crossJoin(bv)
        .crossJoin(oov)
        .crossJoin(ovl)
        .crossJoin(tn)
    )
    # dl band-check cross-multiplications in decimal: token
    # and doc totals are each comfortably < 1e18, but their int64 PRODUCT
    # can exceed 2^63 at extreme corpus scale — where Spark would silently
    # wrap while DuckDB raises, a latent engine divergence in the exact-
    # comparison contract. decimal(18,0) operands make the product
    # decimal(37,0) and the doubling decimal(38,0): exact on both engines
    # (the repo's decimal-sum determinism convention).
    def _d(c: str):
        return F.col(c).cast("decimal(18,0)")

    rebuild = (
        (F.col("oov_tok") * 5 > F.col("b_stok"))
        | (F.col("top_overlap") * 2 < F.col("tn"))
        | (_d("b_stok") * _d("s_nd") * 2 < _d("s_stok") * _d("b_nd"))
        | (_d("b_stok") * _d("s_nd") > _d("s_stok") * _d("b_nd") * 2)
    )
    return out.select(
        F.col("s_nd").alias("n_index_docs"),
        F.col("b_nd").alias("n_batch_docs"),
        "index_vocab",
        "batch_vocab",
        "oov_terms",
        F.round(F.col("oov_tok").cast("double") / F.col("b_stok"), 6).alias(
            "oov_token_share"
        ),
        F.round(F.col("s_stok").cast("double") / F.col("s_nd"), 6).alias(
            "avg_dl_index"
        ),
        F.round(F.col("b_stok").cast("double") / F.col("b_nd"), 6).alias(
            "avg_dl_batch"
        ),
        "top_overlap",
        rebuild.alias("rebuild"),
    )


@register(
    "text_index_merge",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        touched AS (SELECT DISTINCT term FROM tf WHERE doc_id % 10 = 7),
        sdf AS (
            SELECT term, count(*) AS df FROM tf
            WHERE doc_id % 10 <> 7 GROUP BY term
        ),
        agg AS (
            SELECT tf.term, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(cnt) AS BIGINT) AS tf,
                   array_to_string(list_sort(list(doc_id))[1:{POSTING_HEAD_K}], ',')
                       AS posting_head
            FROM tf JOIN touched USING (term) GROUP BY tf.term
        )
        SELECT a.term,
               CASE WHEN s.term IS NULL THEN 'new' ELSE 'grown' END AS term_class,
               a.df, a.tf, a.posting_head
        FROM agg a LEFT JOIN sdf s USING (term)
        ORDER BY a.term
    """,
    tags=("llm", "text", "index", "incremental"),
    doc=(
        "Incremental index merge — the ACTION text_index_staleness's "
        "audit decides on, completing the text side of the "
        "decision->action pair the vector family has "
        "(knn_index_staleness -> knn_incremental): fold the arriving "
        "batch's postings into the STORED index and emit the delta "
        "pages an index store writes back — for every term the batch "
        "TOUCHED, the merged document frequency, total term frequency, "
        f"and the first-{POSTING_HEAD_K} doc_id-sorted posting head "
        "(docs_inverted_index's page convention, same rank-cap — the "
        "aggregation state stays K-bounded however hot the term), plus "
        "the term's maintenance class ('new' = the batch introduced it, "
        "'grown' = postings appended to an existing page). THE ORACLE "
        "IS THE CONTRACT: the Spark side computes every page through "
        "the MERGE path (stored checkpoint unioned with the batch "
        "checkpoint — doc-disjoint slices, a shuffle-free union), while "
        "the DuckDB side computes the same pages from a from-scratch "
        "REBUILD of the full corpus index; the driver's exact hash "
        "compare is therefore the merge-equals-rebuild proof, the "
        "invariant every incremental index maintainer must hold. Scale "
        "shape: output and all post-union work are bounded by the "
        "BATCH's vocabulary (the touched-term semi-join prunes the "
        "stored side before the window); the stored relation reads the "
        "text_tf memo, the batch reads its shared checkpoint "
        "(_text_batch_tf, tokenized once for the whole maintenance "
        "family); zero parquet scans in the final plan."
    ),
)
def text_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tf = _text_tf_base(spark, sf_dir)
    stored = tf.filter(F.col("doc_id") % 10 != 7)
    batch = _text_batch_tf(spark, sf_dir)
    touched = batch.select("term").distinct()
    sdf = stored.groupBy("term").agg(F.count(F.lit(1)).alias("df_stored"))
    merged = stored.unionByName(batch).join(F.broadcast(touched), "term")
    w = W.partitionBy("term")
    ranked = merged.select(
        "term",
        "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("df"),
        F.sum("cnt").over(w).cast("long").alias("tf"),
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
    ).filter(F.col("rn") <= POSTING_HEAD_K)
    pages = ranked.groupBy("term").agg(
        F.first("df").alias("df"),
        F.first("tf").alias("tf"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
            "posting_head"
        ),
    )
    return (
        pages.join(sdf, "term", "left")
        .select(
            "term",
            F.when(F.col("df_stored").isNull(), F.lit("new"))
            .otherwise(F.lit("grown"))
            .alias("term_class"),
            "df",
            "tf",
            "posting_head",
        )
        .orderBy("term")
    )


@register(
    "text_index_compact",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        touched AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df_removed
            FROM tf WHERE doc_id % 10 = 3 GROUP BY term
        ),
        live AS (
            SELECT tf.term, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(cnt) AS BIGINT) AS tf,
                   array_to_string(list_sort(list(doc_id))[1:{POSTING_HEAD_K}], ',')
                       AS posting_head
            FROM tf JOIN touched USING (term)
            WHERE doc_id % 10 <> 3
            GROUP BY tf.term
        )
        SELECT t.term, t.df_removed,
               COALESCE(l.df, 0) AS df,
               COALESCE(l.tf, 0) AS tf,
               COALESCE(l.posting_head, '') AS posting_head,
               (l.term IS NULL) AS vocab_lost
        FROM touched t LEFT JOIN live l USING (term)
        ORDER BY t.term
    """,
    tags=("llm", "text", "index", "incremental"),
    doc=(
        "Index compaction — the text-side DELETE verb, the mirror of "
        "text_index_merge's insert contract and the compaction "
        "knn_tombstone_screen's serve-time mask defers to: a "
        "deterministic slice (doc_id % 10 = 3) deletes from the corpus "
        "and the compactor REWRITES the affected posting pages from the "
        "stored index — for every term the deleted docs carried, the "
        "postings removed (df_removed), the surviving page (live df, "
        "total tf, the rank-capped first-{K} doc_id-sorted posting "
        "head — same page convention as the index build and the merge), "
        "and the vocab_lost flag when a term's last posting died "
        "(COALESCEd zero-rows, not silent absence — vocabulary loss is "
        "a signal downstream BM25 scoring needs). THE ORACLE IS THE "
        "CONTRACT, symmetric to the merge entry: the Spark side "
        "computes pages by SUBTRACTING from the stored artifact (the "
        "memoized tf checkpoint anti-masked on the deleted slice — no "
        "corpus re-tokenization), the DuckDB side REBUILDS the pages "
        "from the surviving documents from scratch; the driver's exact "
        "hash compare is the compaction-equals-rebuild proof. Scale "
        "shape: output and all post-mask work are bounded by the "
        "DELETED docs' vocabulary (the touched-term broadcast semi-join "
        "prunes before the term window); the one relation scanned is "
        "the stored checkpoint; zero parquet scans in the final plan."
    ).replace("{K}", str(POSTING_HEAD_K)),
)
def text_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tf = _text_tf_base(spark, sf_dir)
    deleted = tf.filter(F.col("doc_id") % 10 == 3)
    touched = deleted.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_removed")
    )
    live = tf.filter(F.col("doc_id") % 10 != 3).join(
        F.broadcast(touched.select("term")), "term"
    )
    w = W.partitionBy("term")
    ranked = live.select(
        "term",
        "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("df"),
        F.sum("cnt").over(w).cast("long").alias("tf"),
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
    ).filter(F.col("rn") <= POSTING_HEAD_K)
    pages = ranked.groupBy("term").agg(
        F.first("df").alias("df"),
        F.first("tf").alias("tf"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
            "posting_head"
        ),
    )
    return (
        touched.join(pages, "term", "left")
        .select(
            "term",
            "df_removed",
            F.coalesce("df", F.lit(0)).cast("long").alias("df"),
            F.coalesce("tf", F.lit(0)).cast("long").alias("tf"),
            F.coalesce("posting_head", F.lit("")).alias("posting_head"),
            F.col("df").isNull().alias("vocab_lost"),
        )
        .orderBy("term")
    )


@register(
    "docs_skipgram_pairs",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        pos AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
            FROM toks
        ),
        pairs AS (
            SELECT t[i] AS center, t[i + o] AS context
            FROM pos, (SELECT unnest([-2, -1, 1, 2]) AS o)
            WHERE i + o >= 1 AND i + o <= len(t)
        ),
        counted AS (SELECT center, context, count(*) AS n FROM pairs GROUP BY 1, 2)
        SELECT center, context, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT center, context, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, center, context) AS rnk
            FROM counted
        )
        WHERE rnk <= 20
        ORDER BY rnk
    """,
    tags=("llm", "text", "udtf", "embedding"),
    doc=(
        "Skip-gram (center, context) pair extraction — the word2vec/"
        "embedding training-data prep stage: every token pairs with its "
        "±2-window neighbors, pairs count corpus-wide, top-20 by "
        "frequency. Deliberately implemented through a Python UDTF "
        "(arrow-optimized, lateral-joined) rather than explode+sequence: "
        "this entry covers the Spark 4 user-defined TABLE function "
        "surface — the extension point for variable-output-per-row "
        "logic that can't be a scalar UDF — and the catalog's explode-"
        "based entries (docs_ngram_counts, docs_chunk_tokens) show the "
        "builtin route the hot path should prefer. Scale shape is the "
        "n-gram-table one: the UDTF emits pairs partition-locally, the "
        "only exchange carries (center, context, partial count), and the "
        "top-k is a TakeOrderedAndProject."
    ),
)
def docs_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    from currency_etl_spark.sources import spread

    # defined inside the entry so cloudpickle ships it by value — worker
    # processes never re-import this module for the UDTF (the
    # streaming_scd2 lesson, see verify skill notes)
    @udtf(returnType="center string, context string", useArrow=True)
    class SkipGrams:
        def eval(self, text: str):
            if text is None:
                return
            t = text.split(" ")
            n = len(t)
            for i in range(n):
                for o in (-2, -1, 1, 2):
                    j = i + o
                    if 0 <= j < n:
                        yield t[i], t[j]

    spark.udtf.register("skip_grams", SkipGrams)
    docs = spread(table(spark, sf_dir, "documents")).select("text")
    docs.createOrReplaceTempView("___skipgram_docs")
    pairs = spark.sql(
        "SELECT sg.center, sg.context "
        "FROM ___skipgram_docs d, LATERAL skip_grams(d.text) sg"
    )
    counted = pairs.groupBy("center", "context").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    top = (
        counted.orderBy(F.desc("n"), "center", "context")
        .limit(20)
        .withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.desc("n"), "center", "context")).cast("long"),
        )
    )
    return top.orderBy("rnk")


@register(
    "docs_shingle_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct({_SQL_SHINGLES.format(t='t')})) AS s
            FROM toks
        ),
        first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
        per AS (
            SELECT sh.doc_id, count(*) AS n_shingles,
                   sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM sh JOIN first f USING (s)
            GROUP BY sh.doc_id
        )
        SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_novel AS BIGINT) AS n_novel,
               round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
        FROM per
        ORDER BY doc_id
    """,
    tags=("text", "dedup", "novelty"),
    doc=(
        "Per-document shingle novelty: the share of a document's distinct "
        "word 3-grams whose FIRST occurrence (by doc_id order) is that "
        "document — the marginal-contribution curve of a growing corpus. "
        "Novelty ~0 marks documents whose content already exists "
        "upstream (the soft-dedup complement to dedup_exact: duplicates "
        "score 0 without any pair generation), and the corpus-level "
        "novelty trend is the 'is new data still new' dashboard. One "
        "shingle explode, one min-agg keyed on shingle (map-side partial "
        "min), one join back on shingle — never doc×doc. At 100 TB the "
        "shingle dictionary is the big relation; it hash-partitions on "
        "the shingle and the min-doc fold is mergeable across batches. "
        "Documents under 3 tokens have no shingles and no row."
    ),
)
def docs_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = spread(table(spark, sf_dir, "documents"))
    tok = _with_tokens(docs)
    sh = tok.select(
        "doc_id", F.explode(F.array_distinct(_shingles(F.col("t")))).alias("s")
    )
    # first-claimant via a min() window on the shingle key instead of a
    # groupBy + join-back: the join form executed the scan + tokenize +
    # shingle explode subtree TWICE (once per join side) and shuffled the
    # exploded relation on s twice — the window form is one execution and
    # one s-keyed exchange, with identical per-row first_doc values
    # (guide §2.4: two operations keyed the same way share one exchange;
    # r16 plan audit: 2 documents scans → 1)
    first_doc = F.min("doc_id").over(W.partitionBy("s"))
    per = (
        sh.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
            "novelty"
        ),
    ).orderBy("doc_id")


@register(
    "docs_importance_weights",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        tw AS (
            SELECT w, count(*) AS t_w FROM toks WHERE lang <> 'en' GROUP BY w
        ),
        cw AS (SELECT w, count(*) AS c_w FROM toks GROUP BY w),
        sw AS (
            SELECT cw.w,
                   (length(bin(coalesce(tw.t_w, 0) + 1)) - 1)
                   - (length(bin(cw.c_w + 1)) - 1) AS s_w
            FROM cw LEFT JOIN tw ON cw.w = tw.w
        ),
        per AS (
            SELECT t.doc_id, max(t.lang) AS lang,
                   count(*) AS n_tokens,
                   CAST(sum(sw.s_w) AS BIGINT) AS imp_sum
            FROM toks t JOIN sw ON t.w = sw.w
            GROUP BY t.doc_id
        )
        SELECT doc_id, lang, n_tokens, imp_sum,
               round(CAST(imp_sum AS DOUBLE) / n_tokens, 6) AS mean_importance
        FROM per
        ORDER BY round(CAST(imp_sum AS DOUBLE) / n_tokens, 6) DESC, doc_id
        LIMIT 25
    """,
    tags=("llm", "curation", "selection"),
    doc=(
        "DSIR-flavored importance weighting for data selection: each "
        "token contributes ilog2(target_count+1) - ilog2(corpus_count+1) "
        "bits (target = the non-English slice standing in for a quality "
        "domain), and documents ranked by mean token importance are the "
        "ones importance resampling would favor — the hashed-n-gram "
        "log-ratio scheme of Xie et al. 2023 reduced to the module's "
        "integer-exact ilog2 (length(bin(x))-1, shared verbatim by both "
        "engines — no cross-libm log() drift). Shape at 100 TB: two "
        "partial-agg count passes collapse the token stream to the "
        "vocab-sized weight table, which shuffle-joins back onto the "
        "exploded tokens on the word key — NOT broadcast (round-5 "
        "advice: real corpora have vocabularies far beyond broadcast "
        "limits; AQE may still pick broadcast when the table measures "
        "small). The production scale path is DSIR's own trick — hash "
        "n-grams into a fixed bucket count (hash(w) % N) so the weight "
        "table is bounded regardless of vocab size; kept un-hashed here "
        "because the oracle must count exact words. Per-doc sums are "
        "exact int64; top-25 is a TakeOrderedAndProject. The target "
        "slice needs no second scan — it is a conditional count inside "
        "the same pass."
    ),
)
def docs_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("w")
    )
    # per-word corpus/target counts via two aggregate windows on the word
    # key instead of a groupBy + shuffle-join-back: the join form executed
    # the scan + tokenize + explode subtree TWICE (once per join side) and
    # shuffled the token relation on w twice — the window form is one
    # execution and one w-keyed exchange carrying identical per-row
    # counts (guide §2.4; r16 plan audit: 2 documents scans → 1; the
    # no-vocab-broadcast design note still holds — this is the same
    # word-keyed shuffle, minus the duplicate)
    from pyspark.sql import Window as W

    ww = W.partitionBy("w")
    ilog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731 — exact floor(log2)
    c_w = F.count(F.lit(1)).over(ww)
    t_w = F.sum((F.col("lang") != "en").cast("long")).over(ww)
    per = (
        toks.withColumn("s_w", ilog2(t_w + 1) - ilog2(c_w + 1))
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s_w").cast("long").alias("imp_sum"),
        )
    )
    mean_imp = F.round(F.col("imp_sum").cast("double") / F.col("n_tokens"), 6)
    return (
        per.select(
            "doc_id", "lang", "n_tokens", "imp_sum", mean_imp.alias("mean_importance")
        )
        .orderBy(F.desc("mean_importance"), "doc_id")
        .limit(25)
    )


#: Content-defined chunking: 8-token rolling window, boundary when the
#: window hash ≡ 0 (mod 32) → ~32-token average chunks on top of the
#: 8-token window (FastCDC's min/max clamps omitted — documented
#: simplification; the boundary rule is the load-bearing part).
CDC_W = 8
CDC_DIVISOR = 32


@register(
    "docs_cdc_chunks",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        cutlists AS (
            SELECT doc_id, t, n,
                   list_filter(
                       list_transform(
                           list_filter(generate_series(1, n - {CDC_W} + 1),
                               i -> CAST(('0x' || substring(md5(array_to_string(list_slice(t, i, i + {CDC_W} - 1), ' ')), 1, 15)) AS BIGINT)
                                    % {CDC_DIVISOR} = 0),
                           i -> i + {CDC_W} - 1),
                       c -> c < n) AS cuts
            FROM toks
        ),
        z AS (
            SELECT doc_id, t,
                   list_concat([1], list_transform(cuts, c -> c + 1)) AS starts,
                   list_concat(cuts, [n]) AS ends
            FROM cutlists
        ),
        ch AS (
            SELECT doc_id, t, starts, ends,
                   unnest(generate_series(1, len(starts))) AS k
            FROM z
        )
        SELECT doc_id,
               CAST(k - 1 AS BIGINT) AS chunk_id,
               CAST(starts[k] AS BIGINT) AS start_tok,
               CAST(ends[k] - starts[k] + 1 AS BIGINT) AS n_tok,
               md5(array_to_string(list_slice(t, starts[k], ends[k]), ' ')) AS chunk_key
        FROM ch
        ORDER BY doc_id, chunk_id
    """,
    tags=("llm", "text", "chunking", "dedup"),
    doc=(
        "Content-DEFINED chunking (the FastCDC/rsync family), the "
        "insertion-resilient counterpart of docs_chunk_tokens' fixed "
        f"windows: a chunk ends wherever the {CDC_W}-token rolling window "
        f"hash ≡ 0 (mod {CDC_DIVISOR}) — boundaries are functions of "
        "CONTENT, not position, so prepending a paragraph shifts only the "
        "chunks before the first surviving boundary and every later "
        "chunk_key is preserved (pinned by test) — the property that makes "
        "chunk-level dedup and delta storage work under edits, where "
        "fixed windows re-key the entire document. Rolling hashes reuse "
        "the module's 60-bit md5-prefix gram convention; boundary "
        "selection, cut-list assembly, and per-chunk keys are row-local "
        "higher-order functions (one explode, no shuffle but the "
        "presentation sort). FastCDC's min/max chunk clamps are omitted "
        "(documented simplification; avg chunk = window + divisor). At "
        "100 TB: scan-bound and embarrassingly parallel; chunk_keys "
        "shuffle as 32-char digests if a chunk-dedup follows."
    ),
)
def docs_cdc_chunks(
    spark: SparkSession,
    sf_dir: str,
    *,
    w: int = CDC_W,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Graded defaults are the module constants; ``w``/``divisor`` are
    tunables for other corpora (avg chunk ≈ w + divisor tokens)."""
    W, D = w, divisor
    docs = _with_tokens(spread(table(spark, sf_dir, "documents")))
    n = F.size("t")
    gram_hash_ok = (
        f"CAST(conv(substring(md5(concat_ws(' ', slice(t, i, {W}))), 1, 15), 16, 10) AS BIGINT) % {D} = 0"
    )
    # Docs shorter than the rolling window have no boundary candidates —
    # without the guard, sequence(1, size(t) - W + 1) DESCENDS through 0
    # when size(t) < W and slice(t, 0, W) throws; DuckDB's generate_series
    # returns empty there, so the guard makes a short doc one [1..n]
    # chunk in both engines.
    cuts = F.expr(
        f"CASE WHEN size(t) >= {W} THEN "
        f"filter(transform(filter(sequence(1, size(t) - {W} + 1), i -> {gram_hash_ok}), "
        f"i -> i + {W} - 1), c -> c < size(t)) "
        f"ELSE CAST(array() AS array<int>) END"
    )
    z = docs.select(
        "doc_id",
        "t",
        F.concat(F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1)).alias("starts"),
        F.concat(cuts, F.array(n)).alias("ends"),
    )
    ch = z.select(
        "doc_id",
        "t",
        F.posexplode(F.arrays_zip("starts", "ends")).alias("chunk_id", "se"),
    )
    start = F.col("se.starts")
    end = F.col("se.ends")
    return (
        ch.select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            start.cast("long").alias("start_tok"),
            (end - start + 1).cast("long").alias("n_tok"),
            F.md5(F.concat_ws(" ", F.slice("t", start, end - start + 1))).alias("chunk_key"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Posting-depth escalation (the text analog of knn_filtered_escalate)
# ---------------------------------------------------------------------------

def _idx_esc_schedule(
    base: int = POSTING_HEAD_K, cap: int = 32 * POSTING_HEAD_K
) -> tuple:
    """Head-depth escalation schedule: repeated doubling from the stored
    page depth up to a deepest stored page (the knn_filtered_escalate
    derivation rule), after which the loop's implicit final tier reads
    the complete posting (eff_depth 0). Capping the LADDER — not just
    its first rungs — is what bounds the work: tier p touches at most p
    posting rows per (query, term), so every capped tier is
    O(|remaining| x p), and only a query whose conjunction hides beyond
    the deepest stored page ever pays an unbounded posting read. At the
    graded constants this derives (8, 16, 32, 64, 128, 256); on the
    graded corpus every query serves from a capped page and the full
    tier is the empty safety net — exactly the ANN escalation's shape."""
    sched, p = [], base
    while p <= cap:
        sched.append(p)
        p *= 2
    return tuple(sched)


IDX_ESC_SCHEDULE = _idx_esc_schedule()

def _text_posting_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered rank-capped posting heads of the stored index —
    (doc_id, term, cnt, prank), prank = position in the term's posting
    under (cnt DESC, doc_id) and capped at the deepest scheduled tier
    (32x the page depth, the ladder's deepest stored page). Impact
    ordering (Anh & Moffat's impact-sorted
    postings) is the SERVING head convention — highest-tf documents
    first — distinct from docs_inverted_index's doc_id-sorted display
    head. Memoized per session/SF (memo tag ``text_posting_heads``): a
    production index stores pages already rank-ordered, so serving reads
    a bounded prefix per term and never sorts a posting at query time."""
    from currency_etl_spark.operators.ckpt import memo_checkpoint

    def build():
        from pyspark.sql import Window as W

        cap = IDX_ESC_SCHEDULE[-1]
        return (
            _text_tf_base(spark, sf_dir)
            .select(
                "doc_id",
                "term",
                "cnt",
                F.row_number()
                .over(W.partitionBy("term").orderBy(F.desc("cnt"), "doc_id"))
                .alias("prank"),
            )
            .filter(F.col("prank") <= cap)
        )

    return memo_checkpoint("text_posting_heads", sf_dir, build)


def _index_escalate_impl(
    q: DataFrame,
    heads: DataFrame,
    tf: DataFrame,
    schedule: tuple = IDX_ESC_SCHEDULE,
) -> DataFrame:
    """Core escalation over prepared relations (factored so the
    cap-exhaustion fixture test can drive a crafted corpus): ``q`` is the
    2-term conjunctive query relation (qid, term, qrn), ``heads`` the
    rank-capped impact-ordered SCORED postings (doc_id, term, score_q,
    prank), ``tf`` the full scored postings (doc_id, term, score_q) —
    score_q is whatever integer per-(term, doc) relevance the caller
    quantized (BM25 in the graded entry, raw tf in fixtures); serving
    sums it per document. A query is SERVED at the first scheduled head
    depth where BOTH its terms' depth-capped postings share at least one
    foreign document; the final uncapped tier serves whatever the full
    intersection holds (a query whose true intersection is empty emits
    nothing — a statement about the corpus, not the cap).

    Evaluated as its own declarative fixed point, not a round loop (the
    round-at-a-time form cost one eager checkpoint + anti-join per rung
    — six sequential jobs whose fixed cost dwarfed the ladder's actual
    data): ONE intersection pass over the deepest-capped heads computes
    every candidate pair's covering rung (the smallest scheduled depth
    >= max of its two posting ranks — monotone, so pair visible at p iff
    rung <= p), eff_depth = min rung per query, and the serving pool is
    exactly the pairs whose rung <= eff. Identical semantics to the
    loop: first rung with a non-empty pool. Only queries with NO pair
    inside the deepest stored page anti-join out to the full-posting
    tier (eff_depth 0) — the rare-path safety net, empty on the graded
    corpus."""
    from pyspark.sql import Window as W

    def _serve(pool: DataFrame, eff) -> DataFrame:
        w = W.partitionBy("qid")
        return (
            pool.select(
                "qid",
                F.col("doc_id").alias("nn_doc_id"),
                "sq",
                F.row_number()
                .over(w.orderBy(F.desc("sq"), "doc_id"))
                .alias("rn"),
                F.count(F.lit(1)).over(w).cast("long").alias("n_candidates"),
                eff.cast("long").alias("eff_depth"),
            )
            .filter(F.col("rn") == 1)
            .select("qid", "nn_doc_id", "sq", "n_candidates", "eff_depth")
        )

    rungs = F.array(*[F.lit(int(p)) for p in schedule])
    cand = (
        heads.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum("score_q").cast("long").alias("sq"),
            F.max("prank").alias("mp"),
        )
        .filter(F.col("nt") == 2)
        .withColumn(
            # the pair's covering rung: smallest scheduled depth that
            # probes both posting ranks (exists: heads are capped at
            # schedule[-1], so mp <= the last rung)
            "rung",
            F.array_min(F.filter(rungs, lambda x: x >= F.col("mp"))),
        )
    )
    eff = cand.groupBy("qid").agg(F.min("rung").alias("eff"))
    served = _serve(
        cand.join(eff, "qid").filter(F.col("rung") <= F.col("eff")),
        F.col("eff"),
    )

    # rare path: queries whose conjunction hides beyond the deepest
    # stored page read the complete postings (one anti-join — the
    # remainder is empty on the graded corpus, so the full-tier join's
    # build side is empty and the tier costs one no-op job)
    rem = q.join(eff.select("qid"), "qid", "left_anti")
    fpool = (
        tf.join(F.broadcast(rem), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum("score_q").cast("long").alias("sq"),
        )
        .filter(F.col("nt") == 2)
    )
    out = served.unionByName(_serve(fpool, F.lit(0)))

    lbl = q.groupBy("qid").agg(
        F.max(F.when(F.col("qrn") == 1, F.col("term"))).alias("term1"),
        F.max(F.when(F.col("qrn") == 2, F.col("term"))).alias("term2"),
    )
    return (
        out.join(F.broadcast(lbl), "qid")
        .select(
            "qid",
            "term1",
            "term2",
            "nn_doc_id",
            F.col("sq").alias("score_q"),
            "n_candidates",
            "eff_depth",
        )
        .orderBy("qid")
    )


#: Shared formula text of the per-(term, doc) quantized BM25 contribution
#: — char-identical to docs_bm25_search's scored CTE so the IEEE op
#: sequence (and therefore every 1e-6 lattice point) is the same in both
#: entries and both engines. Placeholders: {cnt} {df} {dl}.
_SQL_BM25_TERM = (
    "CAST(round("
    "ln(1.0 + (CAST(nd AS DOUBLE) - {df} + 0.5) / ({df} + 0.5))"
    " * ({cnt} * 2.2 / ({cnt} + 1.2 * (0.25 + 0.75 * CAST({dl} * nd AS DOUBLE) / s_tokens)))"
    " * 1000000) AS BIGINT)"
)


@register(
    "docs_bm25_escalate",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS cnt
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        dls AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        stats AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS s_tokens FROM dls),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        btf AS (SELECT * FROM tf WHERE doc_id % 10 = 7),
        q AS (
            SELECT doc_id AS qid, term, rn AS qrn FROM (
                SELECT doc_id, term,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, term) AS rn
                FROM btf
            ) WHERE rn <= 2
        ),
        lbl AS (
            SELECT qid,
                   max(CASE WHEN qrn = 1 THEN term END) AS term1,
                   max(CASE WHEN qrn = 2 THEN term END) AS term2
            FROM q GROUP BY qid
        ),
        sp AS (
            SELECT t.doc_id, t.term,
                   ROW_NUMBER() OVER (PARTITION BY t.term
                                      ORDER BY t.cnt DESC, t.doc_id) AS prank,
                   {_SQL_BM25_TERM.format(cnt='t.cnt', df='f.df', dl='d.dl')} AS score_q
            FROM tf t JOIN dfreq f USING (term) JOIN dls d USING (doc_id)
            CROSS JOIN stats
            WHERE t.term IN (SELECT term FROM q)
        ),
        sched AS ({" UNION ALL ".join(f"SELECT {p} AS p" for p in IDX_ESC_SCHEDULE)}),
        cpool AS (
            SELECT qs.qid, h.doc_id, s.p,
                   CAST(sum(h.score_q) AS BIGINT) AS sq
            FROM q qs
            JOIN sp h ON h.term = qs.term AND h.doc_id <> qs.qid
            JOIN sched s ON h.prank <= s.p
            GROUP BY qs.qid, h.doc_id, s.p
            HAVING count(*) = 2
        ),
        eff AS (SELECT qid, min(p) AS eff_p FROM cpool GROUP BY qid),
        fpool AS (
            SELECT qs.qid, h.doc_id, CAST(sum(h.score_q) AS BIGINT) AS sq
            FROM q qs
            JOIN sp h ON h.term = qs.term AND h.doc_id <> qs.qid
            GROUP BY qs.qid, h.doc_id
            HAVING count(*) = 2
        ),
        pool AS (
            SELECT c.qid, c.doc_id, c.sq, CAST(e.eff_p AS BIGINT) AS eff_depth
            FROM cpool c JOIN eff e ON e.qid = c.qid AND c.p = e.eff_p
            UNION ALL
            SELECT f.qid, f.doc_id, f.sq, CAST(0 AS BIGINT)
            FROM fpool f LEFT JOIN eff e ON e.qid = f.qid
            WHERE e.qid IS NULL
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY sq DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY qid) AS n_candidates
            FROM pool
        )
        SELECT r.qid, l.term1, l.term2, r.doc_id AS nn_doc_id,
               CAST(r.sq AS DOUBLE) / 1000000 AS bm25,
               CAST(r.n_candidates AS BIGINT) AS n_candidates, r.eff_depth
        FROM ranked r JOIN lbl l ON l.qid = r.qid
        WHERE r.rn = 1
        ORDER BY r.qid
    """,
    tags=("llm", "text", "index", "search", "incremental"),
    doc=(
        "Posting-depth escalation for BM25 retrieval through rank-capped "
        "posting heads — the text analog of knn_filtered_escalate, "
        "closing a recall hazard: "
        "an index that SERVES from capped posting pages can exhaust a "
        "head before a rare conjunctive query finds any co-occurrence, "
        "so production stores escalate page depth until the query is "
        "served or the posting is exhausted. Queries are the arriving "
        "batch's docs (doc_id % 10 = 7, the text-maintenance slice), "
        "each asking for documents sharing BOTH of its two highest-tf "
        "terms (ties to the lexicographically smaller term) — the "
        "rare-conjunction shape. Schedule "
        f"{IDX_ESC_SCHEDULE} then full: capped "
        "tiers read the MEMOIZED impact-ordered heads "
        "(text_posting_heads — Anh & Moffat impact order, cnt DESC then "
        "doc_id, the serving convention as opposed to the display page's "
        "doc_id sort), the final tier reads the complete stored tf "
        "relation with no rank at all and is emitted as eff_depth 0; a "
        "query whose TRUE intersection is empty emits nothing — a "
        "truthful statement about the corpus, not a cap artifact. A "
        "query is served at the first scheduled depth where its two "
        "depth-capped postings share a foreign document, ranked by "
        "summed BM25 (docs_bm25_search's exact per-term idf x "
        "tf-saturation contribution, quantized to 1e-6 int64 BEFORE the "
        "per-doc sum so the ordering is integer-backed in both engines) "
        "with pool size (n_candidates) and eff_depth graded in the "
        "output — the operational signal that a term pair needs deeper "
        "pages. Scale shape: the query relation is tiny and broadcast "
        "on every tier; scoring joins touch ONLY the query terms' "
        "postings (the q-term semi-filter precedes the df/dl joins); "
        "every capped tier reads a bounded posting prefix (tier p "
        "touches <= p rows per query term, so per-tier work is "
        "O(|remaining| x p)) from one checkpointed scored-heads "
        "relation; only a query whose conjunction hides beyond the "
        "deepest stored page pays the full-posting join (empty on the "
        "graded corpus — the safety-net tier, exactly the ANN "
        "escalation's shape). The ladder is EVALUATED as one pass, not "
        "a round loop: every candidate pair's covering rung (smallest "
        "scheduled depth probing both its posting ranks) falls out of "
        "the same intersection aggregate, eff = min rung per query, "
        "pool = pairs within eff — the fixed point computed directly, "
        "so deepening the ladder costs zero extra jobs. The declarative twin states the identical fixed "
        "point: eff = min scheduled depth whose conjunctive pool is "
        "non-empty, else full."
    ),
)
def docs_bm25_escalate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from currency_etl_spark.operators.ckpt import swap_checkpoint

    btf = _text_batch_tf(spark, sf_dir)
    # the 2-term query relation: every tier's pool join plus the label
    # rollup read it — checkpoint once, 2 rows per batch doc
    q = swap_checkpoint(
        "bm25_esc_q",
        btf.select(
            F.col("doc_id").alias("qid"),
            "term",
            F.row_number()
            .over(
                W.partitionBy("doc_id").orderBy(F.desc("cnt"), "term")
            )
            .alias("qrn"),
        ).filter(F.col("qrn") <= 2),
    )
    tf = _text_tf_base(spark, sf_dir)
    dfreq = _text_df_base(spark, sf_dir)
    # memoized doc lengths (_text_dls_base): this plan consumed dls FOUR
    # times (scoring join + stats broadcast, in both the heads build and
    # the full-posting remainder tier) — each a token-relation shuffle
    dls = _text_dls_base(spark, sf_dir)
    stats = dls.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("dl").cast("long").alias("s_tokens"),
    )
    # per-(term, doc) quantized BM25 contribution over the QUERY TERMS'
    # postings only: the broadcast q-term semi-filter precedes the df/dl
    # joins, so scoring never touches a non-query posting
    qt = q.select("term").distinct()
    qdf = dfreq.join(F.broadcast(qt), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.col("nd").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("cnt") * F.lit(2.2)) / (
        F.col("cnt")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * (F.col("dl") * F.col("nd")).cast("double")
            / F.col("s_tokens")
        )
    )
    score_q = F.round(idf * sat * F.lit(1000000), 0).cast("long").alias("score_q")

    def _scored(postings: DataFrame, *extra: str) -> DataFrame:
        return (
            postings.join(F.broadcast(qdf), "term")
            .join(dls, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select("doc_id", "term", *extra, score_q)
        )

    # every capped tier reads the one scored-heads checkpoint (bounded:
    # <= deepest-page rows per query term)
    heads = swap_checkpoint(
        "bm25_esc_heads",
        _scored(_text_posting_heads(spark, sf_dir), "prank"),
    )
    return _index_escalate_impl(q, heads, _scored(tf)).withColumn(
        "bm25", F.col("score_q").cast("double") / F.lit(1000000)
    ).select(
        "qid", "term1", "term2", "nn_doc_id", "bm25", "n_candidates", "eff_depth"
    )
