"""Text-analysis queries over `documents`, each with a bit-exact DuckDB
oracle (the SQL mirrors the Spark column algebra construct-for-construct
— tokenization, portable hashing, rolling folds)."""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobx_spark import index
from jobx_spark.operators.text import (
    FINGERPRINT_MOD,
    LANG_STOPWORDS,
    fingerprint,
    lang_guess,
    lang_scores,
    quality_stats,
    tokens,
)
from jobx_spark.sources import load_table, local_frame

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_MD5 = "('0x'||substr(md5({e}),1,15))::BIGINT"


# --------------------------------------------------------------------------
# text_quality: per-document quality features (scan-shaped, no shuffle).
# --------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_stats(docs, "text").select(
        "doc_id", "n_chars", "n_tokens", "n_punct",
        "punct_ratio", "stopword_ratio", "mean_token_len",
    ).orderBy("doc_id")


ORACLE_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)::DOUBLE
           / CAST(length(text) AS BIGINT) AS punct_ratio,
       CAST(len(list_intersect(toks, {LANG_STOPWORDS['en']!r})) AS BIGINT)::DOUBLE
           / CAST(len(toks) AS BIGINT) AS stopword_ratio,
       length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))::DOUBLE
           / CAST(len(toks) AS BIGINT) AS mean_token_len
FROM t
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_lang_id: stopword-lexicon language heuristic + per-language scores.
# --------------------------------------------------------------------------
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(LANG_STOPWORDS)],
        lang_guess(F.col("text")).alias("lang_guess"),
    ).orderBy("doc_id")


def _lang_oracle() -> str:
    langs = sorted(LANG_STOPWORDS)
    score_cols = ",\n       ".join(
        f"CAST(len(list_intersect(toks, {LANG_STOPWORDS[lang]!r})) AS BIGINT) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = "\n            ".join(
        f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
       {score_cols}
      FROM t)
SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
       CASE {cases}
            ELSE 'und' END AS lang_guess
FROM s
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_fingerprint: rolling polynomial hash per document + duplicate-
# fingerprint grouping (count per fingerprint).
# --------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .orderBy("doc_id")
    )


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform({_TOKS}, t -> {_MD5.format(e='t')})),
         (a, b) -> (a * 31 + b) % {FINGERPRINT_MOD}) AS fp
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_token_histogram: corpus token-frequency table (the shuffle-bearing
# text op: explode → groupBy token; partial aggregation collapses
# duplicates map-side). Top 50 by count with deterministic tiebreak.
# --------------------------------------------------------------------------
def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
    )


ORACLE_TEXT_TOKEN_HISTOGRAM = f"""
SELECT tok, count(*) AS n
FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 50
"""


# --------------------------------------------------------------------------
# text_repetition: per-document repetition detection — the training-data
# filter that drops degenerate/boilerplate docs. distinct-token ratio and
# the share of the single most frequent token, all from one explode +
# two-level aggregation; each doc's work is local to its doc_id group,
# so the op scales linearly and shuffles once on doc_id.
# --------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens"))
            .alias("repetition_ratio"),
            (F.col("top_count").cast("double") / F.col("n_tokens"))
            .alias("top_token_share"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_REPETITION = f"""
WITH per_tok AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       1.0 - CAST(count(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
           AS repetition_ratio,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_token_share
FROM per_tok
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_tfidf_terms — per-document top-K salient terms by TF-IDF, with a
# rational idf (score = tf · N / df, monotone in tf/df) instead of
# tf·ln(N/df): ln() is not correctly rounded and the JVM's Math.log and
# DuckDB's libm log can differ in the last ulp, which a bit-exact hash
# compare would flag. The ranking it induces per (doc, tf) is identical.
#
# Shape: explode → (doc_id, token) counts with map-side partial agg
# (the exchange carries per-partition-distinct tf rows, not raw
# tokens); document frequency is a tiny agg over those rows, broadcast
# back (vocabulary-sized). The per-doc top-K window re-exchanges on
# doc_id — deliberately AFTER aggregation, so that second shuffle
# moves (doc_id, token, tf) rows, a fraction of the corpus bytes.
# --------------------------------------------------------------------------
TFIDF_K = 3


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    total = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
            .alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_K)
        .orderBy("doc_id", "rank")
    )


ORACLE_TEXT_TFIDF = f"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT t.doc_id, t.token,
         CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
         CAST(t.tf AS DOUBLE) * (SELECT count(*) FROM documents) / d.df
             AS score
  FROM tf t JOIN dfreq d USING (token)
),
r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, token) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, score, rank
FROM r WHERE rank <= {TFIDF_K}
ORDER BY doc_id, rank
"""


# --------------------------------------------------------------------------
# text_cms_heavy_hitters — Count-Min-sketched frequencies for the exact
# top-20 tokens, next to their true counts. The sketch's counters are
# pure sums (order/partition-independent), so the whole thing — build,
# probe, overcount — is reproducible in SQL and hash-verified; the
# overcount column is the sketch's error, structurally ≥ 0.
# --------------------------------------------------------------------------
CMS_TOP = 20


def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.operators.text import (
        CMS_DEPTH,
        cms_bucket,
        cms_counters,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    counters = cms_counters(docs)
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(CMS_TOP)
    )
    probes = exact.select(
        "tok",
        "exact_n",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias("r"),
    ).withColumn("bucket", cms_bucket(F.col("tok"), F.col("r")))
    est = (
        probes.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), F.asc("tok"))


def _cms_oracle() -> str:
    from jobx_spark.operators.text import CMS_DEPTH, CMS_WIDTH

    rows = ", ".join(f"({r})" for r in range(CMS_DEPTH))
    h = _MD5.format(e="(CAST(rr.r AS VARCHAR) || ':' || tok)")
    hp = _MD5.format(e="(CAST(rr.r AS VARCHAR) || ':' || e.tok)")
    return f"""
WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
counters AS (
  SELECT rr.r, ({h}) % {CMS_WIDTH} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM tok, (VALUES {rows}) AS rr(r)
  GROUP BY 1, 2
),
exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
  FROM tok GROUP BY tok
  ORDER BY exact_n DESC, tok ASC LIMIT {CMS_TOP}
),
est AS (
  SELECT e.tok, e.exact_n, MIN(c.c) AS cms_n
  FROM exact e
  CROSS JOIN (VALUES {rows}) AS rr(r)
  JOIN counters c ON c.r = rr.r AND c.bucket = ({hp}) % {CMS_WIDTH}
  GROUP BY e.tok, e.exact_n
)
SELECT tok, exact_n, cms_n, cms_n - exact_n AS overcount
FROM est
ORDER BY exact_n DESC, tok ASC
"""


# --------------------------------------------------------------------------
# text_ttr: lexical-diversity scoring — type-token ratio + hapax share,
# the classic gibberish/boilerplate discriminator (low TTR = repeated
# boilerplate, TTR ≈ 1 with many hapaxes = serial-number noise). One
# explode → (doc, token) count → per-doc rollup: the shuffle carries
# distinct (doc, token) pairs, partial-aggregated map-side; ratios are
# single IEEE divisions of exact integers, identical in any engine.
# --------------------------------------------------------------------------
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_tok = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
            (F.col("n_hapax").cast("double") / F.col("n_tokens")).alias(
                "hapax_ratio"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_TTR = f"""
WITH per_tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), counts AS (
  SELECT doc_id, tok, count(*) AS cnt FROM per_tok GROUP BY doc_id, tok
), rolled AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       n_types::DOUBLE / n_tokens AS ttr,
       n_hapax::DOUBLE / n_tokens AS hapax_ratio
FROM rolled
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_hll_distinct — HyperLogLog distinct-token cardinality next to the
# exact count. The sketch's combine step is MAX (order/partition
# independent), so the full register table AND the raw estimate are
# bit-reproducible in SQL: registers verified row-by-row like the CMS,
# the estimate verified as one exactly-rounded division. At 100 TB this
# is how you count vocabulary: 64 registers per (corpus | shard | day),
# mergeable with MAX, one map-side-combinable shuffle.
# --------------------------------------------------------------------------
def text_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.operators.sketches import hll_estimate, hll_registers

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    regs = hll_registers(tok, "tok")
    est = hll_estimate(regs)
    exact = tok.agg(F.count_distinct("tok").alias("exact_distinct"))
    return (
        regs.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(
            "register", "max_rho", "hll_est", "zero_registers",
            "exact_distinct",
            (F.col("hll_est") / F.col("exact_distinct") - 1.0).alias("rel_err"),
        )
        .orderBy("register")
    )


def _hll_oracle() -> str:
    from jobx_spark.operators.sketches import hll_sql

    return f"""
WITH tok AS (SELECT unnest({_TOKS}) AS v FROM documents),
{hll_sql('tok', _MD5)},
exact AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct FROM tok)
SELECT register, max_rho, hll_est, zero_registers, exact_distinct,
       hll_est / exact_distinct - 1.0 AS rel_err
FROM regs, est, exact
ORDER BY register
"""


# --------------------------------------------------------------------------
# text_bigram_score — corpus-LM fluency proxy: each document scored by
# the mean conditional frequency of its bigrams, P̂(w2|w1) =
# count(w1 w2)/count(w1 ·), estimated from the corpus itself. Garbled
# or boilerplate-spliced text scores low; fluent text follows the
# corpus's own transition statistics. Log-probabilities would be the
# textbook form but log() is libm-dependent — instead each ratio is a
# scaled-integer floor division and the per-doc mean stays integer
# until ONE exactly-rounded final division, so the scores
# hash-verify. Shape: two bounded-vocab count shuffles + one
# doc-keyed aggregation; the count tables behave like any LM table
# (broadcastable while vocab² stays small, bucketed beyond).
# --------------------------------------------------------------------------
BSCORE_SCALE = 10**9

# One (doc_id, bigram, c_db) build per (process, corpus): the two
# corpus-LM queries (text_bigram_score, text_perplexity_buckets) each
# rebuilt the materialized count table independently (VERDICT r5 #3).
# The cache stores the checkpoint PATH, not a DataFrame, so it is
# SparkSession-agnostic (the parquet lives under the per-process
# scratch root, same lifetime as the cache itself).
_CDB_PATHS: dict[str, str] = {}

# First-build guard: two threads racing the cold cache would both
# materialize (write.mode('error') keeps them on distinct paths, but
# the second build is wasted work) — serialize the build/lookup
# critical section [ADVICE r6].
import threading as _threading  # noqa: E402

_CDB_LOCK = _threading.Lock()


def _cdb_cache_key(files: list[str]) -> str:
    """Cache key for the materialized count table: the source paths
    PLUS each file's (size, mtime_ns) so an in-place rewrite of the
    source parquet invalidates the entry instead of serving stale
    counts [ADVICE r6]. Un-stat-able paths fall back to path-only."""
    import os

    parts = []
    for f in sorted(files):
        p = f.removeprefix("file:")
        try:
            st = os.stat(p)
            parts.append(f"{f}#{st.st_size}#{st.st_mtime_ns}")
        except OSError:
            parts.append(f)
    return "|".join(parts)

# Below this source size the count-table parquet round-trip costs more
# than re-scanning the corpus (measured crossover: sf0.1's 30 MB
# documents table pays 1.5× for the write — VERDICT r5 "What's
# wrong"); above it, materializing saves two corpus scans. Unknown
# sizes (non-local paths) materialize: at cluster scale that is always
# the right side of the crossover.
BSCORE_MAT_MIN_BYTES = 256 * 1024 * 1024


def _source_bytes(docs: DataFrame) -> int | None:
    """Total bytes of the frame's file-scan inputs, or None when the
    plan's sources aren't locally stat-able (object stores, views)."""
    import os

    try:
        files = docs.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            p = f.removeprefix("file:")
            total += os.path.getsize(p)
        return total
    except Exception:  # pragma: no cover - conservative fallback
        return None


def _bigram_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-doc corpus-LM totals: (doc_id, n_bigrams, score_s) with
    score_s = Σ over the doc's bigrams of (count(w1 w2)·SCALE div
    count(w1 ·)) — the shared core of text_bigram_score and
    text_perplexity_buckets.

    SCAN-ONCE shape (the est/recall r3 lesson): the corpus explodes to
    bigrams exactly once, aggregated straight into the (doc_id, bigram,
    c_db) occurrence-count table; the bigram table (cb), the prefix
    table (cp) and the per-doc scoring all RE-AGGREGATE that compact
    table (Σ c_db groupings are map-side combinable), so three
    heavy-corpus scans become one + three count-table reads.
    Materialization is SIZE-GATED (VERDICT r5 #3): sources below
    BSCORE_MAT_MIN_BYTES re-scan (the parquet round-trip costs more
    than it saves there); at/above it — and always when the source
    size is unknowable, i.e. cluster object stores — the table
    materializes once per (process, corpus) and is SHARED between
    text_bigram_score and text_perplexity_buckets via _CDB_PATHS.
    Values are bit-identical to the per-occurrence form: summing r_s
    over occurrences equals Σ_distinct r_s·c_db, all integer."""
    import os
    import uuid

    from jobx_spark.lineage import checkpoint_root
    from jobx_spark.operators.text import gram_rows

    spark = docs.sparkSession
    key = _cdb_cache_key(docs.inputFiles() or [])
    # Arrow gram producer (bigram strings — downstream keys on the
    # string); multiset, no interpreted shingle lambda
    plan = (
        gram_rows(docs, ["doc_id"], "text", ns=(2,), emit="gram")
        .withColumnRenamed("g", "bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c_db"))
    )
    sz = _source_bytes(docs)
    if sz is not None and sz < BSCORE_MAT_MIN_BYTES:
        # below the crossover the round-trip costs more than the two
        # corpus re-scans it saves — reuse the lazy plan instead
        cdb = plan
    else:
        with _CDB_LOCK:
            if not (key and key in _CDB_PATHS):
                path = os.path.join(
                    checkpoint_root(), f"bscore-cdb-{uuid.uuid4().hex[:12]}"
                )
                plan.write.mode("error").parquet(path)
                if key:
                    _CDB_PATHS[key] = path
            else:
                path = _CDB_PATHS[key]
        cdb = spark.read.parquet(path)
    cb = cdb.groupBy("bigram").agg(F.sum("c_db").alias("cb"))
    cp = (
        cdb.select(F.split("bigram", " ")[0].alias("w1"), "c_db")
        .groupBy("w1")
        .agg(F.sum("c_db").alias("cp"))
    )
    ratio = (
        cb.withColumn("w1", F.split("bigram", " ")[0])
        .join(cp, "w1")
        .select("bigram", F.expr(f"(cb * {BSCORE_SCALE}) div cp").alias("r_s"))
    )
    scored = cdb.join(ratio, "bigram").select("doc_id", "c_db", "r_s")
    return scored.groupBy("doc_id").agg(
        F.sum("c_db").alias("n_bigrams"),
        F.sum(F.col("r_s") * F.col("c_db")).alias("score_s"),
    )


def text_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bigram_doc_scores(docs)
        .select(
            "doc_id", "n_bigrams", "score_s",
            (
                F.col("score_s").cast("double")
                / (F.col("n_bigrams") * BSCORE_SCALE).cast("double")
            ).alias("fluency"),
        )
        .orderBy("doc_id")
    )


_BIGRAMS2 = (
    f"list_transform(generate_series(1, greatest(len({_TOKS})-1, 0)),"
    f" i -> array_to_string(list_slice({_TOKS}, i, i+1), ' '))"
)
ORACLE_TEXT_BIGRAM_SCORE = f"""
WITH bg AS (
  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
  FROM (SELECT doc_id, unnest({_BIGRAMS2}) AS bigram FROM documents)
),
cb AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bigram),
cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY w1),
sc AS (
  SELECT doc_id, (cb.cb * {BSCORE_SCALE}) // cp.cp AS r_s
  FROM bg JOIN cb USING (bigram) JOIN cp USING (w1)
),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(r_s) AS BIGINT) AS score_s
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams, score_s,
       score_s::DOUBLE / (n_bigrams * {BSCORE_SCALE})::DOUBLE AS fluency
FROM pd
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_perplexity_buckets — perplexity-band bucketing over the corpus
# LM (VERDICT r4 #8): each document's mean scaled transition
# probability m = score_s div n_bigrams is binned by its integer
# floor(log₂) — the document's "bits of surprise" band, the integer-
# exact stand-in for log-perplexity deciles (bucket k holds docs whose
# mean P̂(w2|w1) ∈ [2^k/SCALE, 2^(k+1)/SCALE)). Curation pipelines
# keep/drop/resample by exactly these bands. floor(log₂ m) is computed
# as length(bin(m))−1 on both engines — pure integer, no libm — and
# refined to QUARTER-octaves by the two bits after the leading one
# (bucket = 4·p + ((m >> (p−2)) − 4)), giving ~4× histogram resolution
# with the same exactness.
# Scale shape: the per-doc scores reuse _bigram_doc_scores' single
# bigram shuffle; bucketing is scan-side arithmetic (NO global
# sort/ntile — rank-based deciles would funnel 100 TB through one
# window partition); the census is one ~30-row aggregation, and the
# corpus-share ppm divides by a windowed total over the BUCKET table
# (≤64 rows at any corpus size).
# --------------------------------------------------------------------------
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pd_scores = _bigram_doc_scores(docs)
    m = F.expr("score_s div n_bigrams")
    binned = pd_scores.select(
        m.alias("m_s"), F.greatest(m, F.lit(1)).alias("gm"), "n_bigrams"
    ).select(
        F.expr(
            "CAST(4 * (length(bin(gm)) - 1) + CASE"
            " WHEN length(bin(gm)) >= 3"
            " THEN shiftright(gm, length(bin(gm)) - 3) - 4"
            " ELSE 0 END AS BIGINT)"
        ).alias("bucket"),
        "m_s",
        "n_bigrams",
    )
    census = binned.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("m_s").alias("min_score"),
        F.max("m_s").alias("max_score"),
        F.sum("n_bigrams").alias("total_bigrams"),
    )
    tot = F.sum("n_docs").over(W.partitionBy())
    return (
        census.withColumn("tot", tot)
        .select(
            "bucket", "n_docs", "min_score", "max_score", "total_bigrams",
            F.expr(f"(n_docs * {10**6}) div tot").alias("share_ppm"),
        )
        .orderBy("bucket")
    )


ORACLE_TEXT_PERPLEXITY_BUCKETS = f"""
WITH bg AS (
  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
  FROM (SELECT doc_id, unnest({_BIGRAMS2}) AS bigram FROM documents)
),
cb AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bigram),
cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY w1),
sc AS (
  SELECT doc_id, (cb.cb * {BSCORE_SCALE}) // cp.cp AS r_s
  FROM bg JOIN cb USING (bigram) JOIN cp USING (w1)
),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(r_s) AS BIGINT) AS score_s
  FROM sc GROUP BY doc_id
),
g AS (
  SELECT score_s // n_bigrams AS m_s,
         greatest(score_s // n_bigrams, 1) AS gm, n_bigrams
  FROM pd
),
binned AS (
  SELECT CAST(4 * (length(bin(gm)) - 1) + CASE
             WHEN length(bin(gm)) >= 3
             THEN (gm >> (length(bin(gm)) - 3)) - 4
             ELSE 0 END AS BIGINT) AS bucket,
         m_s, n_bigrams
  FROM g
),
census AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         min(m_s) AS min_score, max(m_s) AS max_score,
         CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
  FROM binned GROUP BY bucket
),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM census)
SELECT bucket, n_docs, min_score, max_score, total_bigrams,
       (n_docs * {10**6}) // tot AS share_ppm
FROM census, t
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# text_readability — Flesch-style reading-ease per document: sentences
# from terminal-punctuation runs, syllables proxied by vowel groups
# (a vowel group can't span whitespace, so the per-text count equals
# the per-word sum — one regex pass, no explode). The score is a
# fixed-order chain of exactly-rounded IEEE ops over integer counts,
# so it hash-verifies like every other quality feature. Scan-shaped:
# zero shuffles.
# --------------------------------------------------------------------------
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        flesch.alias("flesch"),
    ).orderBy("doc_id")


ORACLE_TEXT_READABILITY = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
             AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           AS flesch
FROM c
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_trigram_lang_eval — a supervised classifier trained AND
# evaluated in-engine: per-language character-trigram profiles (top-50
# by frequency from the labeled corpus) classify each document by
# profile overlap; the output is the confusion matrix against the true
# labels. The char-trigram profile is the classic langid approach; the
# whole train→classify→evaluate loop is pure column algebra — profile
# build is a vocabulary-bounded shuffle, classification a broadcast
# join against ≤ 50·n_langs profile rows. Ties in the argmax break to
# the lexicographically smallest language, a total order.
# Plan note (r8 A/B, BENCH_NOTES): the distinct-FIRST shape below beat
# both scan-side array_distinct (8.1 s vs 5.4 s warm min, sf0.1) and
# join-first count_distinct / join-then-distinct (9.8 / 10.4 s) —
# per-doc dedup shrinks rows ~4× before any join, its exchange gets
# map-side partial dedup, and the top-50 profile grams are Zipf-heavy
# so a join-first "filter" barely filters occurrence mass. The distinct
# exchange carries per-doc DISTINCT grams only.
# --------------------------------------------------------------------------
TRIGRAM_TOP = 50


def text_trigram_lang_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from jobx_spark.lineage import cut_lineage
    from jobx_spark.operators.text import char_gram_counts

    docs = load_table(spark, sf_dir, "documents")
    # Char-trigram production at the Arrow boundary (guide §4.2): the
    # column form paid an INTERPRETED substring per gram (CodegenFallback
    # transform lambda — the r12 gram_rows pathology on the character
    # alphabet) and was evaluated TWICE (profile + per-doc-distinct
    # legs, the second with a corpus-wide distinct shuffle). One pass
    # emits per-(doc, gram) counts; lineage-cut so both consumers read
    # the doc-bounded proxy. Σc ≡ the occurrence count and the rows ARE
    # the per-doc distinct set, so both legs are value-identical.
    rows = cut_lineage(
        char_gram_counts(docs, ["doc_id", "lang"], n=3), "trigram-rows"
    )
    prof = (
        rows.groupBy("lang", "g")
        .agg(F.sum("c").alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
            ),
        )
        .filter(F.col("rk") <= TRIGRAM_TOP)
        .select(F.col("lang").alias("plang"), "g")
    )
    doc_grams = rows.select("doc_id", "lang", "g")
    overlap = (
        doc_grams.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count("*").alias("hits"))
    )
    pred = (
        overlap.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("plang"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", F.col("plang").alias("pred_lang"))
    )
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


ORACLE_TEXT_TRIGRAM_EVAL = f"""
WITH grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, length(lower(text)) - 2),
                i -> substr(lower(text), i, 3))) AS g
  FROM documents WHERE length(text) >= 3
),
prof AS (
  SELECT lang AS plang, g FROM (
    SELECT lang, g, count(*) AS n,
           row_number() OVER (PARTITION BY lang
               ORDER BY count(*) DESC, g ASC) AS rk
    FROM grams GROUP BY lang, g
  ) WHERE rk <= {TRIGRAM_TOP}
),
doc_grams AS (SELECT DISTINCT doc_id, lang, g FROM grams),
overlap AS (
  SELECT d.doc_id, d.lang, p.plang, count(*) AS hits
  FROM doc_grams d JOIN prof p ON p.g = d.g
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang, plang AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY hits DESC, plang ASC) AS rk
    FROM overlap
  ) WHERE rk = 1
)
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


# --------------------------------------------------------------------------
# text_bm25_topk — BM25 retrieval over the corpus for a fixed query
# set: the standard lexical scorer behind retrieval-based data
# curation (select-by-query, contamination lookups, RAG indexing).
# Deterministic-by-construction variant so the whole ranking hash-
# verifies: the idf is the Robertson–Sparck-Jones RATIO without the
# log, scaled to an integer ((N−df)·S_IDF div df). NOTE: dropping the
# log is rank-preserving per TERM, but summing per-term contributions
# does not commute with the per-term monotone transform, so multi-term
# rankings can differ from true log-idf BM25 — this variant is
# deterministic and Spark/oracle self-consistent, not rank-identical
# to textbook BM25 for multi-term queries. The tf
# saturation term (k1=1.2, b=0.75) is cleared of fractions by
# multiplying through by 10·T (T = corpus token count, avgdl = T/N):
#     tf_part_s = (22·T·tf·S_TF) div (10·T·tf + 3·T + 9·len·N)
#     contrib   = (idf_s · tf_part_s) div S_TF        [integers]
# Shape: the corpus token stream filters to the ≤15 query terms BEFORE
# any shuffle (an isin against a literal list — scan-side), so the
# only shuffled rows are (doc, query-term) matches; df/N/T are
# broadcast scalars; the final top-k is a per-query window over the
# scored docs. The matches become postings in the persisted index's
# layout and are scored by its serving kernel (_bm25_serve_body), so
# inline and served rankings share one formula. Integer headroom:
# idf_s·S_TF·2.2 must stay < 2^63 — holds to ~10⁹-doc corpora at
# these scales.
# --------------------------------------------------------------------------
BM25_QUERIES = {
    0: "key agg row",
    1: "batch window spark",
    2: "slow fast scan",
    3: "join table column",
    4: "data value part",
}
BM25_K = 10
BM25_S_IDF = 10**6
BM25_S_TF = 10**4


def _bm25_query_terms(
    spark: SparkSession, queries: dict[int, str] = BM25_QUERIES
) -> tuple[DataFrame, list[str]]:
    """A query batch (BM25_QUERIES, or one stream micro-batch of it) as
    (query_id, term) rows, and its sorted vocabulary."""
    qterms = local_frame(
        spark,
        [(qid, t) for qid, q in queries.items() for t in q.split()],
        "query_id INT, term STRING",
    )
    terms = sorted({t for q in queries.values() for t in q.split()})
    return qterms, terms


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents")
    qterms, all_terms = _bm25_query_terms(spark)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # (doc_id, dl) is 16 bytes/doc — materializing it once is cheaper
    # than re-tokenizing the text column for the corpus scalars
    doclen = cut_lineage(
        docs.select(
            "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
        ),
        "bm25-doclen",
    )
    scalars = doclen.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").alias("t_toks"),
    )
    # scan-side prefilter: only query terms survive to the shuffle; the
    # match table is query-vocabulary-bounded, so materialize it once
    # for its two consumers (df and the scoring join)
    tf = cut_lineage(
        tok.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
        "bm25-tf",
    )
    # the query terms' postings in the persisted index's layout, built
    # in the plan and ranked by the one serving kernel
    postings = tf.join(doclen, "doc_id").withColumn("tbkt", _bm25_tbkt())
    return _bm25_serve_body(postings, scalars, qterms, all_terms)


def _bm25_oracle() -> str:
    qvals = ",\n    ".join(
        f"({qid}, '{t}')"
        for qid, q in sorted(BM25_QUERIES.items())
        for t in q.split()
    )
    all_terms = sorted({t for q in BM25_QUERIES.values() for t in q.split()})
    terms_sql = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
WITH q(query_id, term) AS (VALUES
    {qvals}
),
tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
doclen AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
scalars AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_toks
  FROM doclen
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT query_id, t.doc_id,
         CAST(SUM(
           ( ((s.n_docs - d.df) * {BM25_S_IDF} // d.df)
             * ( (22 * s.t_toks * t.tf * {BM25_S_TF})
                 // (10 * s.t_toks * t.tf + 3 * s.t_toks + 9 * l.dl * s.n_docs) ) )
           // {BM25_S_TF}
         ) AS BIGINT) AS score_s
  FROM tf t
  JOIN dft d ON d.term = t.term
  JOIN q ON q.term = t.term
  JOIN doclen l ON l.doc_id = t.doc_id
  CROSS JOIN scalars s
  GROUP BY query_id, t.doc_id
)
SELECT query_id, rank, doc_id, score_s FROM (
  SELECT query_id, doc_id, score_s,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_s DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {BM25_K}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# text_hll_merge — the sketch MERGEABILITY certificate: per-source HLL
# register tables are MAX-merged into a corpus sketch, and the merged
# estimate must equal the directly-computed corpus estimate BIT-FOR-
# BIT (both rows appear in the output; the hash gate proves the
# algebra). This is the 100 TB counting pattern — per-shard/day/source
# sketches of 64 ints each, re-aggregated along any dimension without
# touching raw data — attested as a result, not a prose claim.
# Per-source exact distincts ride along so the estimate error is
# inspectable per shard.
# --------------------------------------------------------------------------
def text_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.functions import md5_long
    from jobx_spark.lineage import cut_lineage
    from jobx_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_M,
        HLL_P,
        HLL_WBITS,
        hll_rho,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan: duplicates never change a register MAX or a
    # distinct count, so the distinct (source, token) table — the
    # vocabulary-sized sketch input, map-side-combinable to produce —
    # is materialized once and per-source registers, exact distincts,
    # the merged sketch AND the direct corpus sketch all derive from it
    # (every other shape re-scanned documents per consumer).
    st = cut_lineage(
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        ).distinct(),
        "hllm-st",
    )
    h = md5_long(F.concat(F.lit("hll:"), F.col("tok")))
    touched = (
        st.select(
            "source",
            F.pmod(h, F.lit(HLL_M)).cast("int").alias("register"),
            F.shiftright(h, HLL_P).alias("w"),
        )
        .select("source", "register", hll_rho(F.col("w")).alias("rho"))
        .groupBy("source", "register")
        .agg(F.max("rho").alias("max_rho"))
    )
    dense = (
        # source list from the DOCS table, not the exploded tokens: a
        # source whose documents are all NULL-text has no token rows but
        # the oracle's SELECT DISTINCT source FROM documents still lists
        # it (ADVICE r4) — the dense frame must agree.
        docs.select("source").distinct()
        .crossJoin(
            F.broadcast(
                spark.range(HLL_M).select(F.col("id").cast("int").alias("register"))
            )
        )
    )
    regs = cut_lineage(  # ≤ sources × 64 rows; read by 2 estimators
        dense.join(touched, ["source", "register"], "left").select(
            "source", "register", F.coalesce("max_rho", F.lit(0)).alias("max_rho")
        ),
        "hllm-regs",
    )
    est_cols = [
        (
            F.lit(HLL_EST_NUM)
            / F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_WBITS + 1} - max_rho)")
            ).cast("double")
        ).alias("hll_est"),
        F.sum((F.col("max_rho") == 0).cast("long")).alias("zero_registers"),
    ]
    per_src = regs.groupBy("source").agg(*est_cols)
    exact_src = st.groupBy("source").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    vocab = st.select("tok").distinct()
    exact_all = vocab.agg(F.count("*").alias("exact_distinct"))
    merged_regs = regs.groupBy("register").agg(F.max("max_rho").alias("max_rho"))
    merged = (
        merged_regs.agg(*est_cols)
        .crossJoin(F.broadcast(exact_all))
        .select(F.lit("__merged__").alias("source"), "hll_est",
                "zero_registers", "exact_distinct")
    )
    # direct corpus sketch from the corpus vocabulary (identical
    # registers: MAX over the same distinct token set) — must equal
    # __merged__
    direct_regs = (
        vocab.select(
            F.pmod(h, F.lit(HLL_M)).cast("int").alias("register"),
            F.shiftright(h, HLL_P).alias("w"),
        )
        .select("register", hll_rho(F.col("w")).alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )
    dense1 = spark.range(HLL_M).select(F.col("id").cast("int").alias("register"))
    direct = (
        dense1.join(F.broadcast(direct_regs), "register", "left")
        .select(F.coalesce("max_rho", F.lit(0)).alias("max_rho"))
        .agg(*est_cols)
        .crossJoin(F.broadcast(exact_all))
        .select(F.lit("__direct__").alias("source"), "hll_est",
                "zero_registers", "exact_distinct")
    )
    return (
        per_src.join(exact_src, "source")
        .select("source", "hll_est", "zero_registers", "exact_distinct")
        .unionByName(merged)
        .unionByName(direct)
        .orderBy("source")
    )


def _hll_merge_oracle() -> str:
    from jobx_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_M,
        HLL_P,
        HLL_WBITS,
    )

    wb1 = HLL_WBITS + 1
    h = _MD5.format(e="('hll:' || tok)")
    est = (
        f"{HLL_EST_NUM!r} / CAST(SUM(1::BIGINT << ({wb1} - max_rho)) AS DOUBLE)"
    )
    zeros = "CAST(SUM(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)"
    return f"""
WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
hashed AS (SELECT source, {h} AS h FROM tok),
touched AS (
  SELECT source, CAST(h % {HLL_M} AS INTEGER) AS register,
         MAX(CASE WHEN (h >> {HLL_P}) = 0 THEN {wb1}
                  ELSE {wb1} - length(bin(h >> {HLL_P})) END) AS max_rho
  FROM hashed GROUP BY 1, 2
),
srcs AS (SELECT DISTINCT source FROM documents),
regs AS (
  SELECT s.source, CAST(r.range AS INTEGER) AS register,
         CAST(COALESCE(t.max_rho, 0) AS INTEGER) AS max_rho
  FROM srcs s CROSS JOIN range({HLL_M}) r
  LEFT JOIN touched t ON t.source = s.source AND t.register = r.range
),
per_src AS (
  SELECT source, {est} AS hll_est, {zeros} AS zero_registers
  FROM regs GROUP BY source
),
exact_src AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM tok GROUP BY source
),
exact_all AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct FROM tok),
merged_regs AS (
  SELECT register, MAX(max_rho) AS max_rho FROM regs GROUP BY register
),
merged AS (
  SELECT '__merged__' AS source, {est} AS hll_est, {zeros} AS zero_registers
  FROM merged_regs
),
direct_touched AS (
  SELECT CAST(h % {HLL_M} AS INTEGER) AS register,
         MAX(CASE WHEN (h >> {HLL_P}) = 0 THEN {wb1}
                  ELSE {wb1} - length(bin(h >> {HLL_P})) END) AS max_rho
  FROM hashed GROUP BY 1
),
direct_regs AS (
  SELECT CAST(COALESCE(t.max_rho, 0) AS INTEGER) AS max_rho
  FROM range({HLL_M}) r LEFT JOIN direct_touched t ON t.register = r.range
),
direct AS (
  SELECT '__direct__' AS source, {est} AS hll_est, {zeros} AS zero_registers
  FROM direct_regs
)
SELECT p.source, p.hll_est, p.zero_registers, e.exact_distinct
FROM per_src p JOIN exact_src e ON e.source = p.source
UNION ALL
SELECT m.source, m.hll_est, m.zero_registers, a.exact_distinct
FROM merged m CROSS JOIN exact_all a
UNION ALL
SELECT d.source, d.hll_est, d.zero_registers, a.exact_distinct
FROM direct d CROSS JOIN exact_all a
ORDER BY source
"""


# --------------------------------------------------------------------------
# text_domain_signature — per-source distinctive vocabulary: each
# source's top-10 terms by LIFT, the integer odds ratio
# P̂(term|source)/P̂(term|corpus) = (c_st·T·S) div (T_s·c_t). This is
# the domain-mixture diagnostic behind source labeling, mixture
# re-weighting and contamination triage (a "crawl" shard whose
# signature terms are another shard's boilerplate is a mirror).
# Terms below MIN_CORPUS_TF are dropped — hapax terms always have
# maximal lift and zero diagnostic value. Shape: one vocabulary-sized
# (source, term) count shuffle; corpus totals are a second aggregation
# of THAT table (never a rescan); T rides a broadcast scalar; top-k is
# a per-source window over the per-source slice of the count table.
# Integer headroom: c_st·T·S < 2^63 holds to ~10¹²-token corpora at
# S = 10⁴ with per-source term counts ≤ 10⁶ — beyond that, drop S a
# decade.
# --------------------------------------------------------------------------
DOMSIG_SCALE = 10**4
DOMSIG_MIN_TF = 5
DOMSIG_K = 10


def text_domain_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from jobx_spark.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    cst = cut_lineage(
        tok.groupBy("source", "term").agg(F.count("*").alias("c_st")),
        "domsig-cst",
    )
    ts = cst.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    ct = cst.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    tot = ct.agg(F.sum("c_t").alias("t_corpus"))
    scored = (
        cst.join(ct.filter(F.col("c_t") >= DOMSIG_MIN_TF), "term")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "term", "c_st",
            F.expr(
                f"(c_st * t_corpus * {DOMSIG_SCALE}) div (t_s * c_t)"
            ).alias("lift_s"),
        )
    )
    w = W.partitionBy("source").orderBy(
        F.col("lift_s").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DOMSIG_K)
        .select("source", "rk", "term", "c_st", "lift_s")
        .orderBy("source", "rk")
    )


ORACLE_TEXT_DOMAIN_SIGNATURE = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
cst AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
  FROM tok GROUP BY 1, 2
),
ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM cst GROUP BY source),
ct AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY term),
tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_corpus FROM ct),
scored AS (
  SELECT cst.source, cst.term, cst.c_st,
         (cst.c_st * t.t_corpus * {DOMSIG_SCALE}) // (ts.t_s * ct.c_t)
             AS lift_s
  FROM cst
  JOIN ct ON ct.term = cst.term AND ct.c_t >= {DOMSIG_MIN_TF}
  JOIN ts ON ts.source = cst.source
  CROSS JOIN tot t
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY lift_s DESC, term ASC) AS rk
  FROM scored
)
SELECT source, CAST(rk AS BIGINT) AS rk, term, c_st, lift_s
FROM ranked WHERE rk <= {DOMSIG_K}
ORDER BY source, rk
"""


# --------------------------------------------------------------------------
# text_source_divergence — the source×source vocabulary-distance
# matrix: total-variation distance between every pair of sources'
# unigram distributions, in integer ppm. text_domain_signature says
# what makes each source DISTINCTIVE; this says which source pairs are
# REDUNDANT (low TVD → near-identical term statistics → candidates for
# merging or down-weighting in the mix) and which are far apart (the
# diversity a mixing plan should preserve). The one-sided-mass
# identity keeps it exact on an INNER join only:
#   Σ_t |p_a − p_b| = Σ_shared |p_a − p_b|
#                   + (Σ_all p_a − Σ_shared p_a) + (Σ_all p_b − Σ_shared p_b)
# (terms absent from a source contribute their full share on the other
# side), so the pair stage never needs per-pair full-outer term joins.
# The matrix itself is DENSE over the src_a < src_b grid (ADVICE r7):
# a pair sharing zero vocabulary still gets its row — shared aggregates
# default to 0, TVD degenerates to (mass_a + mass_b) div 2, the
# maximal-divergence case the matrix exists to surface.
# All shares pre-floored to ppm — exact int64 at any corpus size.
# Scale shape: ONE corpus scan builds the (source, term) count table;
# per-source totals re-aggregate it; the pair stage self-joins that
# vocabulary-bounded table on term (per-term fan-out ≤ sources², never
# corpus-sized) and the output is sources²/2 rows — driver-tiny.
# --------------------------------------------------------------------------
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan: the vocabulary-sized (source, term, c_st) table
    # materializes once (the domsig device) — without it every
    # downstream consumer (totals, shares, mass, both pair sides)
    # re-derives it and the plan re-scans the corpus 8× (caught by the
    # r7 PLANS.md audit: 16 shuffles → this shape)
    cst = cut_lineage(
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st")),
        "srcdiv-cst",
    )
    ts = cst.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    p = cst.join(F.broadcast(ts), "source").select(
        "source", "term", F.expr("c_st * 1000000 div t_s").alias("p_ppm")
    )
    mass = p.groupBy("source").agg(F.sum("p_ppm").alias("mass_ppm"))
    a, b = p.alias("a"), p.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).alias("shared_terms"),
            F.sum(F.abs(F.col("a.p_ppm") - F.col("b.p_ppm"))).alias("d_sh"),
            F.sum("a.p_ppm").alias("pa_sh"),
            F.sum("b.p_ppm").alias("pb_sh"),
        )
    )
    ma = mass.select(
        F.col("source").alias("src_a"), F.col("mass_ppm").alias("mass_a")
    )
    mb = mass.select(
        F.col("source").alias("src_b"), F.col("mass_ppm").alias("mass_b")
    )
    # DENSE src_a < src_b grid (ADVICE r7): the shared stage is an
    # INNER term join, so a pair sharing ZERO vocabulary would vanish
    # from the matrix entirely — yet that pair's TVD is well-defined
    # ((mass_a + mass_b) div 2, the maximal-divergence case the matrix
    # most needs to show). Build every pair from the |sources|-row mass
    # table (broadcast inequality join, driver-tiny) and left-join the
    # shared aggregates, defaulting them to 0.
    grid = ma.join(F.broadcast(mb), F.col("src_a") < F.col("src_b"))
    return (
        grid.join(F.broadcast(shared), ["src_a", "src_b"], "left")
        .select(
            "src_a", "src_b",
            F.coalesce("shared_terms", F.lit(0)).alias("shared_terms"),
            F.expr(
                "(coalesce(d_sh, 0) + (mass_a - coalesce(pa_sh, 0))"
                " + (mass_b - coalesce(pb_sh, 0))) div 2"
            ).alias("tvd_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


ORACLE_TEXT_SOURCE_DIVERGENCE = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
cst AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
  FROM tok GROUP BY 1, 2
),
ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM cst GROUP BY source),
p AS (
  SELECT cst.source, cst.term, cst.c_st * 1000000 // ts.t_s AS p_ppm
  FROM cst JOIN ts ON ts.source = cst.source
),
mass AS (SELECT source, CAST(SUM(p_ppm) AS BIGINT) AS mass_ppm FROM p GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared_terms,
         CAST(SUM(abs(a.p_ppm - b.p_ppm)) AS BIGINT) AS d_sh,
         CAST(SUM(a.p_ppm) AS BIGINT) AS pa_sh,
         CAST(SUM(b.p_ppm) AS BIGINT) AS pb_sh
  FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT g.src_a, g.src_b,
       CAST(coalesce(s.shared_terms, 0) AS BIGINT) AS shared_terms,
       CAST((coalesce(s.d_sh, 0)
             + (g.mass_a - coalesce(s.pa_sh, 0))
             + (g.mass_b - coalesce(s.pb_sh, 0))) // 2
            AS BIGINT) AS tvd_ppm
FROM (SELECT ma.source AS src_a, mb.source AS src_b,
             ma.mass_ppm AS mass_a, mb.mass_ppm AS mass_b
      FROM mass ma JOIN mass mb ON ma.source < mb.source) g
LEFT JOIN shared s ON s.src_a = g.src_a AND s.src_b = g.src_b
ORDER BY g.src_a, g.src_b
"""


# --------------------------------------------------------------------------
# text_winnow_fingerprints — winnowing document fingerprints
# (Schleimer, Wilkerson & Aiken 2003 — the MOSS algorithm): every
# WIN_K-gram is hashed and each WIN_W-window of consecutive hashes
# contributes its MINIMUM (rightmost on ties) to the fingerprint set,
# guaranteeing detection of shared substrings ≥ WIN_K+WIN_W−1 tokens
# with expected density 2/(WIN_W+1) — the position-robust sketch
# behind plagiarism/boilerplate matchers, complementing the global
# rolling hash (text_fingerprint) and the full span census
# (dedup_substring_spans) at ~1/3 the selected-hash volume.
# Single-pass shape: hash and RIGHTMOST-tiebreak position pack into
# ONE int64 (hw·2²² + (2²²−1−pos), hw 40-bit so the product stays
# < 2⁶²), making the per-window argmin a plain windowed MIN — no
# band join, no second pass; the ROWS frame sorts per doc JVM-side
# and spills. Census per doc: distinct selected positions + the
# XOR of selected hashes (set-equality attestation).
# --------------------------------------------------------------------------
WIN_K, WIN_W = 4, 4
# hash 36 bits / position 26 bits: the packed key stays < 2^62 and a
# document may carry up to 2^26 ≈ 67M grams (~0.4 GB of text) before
# the position field would wrap — far beyond any real document; the
# 36-bit fingerprint space is ample for winnowing (ties only matter
# WITHIN a w=4 window, where collisions are ~w²/2^36).
_WIN_HBITS, _WIN_PBITS = 36, 26


def winnow_selected(docs: DataFrame) -> DataFrame:
    """The winnowing selection core: (doc_id, sel_pos, sel_h) — each
    doc's selected fingerprint positions/hashes. Shared by the per-doc
    census (text_winnow_fingerprints) and the MOSS matching step
    (dedup_winnow_pairs)."""
    from pyspark.sql import Window as W

    from jobx_spark.operators.text import gram_rows

    # Arrow gram producer with positions — h is md5_long(gram), i.e.
    # exactly the old posexplode+md5 pair, built batch-side
    grams = gram_rows(
        docs, ["doc_id"], "text", ns=(WIN_K,), with_pos=True
    ).select(
        "doc_id", "pos",
        F.pmod(F.col("h"), F.lit(1 << _WIN_HBITS)).alias("hw"),
    )
    pmax = (1 << _WIN_PBITS) - 1
    keyed = grams.select(
        "doc_id", "pos",
        (
            F.col("hw") * F.lit(1 << _WIN_PBITS)
            + (F.lit(pmax) - F.col("pos"))
        ).alias("key"),
    )
    frame = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(-(WIN_W - 1), 0)
    )
    wins = keyed.select(
        "doc_id",
        F.min("key").over(frame).alias("wkey"),
        F.count("*").over(frame).alias("in_frame"),
    ).filter(F.col("in_frame") == WIN_W)
    return wins.select(
        "doc_id",
        (F.lit(pmax) - F.pmod(F.col("wkey"), F.lit(1 << _WIN_PBITS)))
        .alias("sel_pos"),
        F.expr(f"wkey div {1 << _WIN_PBITS}").alias("sel_h"),
    ).distinct()


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        winnow_selected(docs).groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.bit_xor("sel_h").alias("fp_xor"),
            F.min("sel_h").alias("fp_min"),
        )
        .orderBy("doc_id")
    )


def _winnow_shingles_sql(n: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({_TOKS})-{n - 1}, 0)),"
        f" i -> array_to_string(list_slice({_TOKS}, i, i+{n - 1}), ' '))"
    )


# the selection CTE chain, shared with dedup_winnow_pairs' oracle
WINNOW_SEL_CTES = f"""g AS (
  SELECT doc_id, unnest({_winnow_shingles_sql(WIN_K)}) AS g,
         generate_subscripts({_winnow_shingles_sql(WIN_K)}, 1) - 1 AS pos
  FROM documents
), keyed AS (
  SELECT doc_id, pos,
         ({_MD5.format(e='g')} % {1 << _WIN_HBITS}) * {1 << _WIN_PBITS}
           + ({(1 << _WIN_PBITS) - 1} - pos) AS key
  FROM g
), wins AS (
  SELECT doc_id,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW)
             AS wkey,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW)
             AS in_frame
  FROM keyed
), sel AS (
  SELECT DISTINCT doc_id,
         {(1 << _WIN_PBITS) - 1} - (wkey % {1 << _WIN_PBITS}) AS sel_pos,
         wkey // {1 << _WIN_PBITS} AS sel_h
  FROM wins WHERE in_frame = {WIN_W}
)"""

ORACLE_TEXT_WINNOW = f"""
WITH {WINNOW_SEL_CTES}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       bit_xor(sel_h) AS fp_xor, min(sel_h) AS fp_min
FROM sel GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text_zipf_census — rank-frequency doubling census: corpus token
# frequencies ranked (count desc, token asc), then bucketed by rank
# OCTAVE (floor log₂ rank via length(bin())−1). A healthy natural-
# language corpus roughly halves total count per octave (Zipf s ≈ 1);
# generated/templated text bends the curve — the corpus-health
# diagnostic next to TTR and the perplexity bands, in pure integer
# form (no regression, no libm, no overflow headroom games).
# Shape: one vocabulary count shuffle; the global rank window runs
# over the VOCABULARY table (≪ corpus; JVM sort, spills); the census
# is ~⌈log₂ V⌉ rows.
# --------------------------------------------------------------------------
def text_zipf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    rk = F.row_number().over(
        W.orderBy(F.col("c").desc(), F.col("term").asc())
    )
    ranked = counts.select(
        "c", rk.alias("rank")
    ).select(
        (F.length(F.bin(F.col("rank"))) - 1).cast("long").alias("octave"),
        "c",
    )
    return (
        ranked.groupBy("octave")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("c").alias("total_count"),
            F.max("c").alias("max_count"),
            F.min("c").alias("min_count"),
        )
        .orderBy("octave")
    )


ORACLE_TEXT_ZIPF = f"""
WITH counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TOKS}) AS term FROM documents)
  GROUP BY term
),
ranked AS (
  SELECT CAST(length(bin(row_number() OVER (ORDER BY c DESC, term ASC)))
              - 1 AS BIGINT) AS octave, c
  FROM counts
)
SELECT octave, CAST(count(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS total_count,
       max(c) AS max_count, min(c) AS min_count
FROM ranked GROUP BY octave
ORDER BY octave
"""


# --------------------------------------------------------------------------
# text_ngram_novelty — memorization/novelty audit (the RAVEN-style
# readout): for every VAL-split document, the share of its token
# 8-grams never seen in the TRAIN split, censused by novelty decile
# per source. Low-novelty val docs are the ones a model can ace by
# recall rather than generalization — this is the eval-integrity audit
# that complements dedup_decontaminate (which *removes* contaminated
# train docs; this *measures* how much of the val set remains trivial
# after whatever dedup ran). The split gate is the SAME md5 gate
# pipe_split_train_val_test attests, so the audit composes with the
# shipped split manifest. Val docs shorter than NOVELTY_N tokens have
# no grams and drop out (stated contract, identical both engines).
# NOVELTY_N is 8 in the literature; here it is 3 because the synthetic
# corpus draws from a ~30-word vocabulary, so 8-grams never repeat and
# the hit path would go unattested — at n=3 the gate exercises hits
# AND misses across deciles, which is the stronger attestation.
# Scale shape: one corpus scan explodes grams; the TRAIN gram set is a
# distinct on the 60-bit gram hash (map-side combinable, gram-bounded
# — the dedup_substring_spans shuffle class); the VAL side (5% of the
# corpus) probes it with a hash equi-join (index-probe shape, never
# train×train); per-doc then per-(source, decile) censuses are
# QI-bounded. Novelty is integer: ((n−hits)·100 div n) div 10.
# --------------------------------------------------------------------------
NOVELTY_N = 3


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.functions import md5_long

    docs = load_table(spark, sf_dir, "documents")
    gate = md5_long(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    from jobx_spark.operators.text import gram_rows

    # Arrow gram producer (r12 §7 device, guide §4.2): the column form
    # built every n-gram through an interpreted CodegenFallback
    # transform lambda. Same tokenization, same md5-hex-15 hash, same
    # "< n tokens → no rows" guard — bit-identical gram stream.
    t = docs.select("doc_id", "source", gate.alias("gate"), "text")
    g = gram_rows(t, ["doc_id", "source", "gate"], ns=(NOVELTY_N,))
    train = (
        g.filter(F.col("gate") < 90).select("h").distinct()
        .withColumn("seen", F.lit(1))
    )
    val = g.filter((F.col("gate") >= 90) & (F.col("gate") < 95))
    per_doc = (
        val.join(train, "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("hits"),
        )
    )
    decile = F.expr("((n_grams - hits) * 100 div n_grams) div 10")
    return (
        per_doc.groupBy("source", decile.alias("novelty_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("sum_grams"),
            F.sum("hits").alias("sum_hits"),
        )
        .orderBy("source", "novelty_decile")
    )


_NOV_GATE = "(" + _MD5.format(e="'split:'||CAST(doc_id AS VARCHAR)") + ") % 100"
_NOV_GRAMS = (
    f"list_transform(generate_series(1, greatest(len(toks) - {NOVELTY_N - 1}, 0)),"
    f" i -> array_to_string(list_slice(toks, i, i + {NOVELTY_N - 1}), ' '))"
)
ORACLE_TEXT_NGRAM_NOVELTY = f"""
WITH g AS (
  SELECT doc_id, source, gate, {_MD5.format(e='gram')} AS h
  FROM (
    SELECT doc_id, source, {_NOV_GATE} AS gate,
           unnest({_NOV_GRAMS}) AS gram
    FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
  )
), tr AS (
  SELECT DISTINCT h FROM g WHERE gate < 90
), pd AS (
  SELECT v.doc_id, v.source,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM g v LEFT JOIN tr ON v.h = tr.h
  WHERE v.gate >= 90 AND v.gate < 95
  GROUP BY 1, 2
)
SELECT source,
       ((n_grams - hits) * 100 // n_grams) // 10 AS novelty_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
       CAST(SUM(hits) AS BIGINT) AS sum_hits
FROM pd GROUP BY 1, 2
ORDER BY source, novelty_decile
"""


# --------------------------------------------------------------------------
# text_rake_keywords — RAKE keyword extraction (Rose, Engel, Cramer &
# Cowley 2010): candidate phrases are maximal runs of non-stopword
# tokens (stopwords act as delimiters — the UNION of the per-language
# lists, the label-robust choice: a mislabeled document still splits
# on any language's function words, where per-label lists left 3/4 of
# this corpus as whole-document "phrases"), each word scores
# deg(w)/freq(w) — degree = Σ length of the
# phrases its occurrences sit in, frequency = occurrence count — and a
# phrase scores the sum of its words' scores; runs longer than
# RAKE_MAX_WORDS are dropped (the standard max-length knob — a
# 90-token run is a failed split, not a keyword). Output: the global
# top RAKE_K phrases with score, occurrence count, and length. The
# unsupervised keyword table a corpus curator reads before naming a
# domain cluster or building a blocklist.
# Exactness: scores are integer ppm (deg·10⁶ div freq; phrase score =
# Σ ppm), phrase runs come from the gaps-and-islands identity
# grp = pos − row_number() (pure integer), ties break on phrase text.
# Scale shape: one tokenize scan; the islands window partitions by
# doc_id (doc-length-bounded, declared); freq/deg are map-side-
# combinable aggregations over the phrase-token table; the word-score
# join is keyed by term (vocabulary-sized build side); phrase assembly
# is one (doc, run) groupBy; the final cut is a distributed
# orderBy().limit(K) — TakeOrderedAndProject, never a global sort —
# with rank recomputed over the K-row result (the pipe_vocab_topk
# device).
# --------------------------------------------------------------------------
RAKE_K = 25
RAKE_MAX_WORDS = 8


def _rake_stopwords() -> list[str]:
    from jobx_spark.operators.text import LANG_STOPWORDS

    return sorted({w for ws in LANG_STOPWORDS.values() for w in ws})


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from jobx_spark.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    # scan-side literal filter — the delimiter set is a few dozen words
    ns = tok.filter(~F.col("term").isin(_rake_stopwords()))
    # ONE corpus scan: the islands table feeds three consumers (run
    # lengths, word stats, phrase assembly) — uncut, each re-tokenized
    # documents and the audited plan showed 4 corpus scans
    ph = cut_lineage(
        ns.withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        ),
        "rake-ph",
    )
    plen = (
        ph.groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("plen"))
        .filter(F.col("plen") <= RAKE_MAX_WORDS)
    )
    phk = ph.join(plen, ["doc_id", "grp"])
    wstat = (
        phk.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .withColumn(
            "wscore_ppm", F.expr("(deg * 1000000) div freq").cast("long")
        )
    )
    pscore = (
        phk.join(wstat.select("term", "wscore_ppm"), "term")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "term"))
                    ),
                    lambda x: x["term"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore_ppm").cast("long").alias("score_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )
    phrases = pscore.groupBy("phrase").agg(
        F.min("score_ppm").cast("long").alias("score_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("n_words").cast("long").alias("n_words"),
    )
    top = phrases.orderBy(
        F.col("score_ppm").desc(), F.col("phrase").asc()
    ).limit(RAKE_K)
    wr = W.partitionBy().orderBy(F.col("score_ppm").desc(), F.col("phrase"))
    return top.select(
        F.row_number().over(wr).cast("int").alias("rank"),
        "phrase",
        "score_ppm",
        "n_occurrences",
        "n_words",
    ).orderBy("rank")


def _rake_oracle() -> str:
    terms_sql = ", ".join(f"'{w}'" for w in _rake_stopwords())
    return f"""
WITH tok AS (
  SELECT doc_id, g.i AS pos, t[g.i] AS term
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
       unnest(generate_series(1, len(t))) AS g(i)
),
ns AS (
  SELECT doc_id, pos, term FROM tok WHERE term NOT IN ({terms_sql})
),
ph AS (
  SELECT doc_id, pos, term,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM ns
),
plen AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen
  FROM ph GROUP BY doc_id, grp
  HAVING count(*) <= {RAKE_MAX_WORDS}
),
phk AS (SELECT ph.*, plen.plen FROM ph JOIN plen USING (doc_id, grp)),
wstat AS (
  SELECT term, CAST(count(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM phk GROUP BY term
),
ws AS (SELECT term, CAST(deg * 1000000 // freq AS BIGINT) AS wscore_ppm
       FROM wstat),
pscore AS (
  SELECT phk.doc_id, phk.grp,
         string_agg(phk.term, ' ' ORDER BY phk.pos) AS phrase,
         CAST(SUM(ws.wscore_ppm) AS BIGINT) AS score_ppm,
         CAST(count(*) AS BIGINT) AS n_words
  FROM phk JOIN ws ON ws.term = phk.term
  GROUP BY phk.doc_id, phk.grp
),
phrases AS (
  SELECT phrase, CAST(MIN(score_ppm) AS BIGINT) AS score_ppm,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(MIN(n_words) AS BIGINT) AS n_words
  FROM pscore GROUP BY phrase
),
top AS (
  SELECT * FROM phrases ORDER BY score_ppm DESC, phrase ASC LIMIT {RAKE_K}
)
SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase ASC)
            AS INTEGER) AS rank,
       phrase, score_ppm, n_occurrences, n_words
FROM top
ORDER BY rank
"""


# --------------------------------------------------------------------------
# text_bm25_index_* — the persisted INVERTED INDEX, the third serving
# family beside vectors (ann_index_*) and near-dup bands
# (dedup_index_*): text_bm25_topk recomputes TF/DF/doc-lengths over the
# whole corpus inside every query plan; a production retrieval stack
# pays that once at build time and serves from the artifact.
#
#   text_bm25_index_build — ONE corpus tokenization materializes the
#     full-vocabulary postings table (term, doc_id, tf) with the
#     per-posting doc length dl, partitioned by the term bucket
#     tbkt = h('bm25:'||term) mod TBKT and sorted by term within each
#     bucket, plus a 1-row corpus-scalars table (n_docs, t_toks). The
#     layout is _bm25_postings', the one the append family writes too.
#     Published by manifest (jobx_spark.artifacts) like the other
#     serving artifacts. Returns a per-bucket census planned over the
#     ON-DISK postings — the gate hash attests the artifact.
#   text_bm25_index_serve — the online path: the query's term buckets
#     are computed DRIVER-SIDE from the query constants (pure Python
#     md5 arithmetic — no collect, no corpus touch), the postings scan
#     is statically partition-pruned to those buckets with the term
#     list pushed to parquet, df is the per-term posting count over
#     exactly those rows (every posting of a query term lies in its
#     bucket), and the SAME scaled-integer BM25 formula ranks — output
#     contract identical to text_bm25_topk, oracle verbatim: the
#     persisted path provably changes the execution shape, not the
#     ranking. Zero documents scans in the serve plan.
#   stream_bm25_index_serve (streams.py) — the query STREAM served
#     per micro-batch against the frozen index, stateless.
#
# 100 TB story: the index is the corpus-sized artifact (postings ~
# token count), but a query reads |q| buckets ≈ vocabulary/TBKT-th of
# it — partition pruning + parquet term-range skipping inside the
# bucket (rows sorted by term); serving joins NOTHING corpus-sized
# (dl rides on the posting; df is a query-vocabulary-bounded aggregate
# of the pruned scan; the query terms and the 1-row scalars broadcast).
# --------------------------------------------------------------------------
TBKT = 16


def _bm25_bucket_py(term: str) -> int:
    import hashlib as _h

    return int(_h.md5(f"bm25:{term}".encode()).hexdigest()[:15], 16) % TBKT


def _bm25_index_write(
    spark: SparkSession, sf_dir: str, ppath: str, spath: str
) -> None:
    docs = load_table(spark, sf_dir, "documents")
    # the append family's layout: one file per bucket, sorted by term
    BM25_APPEND.layout(_bm25_postings(docs)).write.mode(
        "overwrite"
    ).partitionBy("tbkt").parquet(ppath)
    _bm25_corpus_scalars(docs).write.mode("overwrite").parquet(spath)


BM25_INDEX = index.Versioned(
    "bm25-index", ("postings", "scalars"), _bm25_index_write
)


def text_bm25_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ppath, _spath = BM25_INDEX.build(spark, sf_dir)
    return index.census(
        spark, {"tbkt": TBKT}, spark.read.parquet(ppath),
        {
            "n_postings": index.rows(),
            "n_terms": F.count_distinct("term").cast("long"),
            "xor_doc_ids": index.xor("doc_id"),
        },
    )


def _bm25_index_build_oracle() -> str:
    bkt = _MD5.format(e="'bm25:'||term")
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term),
p AS (SELECT doc_id, term, ({bkt}) % {TBKT} AS tbkt FROM tf),
census AS (
  SELECT tbkt, CAST(count(*) AS BIGINT) AS n_postings,
         CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
         CAST(bit_xor(doc_id) AS BIGINT) AS xor_doc_ids
  FROM p GROUP BY tbkt
)
SELECT CAST(d.b AS INTEGER) AS tbkt,
       COALESCE(c.n_postings, 0) AS n_postings,
       COALESCE(c.n_terms, 0) AS n_terms,
       COALESCE(c.xor_doc_ids, 0) AS xor_doc_ids
FROM range({TBKT}) AS d(b) LEFT JOIN census c ON c.tbkt = d.b
ORDER BY tbkt
"""


def _bm25_serve_body(
    postings: DataFrame, scalars: DataFrame, qterms: DataFrame,
    terms: list[str],
) -> DataFrame:
    """The one BM25 scoring kernel, over any _bm25_postings layout (the
    built index, the appended segments, or text_bm25_topk's in-plan
    postings): bucket-pruned postings scan, df recomputed over exactly
    the pruned rows (every posting of a query term lies in its
    bucket), broadcast query terms and 1-row scalars, and the
    scaled-integer BM25 formula. Shared by the inline ranking, the
    batch serve, its streaming twin and the append census."""
    from pyspark.sql import Window as W

    buckets = sorted({_bm25_bucket_py(t) for t in terms})
    post = postings.filter(
        F.col("tbkt").isin(buckets) & F.col("term").isin(sorted(terms))
    )
    df_t = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        post.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            "query_id",
            "doc_id",
            F.expr(f"(( (n_docs - df) * {BM25_S_IDF} ) div df)").alias(
                "idf_s"
            ),
            F.expr(
                f"(22 * t_toks * tf * {BM25_S_TF})"
                f" div (10 * t_toks * tf + 3 * t_toks + 9 * dl * n_docs)"
            ).alias("tf_part_s"),
        )
        .select(
            "query_id", "doc_id",
            F.expr(f"(idf_s * tf_part_s) div {BM25_S_TF}").alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score_s"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score_s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score_s")
        .orderBy("query_id", "rank")
    )


def text_bm25_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ppath, spath = BM25_INDEX.ensure(spark, sf_dir)
    qterms, all_terms = _bm25_query_terms(spark)
    return _bm25_serve_body(
        spark.read.parquet(ppath), spark.read.parquet(spath), qterms,
        all_terms,
    )


# --------------------------------------------------------------------------
# text_bm25_index_append / text_bm25_index_compact — the ingest-commit
# and maintenance jobs completing the inverted-index lifecycle
# (build → serve → APPEND → COMPACT), mirroring the other two serving
# families (dedup_index_append/compact, ann_index_append/compact).
#
# The BM25-specific twist (absent from bands and vectors): df, n_docs
# and avgdl are CORPUS-GLOBAL. A df stored on every posting would go
# stale in the base segment on each ingest, so the postings layout
# (_bm25_postings, shared with the build) carries no df at all:
#
#   postings/ segments (seg=base|batch, tbkt=0..15): (term, doc_id,
#     tf, dl) — the batch is written as a fresh seg=batch segment and
#     published by manifest beside the re-listed base (re-runs replace
#     the segment's entry: idempotent, exactly dedup_index_append's
#     discipline);
#   scalars_base — (n_docs, t_toks) over the base corpus, written
#     once with the base segment;
#   scalars — REWRITTEN on every append as scalars_base + the batch's
#     own deltas (both addends derived from fixed inputs, so a re-run
#     writes the identical row — never read-modify-write of its own
#     previous output), listed by the same manifest.
#
# Serving recomputes df FROM THE PRUNED SCAN (_bm25_serve_body, the
# one kernel for the built and the appended index): the query's term
# buckets are known driver-side, the postings scan prunes to those
# ≤|q| partitions with the term list pushed down, and df = per-term
# posting count over exactly those rows — a query-vocabulary-bounded
# aggregate (≤15 terms), no corpus-sized join, no separate terms
# artifact to go stale. The serve plan scans ONLY postings + the 1-row
# scalars table.
#
# text_bm25_index_append returns a per-bucket census with THREE
# certificates (the gate hash attests all of them):
#   append_matches_rebuild — per tbkt, posting count AND the XOR of
#     the full posting-content hash md5('p:'||term||':'||doc_id||':'||
#     tf||':'||dl) of the on-disk base∪batch equals an in-plan rebuild
#     over the whole corpus (tokenization is per-doc deterministic, so
#     append == rebuild bit for bit; the rebuild leg is
#     attestation-only, never run in production);
#   scalars_match_rebuild — the republished scalars equal re-derived
#     whole-corpus scalars (n_docs AND t_toks);
#   serve_matches_rebuild — the ranking served from the appended
#     artifact equals text_bm25_topk's train-in-plan ranking over the
#     full corpus, row for row (the analogue of dedup's
#     append≡rebuild taken all the way to the OUTPUT contract: df
#     reconstruction + stale-free scalars provably reproduce the
#     global statistics).
#
# 100 TB story: an ingest writes one batch-sized delta segment plus a
# 1-row scalars table; nothing corpus-sized moves. Compaction is one
# clustered rewrite, embarrassingly parallel by term bucket, after
# which a query reads one file per probed bucket instead of
# 1 + n_appends.
# --------------------------------------------------------------------------
def _bm25_postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl, tbkt) postings frame — the one postings
    layout, built and appended (no df: corpus-global, recomputed at
    serve time from the pruned scan)."""
    from pyspark.sql import Window as W

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # dl = Σ tf per doc, read off the already-reduced tf table with a
    # per-doc window (bounded by document length) — previously a SECOND
    # explode+scan of the token stream plus a join back on doc_id
    # (guide §1.2-1: one pass, §2.3: aggregate before you shuffle).
    # Identical values: count over exploded tokens ≡ sum of per-term
    # counts; a doc with NULL/empty text has no tf rows either way.
    return tf.withColumn(
        "dl", F.sum("tf").over(W.partitionBy("doc_id")).cast("long")
    ).withColumn("tbkt", _bm25_tbkt())


def _bm25_tbkt() -> "F.Column":
    """A posting's term bucket: md5('bm25:'||term) mod TBKT, the
    Spark twin of :func:`_bm25_bucket_py`."""
    from jobx_spark.functions import md5_long

    return F.pmod(
        md5_long(F.concat(F.lit("bm25:"), F.col("term"))), F.lit(TBKT)
    )


def _bm25_posting_hash() -> "F.Column":
    """Full-content posting hash — the XOR'd certificate unit (term
    membership alone can collide within a bucket; hashing tf and dl in
    makes the append≡rebuild certificate attest the scoring inputs,
    not just membership)."""
    from jobx_spark.functions import md5_long

    return md5_long(
        F.concat(
            F.lit("p:"), F.col("term"), F.lit(":"),
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("tf").cast("string"), F.lit(":"),
            F.col("dl").cast("string"),
        )
    )


def _bm25_corpus_scalars(docs: DataFrame) -> DataFrame:
    """(n_docs, t_toks) with text_bm25_topk's exact conventions:
    n_docs counts every document row, t_toks sums size(tokens) with
    nulls skipped."""
    return docs.select(
        F.size(tokens(F.col("text"))).cast("long").alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias("t_toks"),
    )


def _bm25_append_base(
    spark: SparkSession, sf_dir: str, gen: index.Generation
) -> DataFrame:
    from jobx_spark.queries.dedup import INCR_SPLIT_ID

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < INCR_SPLIT_ID)
    _bm25_corpus_scalars(corpus).write.mode("overwrite").parquet(
        gen.part("scalars_base")
    )
    return _bm25_postings(corpus)


BM25_APPEND = index.Segmented(
    "bm25-index-append", "postings", "tbkt", TBKT, ("term", "doc_id"),
    _bm25_append_base,
)
# stream_bm25_index_append's own root, disjoint from the batch append's
BM25_INGEST = dataclasses.replace(BM25_APPEND, family="bm25-index-ingest")


def _bm25_republish_scalars(
    spark: SparkSession, gen: index.Generation, batch: DataFrame
) -> None:
    """scalars = scalars_base + the batch's deltas — both addends
    independent of the part being written, so a re-run writes the
    identical row."""
    bd = _bm25_corpus_scalars(batch).select(
        F.col("n_docs").alias("b_docs"), F.col("t_toks").alias("b_toks")
    )
    (
        spark.read.parquet(gen["scalars_base"])
        .crossJoin(bd)
        .select(
            (F.col("n_docs") + F.col("b_docs")).alias("n_docs"),
            (F.col("t_toks") + F.col("b_toks")).alias("t_toks"),
        )
        .write.mode("overwrite")
        .parquet(gen.part("scalars"))
    )


def text_bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.queries.dedup import INCR_SPLIT_ID

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT_ID)

    def write(gen: index.Generation) -> None:
        # THE APPEND: batch-side-only tokenization as seg=batch, then
        # the global scalars republish
        gen.segment(_bm25_postings(batch), "batch")
        _bm25_republish_scalars(spark, gen, batch)

    gen = BM25_APPEND.append(spark, sf_dir, write)
    return _bm25_append_census(spark, sf_dir, gen)


def _bm25_append_census(
    spark: SparkSession, sf_dir: str, gen: index.Generation
) -> DataFrame:
    """Per-bucket census + the three certificates, planned over the
    given append-family generation (seg=base is the frozen corpus
    segment; everything else — seg=batch for the batch job, seg=b<k>
    for the streaming ingest — counts as appended). Shared by
    text_bm25_index_append and stream_bm25_index_append; the rebuild
    and inline-ranking legs are attestation-only."""
    docs = load_table(spark, sf_dir, "documents")
    disk = gen.table()
    scalars = spark.read.parquet(gen["scalars"])
    rebuilt = _bm25_postings(docs)
    scalars_ok = (
        scalars
        .crossJoin(
            _bm25_corpus_scalars(docs).select(
                F.col("n_docs").alias("r_docs"),
                F.col("t_toks").alias("r_toks"),
            )
        )
        .select(
            (
                (F.col("n_docs") == F.col("r_docs"))
                & (F.col("t_toks") == F.col("r_toks"))
            )
            .cast("long")
            .alias("scalars_match_rebuild")
        )
    )
    qterms, all_terms = _bm25_query_terms(spark)
    served = _bm25_serve_body(disk, scalars, qterms, all_terms).alias("a")
    inline = text_bm25_topk(spark, sf_dir).alias("b")
    serve_ok = (
        served.join(inline, ["query_id", "rank"], "full_outer")
        .select(
            (
                F.col("a.doc_id").eqNullSafe(F.col("b.doc_id"))
                & F.col("a.score_s").eqNullSafe(F.col("b.score_s"))
            )
            .cast("long")
            .alias("row_ok")
        )
        .agg(
            F.min(F.coalesce(F.col("row_ok"), F.lit(0)))
            .cast("long")
            .alias("serve_matches_rebuild")
        )
    )

    # ONE conditional aggregation over ONE scan of the on-disk postings
    # (the seg column is the base/batch tag)
    return index.append_census(
        spark, "tbkt", TBKT, disk, rebuilt, _bm25_posting_hash(),
        is_base=F.col("seg") == "base", extra=(scalars_ok, serve_ok),
    )


def _bm25_index_append_oracle() -> str:
    bkt = _MD5.format(e="'bm25:'||term")
    ph = _MD5.format(e="'p:'||term||':'||doc_id||':'||tf||':'||dl")
    split = "400"  # dedup.INCR_SPLIT_ID — the shared incremental split
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tfb AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term),
dlb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM tok GROUP BY doc_id),
p AS (SELECT t.term, t.doc_id, t.tf, l.dl,
             ({bkt}) % {TBKT} AS tbkt, ({ph}) AS ph
      FROM tfb t JOIN dlb l USING (doc_id)),
after AS (SELECT * FROM p WHERE doc_id < {split}
          UNION ALL SELECT * FROM p WHERE doc_id >= {split}),
cb AS (SELECT tbkt, CAST(count(*) AS BIGINT) AS n_base
       FROM p WHERE doc_id < {split} GROUP BY tbkt),
cn AS (SELECT tbkt, CAST(count(*) AS BIGINT) AS n_batch
       FROM p WHERE doc_id >= {split} GROUP BY tbkt),
ca AS (SELECT tbkt, CAST(count(*) AS BIGINT) AS n_after,
              CAST(bit_xor(ph) AS BIGINT) AS xor_after
       FROM after GROUP BY tbkt),
cr AS (SELECT tbkt, CAST(count(*) AS BIGINT) AS n_rebuild,
              CAST(bit_xor(ph) AS BIGINT) AS xor_rebuild
       FROM p GROUP BY tbkt),
sc AS (
  SELECT CASE WHEN b.n + n.n = a.n AND b.t + n.t = a.t
         THEN 1 ELSE 0 END AS ok
  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(len({_TOKS})), 0) AS BIGINT) AS t
        FROM documents WHERE doc_id < {split}) b,
       (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(len({_TOKS})), 0) AS BIGINT) AS t
        FROM documents WHERE doc_id >= {split}) n,
       (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(len({_TOKS})), 0) AS BIGINT) AS t
        FROM documents) a
)
SELECT CAST(d.b AS INTEGER) AS tbkt,
       COALESCE(cb.n_base, 0) AS n_base,
       COALESCE(cn.n_batch, 0) AS n_batch,
       COALESCE(ca.n_after, 0) AS n_after,
       COALESCE(cr.n_rebuild, 0) AS n_rebuild,
       CAST(CASE WHEN COALESCE(ca.n_after, 0) = COALESCE(cr.n_rebuild, 0)
                  AND COALESCE(ca.xor_after, 0) = COALESCE(cr.xor_rebuild, 0)
            THEN 1 ELSE 0 END AS BIGINT) AS append_matches_rebuild,
       CAST(sc.ok AS BIGINT) AS scalars_match_rebuild,
       -- the serve leg: the Spark side computes it PHYSICALLY (top-K
       -- served from the appended artifact, full-outer-compared to
       -- the train-in-plan ranking); in SQL both sides reduce to the
       -- identical corpus BM25 query, so the oracle pins the
       -- tautology — same precedent as the compact oracles
       CAST(1 AS BIGINT) AS serve_matches_rebuild
FROM range({TBKT}) AS d(b)
LEFT JOIN cb ON cb.tbkt = d.b
LEFT JOIN cn ON cn.tbkt = d.b
LEFT JOIN ca ON ca.tbkt = d.b
LEFT JOIN cr ON cr.tbkt = d.b
CROSS JOIN sc
ORDER BY tbkt
"""


def text_bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return BM25_APPEND.compact(
        spark, sf_dir, text_bm25_index_append,
        {"x": index.xor(_bm25_posting_hash())},
    )


def _bm25_index_compact_oracle() -> str:
    # same structure as the dedup/ann compact oracles: the compacted
    # generation's content equals the appended one (the full-corpus
    # postings), one file per populated bucket, content_match pinned —
    # the Spark side computes both physically from the two layouts
    bkt = _MD5.format(e="'bm25:'||term")
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tfb AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term),
per AS (
  SELECT ({bkt}) % {TBKT} AS tbkt, CAST(count(*) AS BIGINT) AS n
  FROM tfb GROUP BY 1
)
SELECT CAST(r.range AS INTEGER) AS tbkt,
       CAST(COALESCE(per.n, 0) AS BIGINT) AS n_before,
       CAST(COALESCE(per.n, 0) AS BIGINT) AS n_after,
       CAST(CASE WHEN per.n IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS files_after,
       CAST(1 AS BIGINT) AS content_match
FROM range({TBKT}) r LEFT JOIN per ON per.tbkt = r.range
ORDER BY tbkt
"""


QUERIES = {
    "text_bm25_index_build": text_bm25_index_build,
    "text_bm25_index_serve": text_bm25_index_serve,
    "text_bm25_index_append": text_bm25_index_append,
    "text_bm25_index_compact": text_bm25_index_compact,
    "text_ngram_novelty": text_ngram_novelty,
    "text_hll_merge": text_hll_merge,
    "text_domain_signature": text_domain_signature,
    "text_source_divergence": text_source_divergence,
    "text_winnow_fingerprints": text_winnow_fingerprints,
    "text_zipf_census": text_zipf_census,
    "text_bm25_topk": text_bm25_topk,
    "text_rake_keywords": text_rake_keywords,
    "text_ttr": text_ttr,
    "text_trigram_lang_eval": text_trigram_lang_eval,
    "text_readability": text_readability,
    "text_bigram_score": text_bigram_score,
    "text_perplexity_buckets": text_perplexity_buckets,
    "text_hll_distinct": text_hll_distinct,
    "text_quality": text_quality,
    "text_repetition": text_repetition,
    "text_tfidf_terms": text_tfidf_terms,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_token_histogram": text_token_histogram,
    "text_cms_heavy_hitters": text_cms_heavy_hitters,
}

ORACLES = {
    "text_bm25_index_build": _bm25_index_build_oracle(),
    # identical output contract to the train-in-plan ranker — the
    # persisted-index serve attests the same BM25 ranking
    "text_bm25_index_serve": _bm25_oracle(),
    "text_bm25_index_append": _bm25_index_append_oracle(),
    "text_bm25_index_compact": _bm25_index_compact_oracle(),
    "text_ngram_novelty": ORACLE_TEXT_NGRAM_NOVELTY,
    "text_hll_merge": _hll_merge_oracle(),
    "text_domain_signature": ORACLE_TEXT_DOMAIN_SIGNATURE,
    "text_source_divergence": ORACLE_TEXT_SOURCE_DIVERGENCE,
    "text_winnow_fingerprints": ORACLE_TEXT_WINNOW,
    "text_zipf_census": ORACLE_TEXT_ZIPF,
    "text_bm25_topk": _bm25_oracle(),
    "text_rake_keywords": _rake_oracle(),
    "text_ttr": ORACLE_TEXT_TTR,
    "text_trigram_lang_eval": ORACLE_TEXT_TRIGRAM_EVAL,
    "text_readability": ORACLE_TEXT_READABILITY,
    "text_bigram_score": ORACLE_TEXT_BIGRAM_SCORE,
    "text_perplexity_buckets": ORACLE_TEXT_PERPLEXITY_BUCKETS,
    "text_hll_distinct": _hll_oracle(),
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "text_tfidf_terms": ORACLE_TEXT_TFIDF,
    "text_lang_id": _lang_oracle(),
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "text_token_histogram": ORACLE_TEXT_TOKEN_HISTOGRAM,
    "text_cms_heavy_hitters": _cms_oracle(),
}
