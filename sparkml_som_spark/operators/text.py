"""Text-analysis operators over the documents table: token stats,
quality scoring, language profile, word frequency, fingerprinting.

All hot-path expressions are built-in higher-order functions (JVM-side);
the only Python is the registry glue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_tokens
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

# a small deterministic stopword list shared verbatim with the oracle SQL
STOPWORDS = ["the", "a", "of", "and", "to", "in"]
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "text_token_stats",
    sql="""
    SELECT source,
           COUNT(*)                                              AS n_docs,
           ROUND(AVG(len(string_split(lower(text), ' '))), 4)    AS avg_tokens,
           ROUND(AVG(n_chars), 4)                                AS avg_chars,
           CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY source
    """,
    desc="token counting per source",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(word_tokens(F.col("text")))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(ntok).alias("total_tokens"),
    )


# The quality-band subquery, shared with curriculum_phases' oracle —
# yields (doc_id, n_tokens, stop_ratio, awl, quality) per document
QUALITY_SQL = f"""
        SELECT doc_id, n_tokens, stop_ratio, awl,
               CAST( (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 0.5 ELSE 0.0 END)
                   + (CASE WHEN stop_ratio BETWEEN 0.05 AND 0.5 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN awl BETWEEN 3 AND 8 THEN 0.2 ELSE 0.0 END)
                 AS DOUBLE) AS quality
        FROM (
            SELECT doc_id,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   len(list_filter(string_split(lower(text), ' '), w -> w IN {_SW_SQL}))
                       * 1.0 / len(string_split(lower(text), ' ')) AS stop_ratio,
                   length(replace(text, ' ', '')) * 1.0
                       / len(string_split(lower(text), ' ')) AS awl
            FROM documents
        )
"""


def quality_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, awl, quality) per document — the
    Spark twin of QUALITY_SQL, shared by text_quality_score and the
    curriculum composition."""
    toks = word_tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS))) / n_tokens
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens
    quality = (
        F.when(n_tokens.between(20, 200), 0.5).otherwise(0.0)
        + F.when(stop_ratio.between(0.05, 0.5), 0.3).otherwise(0.0)
        + F.when(awl.between(3, 8), 0.2).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        awl.alias("awl"),
        quality.alias("quality"),
    )


@register(
    "text_quality_score",
    sql=f"""
    SELECT doc_id,
           n_tokens,
           ROUND(stop_ratio, 4)  AS stopword_ratio,
           ROUND(awl, 4)         AS avg_word_len,
           ROUND(quality, 4)     AS quality
    FROM ({QUALITY_SQL})
    """,
    desc="heuristic quality score: length/stopword/word-length bands",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return quality_scored(docs).select(
        "doc_id",
        "n_tokens",
        F.round("stop_ratio", 4).alias("stopword_ratio"),
        F.round("awl", 4).alias("avg_word_len"),
        F.round("quality", 4).alias("quality"),
    )


@register(
    "text_lang_profile",
    sql="""
    SELECT lang,
           COUNT(*)                AS n_docs,
           ROUND(AVG(n_chars), 4)  AS avg_chars,
           MIN(n_chars)            AS min_chars,
           MAX(n_chars)            AS max_chars
    FROM documents
    GROUP BY lang
    """,
    desc="per-language corpus profile",
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_langid_ngram",
    sql="""
    WITH grams AS (
        SELECT doc_id, lang, substr(lower(text), i, 3) AS g
        FROM documents, unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS u(i)
    ), dg AS (
        SELECT doc_id, lang, g, COUNT(*) AS dcnt FROM grams GROUP BY 1, 2, 3
    ), prof AS (
        SELECT lang, g FROM (
            SELECT lang, g,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY SUM(dcnt) DESC, g ASC) AS rk
            FROM dg GROUP BY lang, g
        ) WHERE rk <= 50
    ), scores AS (
        SELECT d.doc_id, p.lang, CAST(SUM(d.dcnt) AS BIGINT) AS score
        FROM dg d JOIN prof p ON p.g = d.g
        GROUP BY 1, 2
    )
    SELECT doc_id, lang AS predicted_lang, score FROM (
        SELECT doc_id, lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rk
        FROM scores
    ) WHERE rk = 1
    """,
    desc="language-ID: character-trigram profile similarity (full oracle)",
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID. Profiles are built per declared
    `lang` from the corpus itself (top-50 trigram frequency vectors),
    then every doc is scored against each profile; output = argmax.

    Two-pass shape at scale: pass 1 is a bounded aggregation (langs x
    trigrams), pass 2 a broadcast of the tiny profile table + a
    per-doc score, no shuffle beyond the profile build.  The whole
    model (profile build, tie rules rank-desc-then-gram-asc / score-
    desc-then-lang-asc) is declarative, so the DuckDB oracle replays it
    exactly — upgraded from round 1's rows-only check.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # One explode + ONE wide aggregation to per-doc trigram counts; the
    # per-lang profile is then a second, much smaller aggregation over
    # doc_grams (instead of re-aggregating the raw exploded trigrams,
    # which the old shape persisted and scanned twice). doc_id -> lang is
    # functional, so carrying lang through the groupBy adds no groups.
    # char trigrams via a zip_with chain over the split chars — the
    # per-index substring(text, i, 3) form is O(len) per position
    # (O(len^2) per doc); same construction-speed fix as word_shingles.
    # Docs shorter than 3 chars contribute NO grams (and so no
    # prediction) on BOTH engines — a whole-text fallback gram would
    # enter the per-lang profile ranking on the Spark side only and
    # break oracle parity for unrelated docs.
    low = F.lower(F.col("text"))
    ch = F.split(low, "")
    m = F.size(ch)
    ln1 = F.greatest(m - 1, F.lit(0))
    bi = F.zip_with(F.slice(ch, 1, ln1), F.slice(ch, 2, ln1), lambda a, b: F.concat(a, b))
    ln2 = F.greatest(m - 2, F.lit(0))
    grams = F.zip_with(F.slice(bi, 1, ln2), F.slice(ch, 3, ln2), lambda a, b: F.concat(a, b))
    doc_grams = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(grams).alias("g"),
        )
        .groupBy("doc_id", "lang", "g")
        .agg(F.count("*").alias("dcnt"))
        .persist()
    )
    prof_w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    profile = (
        doc_grams.groupBy("lang", "g")
        .agg(F.sum("dcnt").alias("cnt"))
        .withColumn("rk", F.row_number().over(prof_w))
        .where(F.col("rk") <= 50)
        .select("lang", "g")
    )
    scores = (
        doc_grams.drop("lang")  # score every doc against every profile lang
        .join(F.broadcast(profile), "g")
        .groupBy("doc_id", "lang")
        .agg(F.sum("dcnt").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("predicted_lang"), "score")
    )


@register(
    "udtf_chunk_documents",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), pos AS (
        SELECT doc_id, i, t[i] AS tok,
               CAST(floor((i - 1) / 20) AS INT) AS chunk_idx
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           string_agg(tok, ' ' ORDER BY i) AS chunk,
           CAST(COUNT(*) AS INT)           AS n_tokens
    FROM pos
    GROUP BY doc_id, chunk_idx
    """,
    desc="Python UDTF: LLM-style fixed-size token chunking via LATERAL join",
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkml_som_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM {docs}, LATERAL chunk_text(text, 20) AS c
        """,
        docs=docs,
    )


@register(
    "word_freq_topk",
    sql="""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
    desc="global top-20 word frequency",
)
def word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


@register(
    "posexplode_tokens",
    sql="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
    SELECT doc_id, i - 1 AS pos, t[i] AS token
    FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    WHERE doc_id < 20
    """,
    desc="positional explode (token index preserved)",
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return docs.where(F.col("doc_id") < 20).select(
        "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "token")
    )


@register(
    "doc_fingerprint",
    sql="""
    SELECT doc_id,
           md5(lower(trim(text)))                            AS content_fp,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' '))       AS bow_fp
    FROM documents
    """,
    desc="content + bag-of-words fingerprints (md5, engine-portable)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_fp"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(word_tokens(F.col("text")))), " ")
        ).alias("bow_fp"),
    )


# GPT-2-style pre-tokenizer, simplified to the subset both regex
# engines (Java in Spark, RE2 in DuckDB) interpret identically: letter
# runs, digit runs, and punctuation runs, each with an optional leading
# space.  The real BPE pre-tokenizer's contraction cases and
# trailing-space lookahead need (?!\S), which RE2 does not support —
# this is the engine-portable core of the same idea.
_BPE_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


@register(
    "text_bpe_token_stats",
    sql=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT)
               AS total_bpe_tokens,
           ROUND(AVG(len(regexp_extract_all(lower(text), '{_BPE_RE}'))), 4)
               AS avg_bpe_tokens,
           ROUND(AVG(len(regexp_extract_all(lower(text), '{_BPE_RE}'))
                     * 1.0 / len(string_split(lower(text), ' '))), 4)
               AS bpe_per_word
    FROM documents
    GROUP BY source
    """,
    desc="BPE-ish token counting: pre-tokenizer regex runs vs whitespace words, per source",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation the way an LLM data pipeline budgets
    context: a GPT-2-style pre-tokenizer regex (letter/digit/punct runs)
    counted per document, compared against whitespace words.  Pure
    JVM-side regexp_extract_all — one scan, no Python; at 100 TB this is
    a map-only stage feeding a 5-group aggregate."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0))
    words = F.size(word_tokens(F.col("text")))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(bpe).cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(bpe), 4).alias("avg_bpe_tokens"),
        F.round(F.avg(bpe / words), 4).alias("bpe_per_word"),
    )
