"""End-to-end training-data preparation pipeline as ONE oracle-checked
query: quality filter -> exact dedup -> near-dup removal -> per-source
summary.  This composes the individually-verified stages
(`text_quality_score`, `dedup_exact_groups`, `dedup_ngram_jaccard`)
into the shape a real LLM corpus-cleaning job runs, and pins the WHOLE
composition against DuckDB — stage-level correctness does not imply
composition correctness (filter order, survivor sets, and tie rules
all interact).

Scale shape: one documents scan feeds the quality scoring (pure JVM
column arithmetic), exact dedup is a window over the md5 fingerprint
(shuffle carries fingerprint + id only), near-dup candidates come from
the DF-capped single-shuffle inverted shingle index over the SURVIVORS
(smaller than the corpus by construction), and the final summary is a
bounded per-source aggregate.  Near-dup drop rule is deterministic and
engine-portable: any doc that is the LARGER member of a >= 0.8 Jaccard
pair is dropped (no transitive clustering — that would need iterative
connected components, which is a different operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.dedup import _NGRAM_MAX_DF, shingle_pairs_with_jaccard
from sparkml_som_spark.operators.registry import materialize_small, register
from sparkml_som_spark.operators.text import STOPWORDS, _SW_SQL
from sparkml_som_spark.sources import load_table

_PIPELINE_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, source, text,
               len(string_split(lower(text), ' ')) AS n_tokens,
               CAST(
                   (CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 20 AND 200
                         THEN 0.5 ELSE 0.0 END)
                 + (CASE WHEN len(list_filter(string_split(lower(text), ' '), w -> w IN {_SW_SQL}))
                              * 1.0 / len(string_split(lower(text), ' ')) BETWEEN 0.05 AND 0.5
                         THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN length(replace(text, ' ', ''))
                              * 1.0 / len(string_split(lower(text), ' ')) BETWEEN 3 AND 8
                         THEN 0.2 ELSE 0.0 END)
               AS DOUBLE) AS quality
        FROM documents
    ), good AS (
        SELECT * FROM scored WHERE quality >= 0.5
    ), exact AS (
        SELECT doc_id, source, text, n_tokens, quality FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
            ) AS rn FROM good
        ) WHERE rn = 1
    ), toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM exact
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), hot AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {_NGRAM_MAX_DF}
    ), idx AS (
        SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY 1, 2
    ), neardup AS (
        SELECT DISTINCT p.b_id AS doc_id
        FROM pairs p
        JOIN sizes za ON za.doc_id = p.a_id
        JOIN sizes zb ON zb.doc_id = p.b_id
        WHERE p.common * 1.0 / (za.n_sh + zb.n_sh - p.common) >= 0.8
    ), kept AS (
        SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)  AS total_tokens,
           ROUND(AVG(quality), 4)         AS avg_quality
    FROM kept
    GROUP BY source
"""


@register(
    "pipeline_clean_corpus",
    sql=_PIPELINE_ORACLE,
    desc="end-to-end corpus cleaning: quality filter -> exact dedup -> near-dup drop -> summary",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from sparkml_som_spark.functions import word_tokens

    toks = word_tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS))) / n_tokens
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens
    quality = (
        F.when(n_tokens.between(20, 200), 0.5).otherwise(0.0)
        + F.when(stop_ratio.between(0.05, 0.5), 0.3).otherwise(0.0)
        + F.when(awl.between(3, 8), 0.2).otherwise(0.0)
    )
    good = docs.select(
        "doc_id", "source", "text", n_tokens.alias("n_tokens"), quality.alias("quality")
    ).where(F.col("quality") >= 0.5)

    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    exact = (
        good.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )

    pairs = shingle_pairs_with_jaccard(
        exact.select("doc_id", "text"), n=3, max_df=_NGRAM_MAX_DF
    )
    neardup = (
        pairs.where(F.col("jaccard_raw") >= 0.8)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    kept = exact.join(neardup, "doc_id", "left_anti")
    summary = kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )
    # bounded output (one row per source)
    return materialize_small(summary)
