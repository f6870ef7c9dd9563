"""Analytics operators, round 9 wave: BM25 ranked retrieval — the
lexical-retrieval primitive the corpus/RAG family lacked (the existing
entries cover TF-IDF term profiling, embedding ANN, and context
packing; BM25 is the standard first-stage ranker those pipelines put
in front of a reranker).

Scale discipline: one corpus pass builds token counts; the per-query
work after that touches only the postings of the query's terms
(bounded by their document frequency, not the corpus), the df / corpus
stats relations are single-row-ish broadcasts, and the global top-k
goes through orderBy+limit (TakeOrderedAndProject: per-partition
partial top-k + bounded driver merge — never a corpus-wide window
partition).  At 100 TB the tf relation is the inverted index a real
engine would persist; the query-time plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_tokens
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("stream", "merge", "window")
_BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_QUERY)


def bm25_scores(docs: DataFrame) -> DataFrame:
    """Okapi BM25 for the fixed query over ``docs``: one row per doc that
    holds a query term, with ``doc_id``, ``n_terms`` (distinct query terms
    matched) and the unrounded ``score``.  `bm25_rank_docs` ranks it and
    `hybrid_rrf_fusion` uses it as its lexical leg."""
    toks = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
    # opt r15 (guide §2.3 "aggregate before you shuffle" / §2.4): dl and
    # tf previously each re-ran the corpus explode (dl twice more via
    # stats and the scored join).  ONE explode + ONE per-doc aggregate
    # now carries dlen AND the per-query-term counts (the query is a
    # fixed, tiny term list, so the wide aggregate is |query|+1 columns);
    # tf falls out as a stack over the materialized per-doc row.
    # Interleaved A/B at sf0.1: 0.73 s vs 1.12 s min-of-5, results
    # bit-equal.  Bounded at one row per doc.
    per_doc = (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").alias("dlen"),
            *[
                F.sum(F.when(F.col("term") == w, 1).otherwise(0)).alias(f"f{i}")
                for i, w in enumerate(_BM25_QUERY)
            ],
        )
        .localCheckpoint()
    )
    dl = per_doc.select("doc_id", "dlen")
    stats = dl.agg(F.count("*").alias("n"), F.avg("dlen").alias("avgdl"))
    _stack = "stack({}, {}) as (term, f)".format(
        len(_BM25_QUERY), ", ".join(f"'{w}', f{i}" for i, w in enumerate(_BM25_QUERY))
    )
    tf = per_doc.selectExpr("doc_id", _stack).where(F.col("f") > 0)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("f") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", idf * F.col("f") * (_BM25_K1 + 1) / denom)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"), F.sum("contrib").alias("score"))
    )


@register(
    "bm25_rank_docs",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n, AVG(dlen) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS f
        FROM toks WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               SUM( ln((n - df + 0.5) / (df + 0.5) + 1)
                    * f * ({_BM25_K1} + 1)
                    / (f + {_BM25_K1} * (1 - {_BM25_B}
                                         + {_BM25_B} * dlen / avgdl)) ) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY 1
    )
    SELECT doc_id, n_terms, ROUND(score, 4) AS bm25
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
    desc=f"BM25 (k1={_BM25_K1}, b={_BM25_B}) top-{_BM25_TOPK} docs for a fixed {len(_BM25_QUERY)}-term query; Okapi formula from first principles under the value hash",
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval from first principles — idf =
    ln((N - df + 0.5) / (df + 0.5) + 1), per-term contribution
    f*(k1+1) / (f + k1*(1 - b + b*|D|/avgdl)) — so the DuckDB oracle
    replays the exact formula and the full top-k ranking sits under
    the value hash (score ties are broken by doc_id; equal inputs
    produce bit-equal scores in both engines because the arithmetic
    is identical).

    Plan shape: one corpus pass to tokens; document lengths and corpus
    stats are aggregates of it; the tf relation is filtered to the
    query's terms BEFORE any join (postings-sized, bounded by df);
    dfreq and the single-row stats broadcast; the global top-k is
    orderBy+limit, which Spark executes as TakeOrderedAndProject
    (per-partition partial top-k, bounded merge) — no corpus-sized
    window partition anywhere."""
    return (
        bm25_scores(load_table(spark, sf_dir, "documents", spread=True))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
        .select("doc_id", "n_terms", F.round("score", 4).alias("bm25"))
    )
