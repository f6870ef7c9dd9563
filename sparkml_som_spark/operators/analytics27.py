"""Analytics operators, round 7 wave: cross-source contamination
matrix and per-source near-dup rates — the dataset-mixing diagnostics
a corpus curator reads before setting mixture weights (a source that
heavily duplicates another should not be double-counted by the
mixture; the reference pipeline has no analog, this is LLM-data
tooling on top of the dedup machinery).

Scale discipline: both entries consume the SHARED persisted near-dup
edge table (`jaccard_sym_edges` — built once per corpus from the
capped inverted index, never all-pairs; round 10 moved them off
rebuilding shingle->pairs per query).  The pair set is orders of
magnitude below the corpus; joining doc->source onto it is a
pair-sized shuffle (no broadcast hint — the doc-side is corpus-sized,
AQE picks the strategy), and both outputs aggregate to bounded grids
(sources^2 cells / sources rows), so the driver only ever sees the
grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.dedup import _NGRAM_MAX_DF, _NGRAM_ORACLE
from sparkml_som_spark.operators.registry import materialize_small, register
from sparkml_som_spark.sources import load_table

_ND_PAIRS = _NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF)


@register(
    "cross_source_overlap",
    sql=f"""
    WITH nd AS (
        SELECT * FROM ({_ND_PAIRS})
    )
    SELECT LEAST(da.source, db.source)    AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT)       AS n_pairs,
           -- mean over EXACT integer ten-thousandths: float AVG of the
           -- rounded jaccards can land a group mean exactly on a
           -- .xxxx5 boundary where the engines' half-rounding of the
           -- same double diverges (hit at sf0.1, r11); summing
           -- integers is order-free and both engines then round the
           -- identical quotient
           ROUND(SUM(CAST(ROUND(jaccard * 10000, 0) AS BIGINT))
                 / (COUNT(*) * 10000.0), 4) AS avg_jaccard
    FROM nd
    JOIN documents da ON da.doc_id = nd.a_id
    JOIN documents db ON db.doc_id = nd.b_id
    GROUP BY 1, 2
    """,
    desc="cross-source contamination matrix: near-dup pair counts + mean Jaccard per unordered source pair",
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate which: every near-dup pair (word-3-gram
    Jaccard >= 0.8, the shared DF-capped index) attributed to its
    unordered (source, source) cell.  The diagonal is within-source
    redundancy; off-diagonal cells are cross-source contamination —
    the input a mixture-weight pass needs to avoid double-counting a
    mirrored source.  Output is bounded by sources^2.

    The pair set comes from the SHARED persisted edge table
    (`jaccard_sym_edges`, which also stores each edge's exact Jaccard)
    — the symmetric set filtered to src < dst is exactly the unique
    a_id < b_id pair set, so this entry never re-runs the shingle
    pipeline (VERDICT r9 ask #3's sibling fix)."""
    from sparkml_som_spark.operators.dedup import jaccard_sym_edges

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        jaccard_sym_edges(spark, sf_dir, with_jaccard=True)
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a_id"),
            F.col("dst").alias("b_id"),
            F.col("jaccard").alias("jaccard_raw"),
        )
    )
    src = docs.select("doc_id", "source")
    attributed = (
        pairs.join(
            src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("sa")),
            "a_id",
        )
        .join(
            src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("sb")),
            "b_id",
        )
    )
    out = (
        attributed.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            # exact integer ten-thousandths (== the oracle's per-pair
            # ROUND(j,4) scaled): the group mean is then an
            # order-independent integer sum over one float division,
            # so both engines round the identical double — a float
            # AVG diverged at a .xxxx5 half-rounding boundary at sf0.1
            F.round(F.col("jaccard_raw") * 10000, 0).cast("long").alias("j4"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("j4") / (F.count(F.lit(1)) * 10000.0), 4
            ).alias("avg_jaccard"),
        )
    )
    return materialize_small(out)


@register(
    "near_dup_rate_by_source",
    sql=f"""
    WITH nd AS (
        SELECT * FROM ({_ND_PAIRS})
    ), involved AS (
        SELECT a_id AS doc_id FROM nd UNION SELECT b_id FROM nd
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(COUNT(i.doc_id) AS BIGINT)                   AS n_near_dup,
           ROUND(COUNT(i.doc_id) * 1.0 / COUNT(*), 4)        AS dup_rate
    FROM documents d LEFT JOIN involved i ON i.doc_id = d.doc_id
    GROUP BY d.source
    """,
    desc="per-source near-dup exposure: docs involved in any >=0.8-Jaccard pair, as a rate of the source",
)
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication exposure — the curator's one-line health
    number per source (a source with dup_rate ~1 is a mirror and should
    be dropped or heavily down-weighted, not cleaned pair-by-pair).
    `involved` is the distinct union of both pair sides (pair-scale);
    the left join back onto documents preserves zero-dup sources.

    Reads the SHARED persisted edge table (`jaccard_sym_edges`) instead
    of re-running the shingle pipeline — the symmetric set's distinct
    src column IS the union of both pair sides (VERDICT r9 ask #3:
    this entry was rebuilding shingle->pairs under the bench ordering,
    which is where its 1.61x-of-best wall went)."""
    from sparkml_som_spark.operators.dedup import jaccard_sym_edges

    docs = load_table(spark, sf_dir, "documents")
    involved = (
        jaccard_sym_edges(spark, sf_dir)
        .select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    out = (
        docs.select("doc_id", "source")
        .join(involved, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_near_dup"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("dup_rate"),
        )
    )
    return materialize_small(out)


# --------------------------------------------------------------------------
# 3. character-bigram language-model logloss per source
# --------------------------------------------------------------------------


@register(
    "quality_char_bigram_logloss",
    sql="""
    WITH t AS (
        SELECT doc_id, source, lower(text) AS txt FROM documents
        WHERE length(text) >= 2
    ), bg AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, length(txt)),
                                     i -> substr(txt, CAST(i AS INT), 2))) AS b
        FROM t
    ), vocab AS (
        SELECT b, COUNT(*) AS c FROM bg GROUP BY b
    ), tot AS (SELECT SUM(c) AS n FROM vocab)
    SELECT bg.source,
           CAST(COUNT(DISTINCT bg.doc_id) AS BIGINT) AS n_docs,
           ROUND(AVG(-ln(v.c * 1.0 / (SELECT n FROM tot))), 4) AS avg_logloss
    FROM bg JOIN vocab v ON v.b = bg.b
    GROUP BY bg.source
    """,
    desc="per-source corpus quality via character-bigram LM cross-entropy (self-trained unigram-of-bigrams model)",
)
def quality_char_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cheapest language-model quality signal that needs no
    external model: train bigram statistics ON the corpus itself, then
    score each source by the mean negative log-probability of its
    character bigrams — gibberish/binary-ish sources score high,
    natural text converges to the corpus entropy.  The standard
    pretraining-corpus triage step between heuristic ratios
    (`text_quality_score`) and a real LM.

    Scale shape: one explode produces the bigram stream (row count =
    corpus bytes, the unavoidable lower bound); the model is the
    bigram->count table, BOUNDED by the character-pair vocabulary
    (~|charset|^2), so it broadcast-joins back onto the stream; the
    final aggregate folds to the bounded source grid.  Everything is
    JVM-side codegen — no Python in the pipeline."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # docs shorter than one bigram are excluded on BOTH sides: Spark's
    # sequence(1, length-1) DESCENDS when length < 2 (phantom tokens),
    # DuckDB's range(1, length) is simply empty — the filter makes the
    # two engines agree instead of relying on the fixture's min length
    t = docs.where(F.length("text") >= 2).select(
        "doc_id", "source", F.lower(F.col("text")).alias("txt")
    )
    bg = t.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("txt") - 1),
                lambda i: F.col("txt").substr(i, F.lit(2)),
            )
        ).alias("b"),
    )
    # vocab is consumed both as a broadcast (scoring join) and via the
    # total aggregate — unshareable exchanges, so the bigram explode +
    # count would run twice (opt r15, guide §2.4; A/B at sf0.1: 0.73 s
    # vs 0.86 s min-of-4).  Bounded at ~|charset|^2 rows.
    vocab = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    total = vocab.agg(F.sum("c").alias("n"))
    scored = bg.join(F.broadcast(vocab), "b").crossJoin(F.broadcast(total))
    return scored.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias("avg_logloss"),
    )
