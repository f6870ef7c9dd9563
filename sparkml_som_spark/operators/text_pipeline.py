"""MLlib Pipeline integration: text -> Tokenizer -> HashingTF -> IDF ->
SOM, proving the SOM drops into `pyspark.ml.Pipeline` as a standard
stage (the architecture SURVEY.md §7.5 prescribes).

The SOM consumes the IDF output column (VectorUDT) directly through its
vector adapter — no manual conversion stage needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

# fitted PipelineModel per sf_dir (deterministic seed => pure cache)
_PIPELINE_CACHE: dict[str, object] = {}


def build_text_som_pipeline(n_features: int = 256, height: int = 3, width: int = 3, seed: int = 42):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    from sparkml_som_spark.som import SOM

    return Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="tokens"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=n_features),
            IDF(inputCol="tf", outputCol="tfidf"),
            SOM(
                height=height,
                width=width,
                maxIter=5,
                seed=seed,
                featuresCol="tfidf",
                predictionCol="topic_cell",
                tMax=2.0,
                tMin=0.5,
            ),
        ]
    )


def text_som_topic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic-cell view (docs per cell + dominant source) — the
    analysis a user reads.  Tests assert it; the registered entry rolls
    the same computation into hashable pipeline invariants."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # deterministic for the fixed seed, so cache the fitted pipeline per
    # sf_dir across registry queries (same policy as fit_default_som):
    # repeat calls pay the transform, not the iterative fit
    if sf_dir not in _PIPELINE_CACHE:
        _PIPELINE_CACHE[sf_dir] = build_text_som_pipeline().fit(docs)
    model = _PIPELINE_CACHE[sf_dir]
    from sparkml_som_spark.operators.registry import materialize_small, query_scope

    # not a registry entry: its own scope releases `out` on return
    with query_scope(spark):
        # persist: the full Tokenizer->TF->IDF->SOM transform chain would
        # otherwise re-run for each of the aggregations below
        out = model.transform(docs).select("doc_id", "source", "topic_cell").persist()
        from pyspark.sql import Window

        counts = out.groupBy("topic_cell", "source").agg(F.count("*").alias("n"))
        w = Window.partitionBy("topic_cell").orderBy(F.desc("n"), F.asc("source"))
        dominant = (
            counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("topic_cell", F.col("source").alias("dominant_source"))
        )
        occupancy = out.groupBy("topic_cell").agg(F.count("*").alias("n_docs"))
        return materialize_small(occupancy.join(dominant, "topic_cell").orderBy("topic_cell"))


@register(
    "text_som_topics",
    # the topic assignment is an iterative-pipeline output, but the
    # Tokenizer->HashingTF->IDF->SOM chain's conservation laws are
    # hashable: every document survives the 4-stage transform exactly
    # once (count + id checksum), every topic cell is inside the 3x3
    # grid, and every occupied cell surfaces a dominant source
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT)    AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(0 AS BIGINT)           AS n_outside_grid,
           CAST(0 AS BIGINT)           AS n_cells_missing_dominant
    FROM documents
    """,
    desc="TF-IDF + SOM topic cells (full MLlib pipeline), pinned by 4-stage row-preservation + grid invariants under full oracle",
)
def text_som_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full `pyspark.ml.Pipeline` integration under the FULL value
    hash: docs flow Tokenizer -> HashingTF -> IDF -> SOM and the
    conservation laws of that chain are checked end-to-end — row count
    and doc_id checksum must survive all four stages, every predicted
    topic cell must lie inside the 3x3 grid, and the per-cell summarize
    must find a dominant source for every occupied cell.  A stage that
    dropped rows (e.g. a tokenizer null), corrupted ids across the
    VectorUDT adapter, or emitted an out-of-grid BMU breaks the hash.

    Scale: Tokenizer/HashingTF/IDF are one pass each; HashingTF keeps
    the feature space bounded (no vocabulary shuffle like
    CountVectorizer), which is the right trade at 100 TB of text.
    Per-cell view: `text_som_topic_cells`."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    if sf_dir not in _PIPELINE_CACHE:
        _PIPELINE_CACHE[sf_dir] = build_text_som_pipeline().fit(docs)
    model = _PIPELINE_CACHE[sf_dir]
    out = model.transform(docs).select("doc_id", "source", "topic_cell").persist()
    from pyspark.sql import Window

    counts = out.groupBy("topic_cell", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("topic_cell").orderBy(F.desc("n"), F.asc("source"))
    dominant = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("topic_cell", F.col("source").alias("dominant_source"))
    )
    percell = (
        out.groupBy("topic_cell")
        .agg(F.count("*").alias("cell_n"), F.sum("doc_id").alias("cell_doc_id"))
        .join(dominant, "topic_cell", "left")
    )
    outside = (F.col("topic_cell") < 0) | (F.col("topic_cell") >= 9)
    verdict = percell.agg(
        F.sum("cell_n").alias("n_docs"),
        F.sum("cell_doc_id").alias("sum_doc_id"),
        F.count_if(outside).alias("n_outside_grid"),
        F.count_if(F.col("dominant_source").isNull()).alias("n_cells_missing_dominant"),
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(verdict)
