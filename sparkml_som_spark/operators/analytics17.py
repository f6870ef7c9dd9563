"""Analytics operators, round 5 fourteenth wave: the WRITE half of
the custom Python DataSource surface (task-commit manifest protocol)
and a streaming count-min sketch maintained by algebraic cell merges.

Scale discipline:

- the jsonl sink writes one private file per task and reads back only
  manifest-committed files — write fan-out scales with partitions and
  an abandoned attempt can never corrupt the result (the exactly-once
  write contract, demonstrated end-to-end);
- the streaming sketch merges per-batch (row, bucket) cell counts
  into a driver-held bounded cell table (depth x width cells) — integer
  addition is batch-order independent, so the final sketch is
  BIT-EQUAL to the batch-built sketch, which is the whole point of a
  mergeable summary: per-batch cost tracks the batch, never the
  corpus, and the state is readable between batches.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.analytics9 import _CMS_WIDTH, cms_estimate, cms_rows
from sparkml_som_spark.operators.registry import drain_stream, register, session_conf
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import build_once, load_table, scratch_dir


@register(
    "source_python_datasource_writer",
    sql="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 4) AS sum_price
    FROM orders
    WHERE o_orderkey <= 4000
    GROUP BY o_orderstatus
    """,
    desc="custom Python DataSource WRITER: per-task jsonl files + commit manifest; manifest-driven read-back under the hash",
)
def source_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half of the pluggable-source surface: a custom
    `DataSourceWriter` serializes each partition to a private jsonl
    file, the driver's commit() builds a manifest from the returned
    task messages, and the read-back trusts ONLY the manifest — the
    task-commit protocol that makes distributed writes exactly-once
    (an abandoned attempt's file exists on disk but is never listed).

    The round-trip aggregate must hash-match the relational form,
    putting a custom WRITER under the oracle next to the custom batch
    and stream readers.
    """
    import json

    from sparkml_som_spark.sources.pydatasource import ensure_sink_registered

    ensure_sink_registered(spark)
    o = load_table(spark, sf_dir, "orders")
    slice_df = o.where(F.col("o_orderkey") <= 4000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir(sf_dir, "orders_jsonlsink")
    shutil.rmtree(path, ignore_errors=True)
    slice_df.repartition(4).write.format("jsonlsink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(manifest["files"])
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


@register(
    "stream_countmin_merge",
    sql=f"""
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), tc AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
    ), tb AS (
        SELECT tok, cnt, i,
               CAST('0x' || substr(md5(i::VARCHAR || ':' || tok), 1, 15) AS BIGINT)
                   % {_CMS_WIDTH} AS bucket
        FROM tc, (SELECT unnest([0, 1, 2]) AS i)
    ), cells AS (
        SELECT i, bucket, CAST(SUM(cnt) AS BIGINT) AS cell
        FROM tb GROUP BY 1, 2
    ), est AS (
        SELECT t.tok, MIN(c.cell) AS est_cnt
        FROM tb t JOIN cells c ON c.i = t.i AND c.bucket = t.bucket
        GROUP BY 1
    )
    SELECT tc.tok,
           CAST(tc.cnt AS BIGINT)      AS exact_cnt,
           CAST(est.est_cnt AS BIGINT) AS est_cnt,
           est.est_cnt >= tc.cnt       AS lower_bound_ok
    FROM tc JOIN est ON est.tok = tc.tok
    """,
    desc="streaming count-min: per-batch cell counts merged additively into a driver-held bounded sketch; final sketch bit-equal to batch",
)
def stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitter sketching — the mergeability story run
    for real: documents arrive in rate-limited micro-batches, each
    batch reduces to its own (row, bucket) cell counts, and foreachBatch
    collects them (one job, at most depth x width rows) and adds them
    ADDITIVELY into a driver-held sketch.  Integer addition is
    batch-order independent, so the final sketch is bit-equal to the
    batch-built one — the oracle replays the batch construction and the
    estimates must hash-match.

    Per-batch cost tracks the batch (its tokens -> 48 cells); the
    sketch state is bounded and readable between batches (each call
    starts from an empty sketch) — neither of which is true of an exact
    counter table over an unbounded vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = build_once(sf_dir, "docs_cms_src", lambda p: docs.repartition(16).write.mode("overwrite").parquet(p))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
    )

    def batch_cells(df: DataFrame) -> DataFrame:
        tb = cms_rows(df.select(F.explode(F.split(F.lower("text"), " ")).alias("tok")))
        return tb.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cell"))

    sketch: dict[tuple[int, int], int] = {}  # (i, bucket) -> cell

    def merge(batch_df, batch_id):
        for i, bucket, cell in batch_cells(batch_df).collect():
            sketch[i, bucket] = sketch.get((i, bucket), 0) + cell

    # tiny per-batch state (48 cells): run the stream with a reduced
    # shuffle-partition count, same rationale as _run_to_memory — at
    # registry volumes per-task overhead dominates 32-way shuffles, and
    # AQE cannot coalesce inside a streaming plan
    with session_conf(spark, "spark.sql.shuffle.partitions", "4"):
        q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
        drain_stream(q, "stream_countmin_merge")

    cells = local_frame(
        spark, [(*key, cell) for key, cell in sketch.items()], "i int, bucket long, cell long"
    )
    tc = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    est = cms_estimate(cms_rows(tc), cells)
    return tc.join(est, "tok").select(
        "tok",
        F.col("cnt").alias("exact_cnt"),
        "est_cnt",
        (F.col("est_cnt") >= F.col("cnt")).alias("lower_bound_ok"),
    )
