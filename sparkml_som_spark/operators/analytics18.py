"""Analytics operators, round 5 fifteenth wave: the cogrouped-map
(`cogroup().applyInPandas`) surface with a reconciliation workload,
and the STREAMING half of the custom Python DataSource writer —
completing all four quadrants of the pluggable-source API (batch
read, stream read, batch write, stream write).

Scale discipline:

- the cogroup shuffles each side once on the join key and hands each
  key's two groups to ONE Arrow-batched pandas function — the shape
  for per-entity reconciliation that genuinely needs both sides' rows
  at once (where a plain join + agg suffices, use that; this entry
  exists to pin the API's semantics under the oracle);
- the streaming sink writes one private file per task per batch and
  commits a PER-BATCH manifest keyed by batchId, so a replayed batch
  overwrites its own manifest instead of double-appending — the sink
  side of streaming exactly-once.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import drain_stream, register
from sparkml_som_spark.sources import build_once, load_table, scratch_dir


@register(
    "cogroup_order_reconcile",
    sql="""
    WITH li AS (
        SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS net
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT)                       AS n_orders,
           CAST(COUNT(*) FILTER (WHERE li.l_orderkey IS NULL) AS BIGINT)
                                                          AS n_without_items,
           ROUND(SUM(o.o_totalprice), 4)                  AS header_total,
           ROUND(SUM(COALESCE(li.net, 0)), 4)             AS items_net_total
    FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    desc="cogrouped-map reconciliation: orders and lineitems cogrouped per orderkey in one Arrow pandas fn; per-status rollup",
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `cogroup().applyInPandas` surface — the API for per-entity
    logic that needs BOTH sides' rows in one function call (header/
    detail reconciliation, merge-style conflict resolution).  Each
    order's header rows and item rows arrive as two pandas frames; the
    function emits the order's header price and its computed net item
    revenue, and the result rolls up per status under the oracle.

    Both sides shuffle once on the cogroup key (co-partitioned), the
    crossing is Arrow-batched, and the rollup is map-side combined.
    The oracle is the equivalent relational join — pinning that the
    cogroup path computes exactly what the declarative form does.
    """
    # cogroup on a BUCKET of orders, not on the raw order key: the
    # pandas function is invoked once per group, so per-order keying
    # would pay |orders| Python calls; 64 buckets keep each call
    # vectorized (pandas groupby inside) — the granularity trade-off
    # every cogroup user has to make at scale
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        (F.col("o_orderkey") % 64).alias("bucket"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount",
        (F.col("l_orderkey") % 64).alias("bucket"),
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            return pd.DataFrame(
                columns=["status", "header_price", "items_net", "has_items"]
            )
        net = (
            (ldf["l_extendedprice"] * (1.0 - ldf["l_discount"]))
            .groupby(ldf["l_orderkey"])
            .sum()
        )
        items = odf["o_orderkey"].map(net)
        return pd.DataFrame(
            {
                "status": odf["o_orderstatus"],
                "header_price": odf["o_totalprice"].astype(float),
                "items_net": items.fillna(0.0).round(4),
                "has_items": items.notna(),
            }
        )

    per_order = (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "status string, header_price double, items_net double, has_items boolean",
        )
    )
    return per_order.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(~F.col("has_items"), 1)).alias("n_without_items"),
        F.round(F.sum("header_price"), 4).alias("header_total"),
        F.round(F.sum("items_net"), 4).alias("items_net_total"),
    )


@register(
    "source_python_stream_writer",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 4)     AS sum_value
    FROM events
    WHERE event_id <= 2000
    GROUP BY event_type
    """,
    desc="custom Python DataSourceStreamWriter: per-batch commit manifests (batchId-keyed), manifest-driven read-back under the hash",
)
def source_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of the custom writer surface: events stream
    through Structured Streaming into a Python `DataSourceStreamWriter`
    that writes per-task jsonl files and commits a PER-BATCH manifest
    keyed by batchId — a replayed batch overwrites its own manifest
    instead of appending twice, which is the sink side of streaming
    exactly-once.  The manifest-driven read-back must hash-match the
    relational aggregate.

    Completes the pluggable-source family: batch reader, stream
    reader, batch writer, and now stream writer, all oracle-checked.
    """
    from sparkml_som_spark.sources.pydatasource import ensure_stream_sink_registered

    ensure_stream_sink_registered(spark)
    ev = load_table(spark, sf_dir, "events")
    key = os.path.basename(os.path.normpath(sf_dir))
    src = build_once(
        sf_dir,
        "events_psw_src",
        lambda p: ev.where(F.col("event_id") <= 2000)
        .select("event_id", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(p),
    )
    sink = scratch_dir(sf_dir, "events_psw_sink")
    shutil.rmtree(sink, ignore_errors=True)
    ckpt = scratch_dir(sf_dir, "events_psw_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)

    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("jsonlstreamsink")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q, "source_python_stream_writer")

    files: list[str] = []
    for mpath in sorted(glob.glob(os.path.join(sink, "_MANIFEST-*.json"))):
        with open(mpath) as f:
            files.extend(json.load(f)["files"])
    back = spark.read.schema(
        "event_id bigint, event_type string, value double"
    ).json(files)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
