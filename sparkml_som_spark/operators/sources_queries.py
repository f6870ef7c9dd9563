"""Non-parquet source coverage under the oracle gate.

Round 1 shipped csv/json/orc readers (`sources.read_any`/`write_any`)
with unit round-trip tests, but no registry query exercised them — the
driver's gate never touched the non-parquet scan path.  These entries
close that: write a deterministic slice of a base table to csv / json
under a repo-local scratch dir, read it back through ``read_any``, and
aggregate.  The oracle computes the same aggregate from the parquet
view — if the round-trip is lossless (types chosen so csv/json
inference is stable) the results hash-match.

Reference parity: the reference reads its demo data from text files
(SOMDriver main workload); this engine's generic source dispatch is the
Spark-native equivalent surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import build_once, load_table, read_any, read_parquet, scratch_dir, write_any


@register(
    "source_csv_lineitem",
    sql="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_orderkey <= 4000
    GROUP BY l_returnflag
    """,
    desc="csv reader path: write slice, read back via read_any, aggregate",
)
def source_csv_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip: slice lineitem -> csv -> read_any -> aggregate.

    Column types are chosen so header+inferSchema reads back losslessly
    (ints and doubles only — no dates/decimals, whose csv inference is
    version-sensitive).  The aggregate matches the oracle run directly
    on the parquet view, proving the csv scan path end-to-end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    slice_df = li.filter(F.col("l_orderkey") <= 4000).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = scratch_dir(sf_dir, "lineitem_csv")
    write_any(slice_df, path, fmt="csv")
    back = read_any(spark, path, fmt="csv")
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@register(
    "source_json_orders",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS sum_total
    FROM orders
    WHERE o_orderkey <= 4000
    GROUP BY o_orderpriority
    """,
    desc="json reader path: write slice, read back via read_any, aggregate",
)
def source_json_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip: slice orders -> json -> read_any -> aggregate.

    JSON preserves longs and doubles exactly; strings pass through.
    Dates are excluded (JSON stringifies them; schema inference would
    read them back as strings and silently change the type).
    """
    o = load_table(spark, sf_dir, "orders")
    slice_df = o.filter(F.col("o_orderkey") <= 4000).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = scratch_dir(sf_dir, "orders_json")
    write_any(slice_df, path, fmt="json")
    back = read_any(spark, path, fmt="json")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
        )
    )


@register(
    "sink_partitioned_pruned_scan",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS sum_total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey <= 4000
    GROUP BY o_orderpriority
    """,
    desc="partitioned+sorted sink, then a partition-pruned scan back",
)
def sink_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout round-trip: write an orders slice PARTITIONED BY
    o_orderstatus and sorted by o_orderkey within partitions, then read
    it back filtered to one status.  The filter becomes a partition
    PRUNE (only the status=F directory is listed, tested in
    test_plans.py), and the within-partition sort gives parquet min/max
    row-group pruning on the key filter — the layout pattern that turns
    a 100 TB scan into a single-partition read.
    """
    o = load_table(spark, sf_dir, "orders")
    slice_df = o.filter(F.col("o_orderkey") <= 4000).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    path = scratch_dir(sf_dir, "orders_part_sorted")
    (
        slice_df.repartition("o_orderstatus")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
        )
    )


@register(
    "source_python_datasource",
    sql="""
    SELECT 'src' || CAST(d % 20 AS VARCHAR)      AS source,
           CAST(COUNT(*) AS BIGINT)              AS n_docs,
           CAST(SUM(20 + (d * 7) % 180) AS BIGINT) AS total_tokens
    FROM range(0, 5000) t(d)
    GROUP BY 1
    """,
    desc="custom Python DataSource scan (Spark 4 API) under the value-hash oracle",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a CUSTOM Python Data Source (Spark 4 `pyspark.sql.datasource`
    API) and aggregate — the pluggable-source surface a bespoke corpus
    format would implement.  The generator is a pure function of the row
    id, so the DuckDB oracle recomputes identical rows from `range(n)`
    and the custom source sits under the full value-hash gate.  The
    partition-count independence contract is pinned in
    `tests/test_sources.py`."""
    from sparkml_som_spark.sources.pydatasource import ensure_registered

    ensure_registered(spark)
    docs = (
        spark.read.format("synthdocs")
        .option("n", 5000)
        .option("partitions", 8)
        .load()
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "source_csv_corrupt_records",
    sql="""
    SELECT CAST(count_if(o_orderkey % 10 <> 0) AS BIGINT) AS n_good,
           CAST(count_if(o_orderkey % 10 = 0) AS BIGINT)  AS n_corrupt,
           ROUND(SUM(CASE WHEN o_orderkey % 10 <> 0
                          THEN o_totalprice ELSE 0 END), 4) AS sum_total_good
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    desc="PERMISSIVE csv parse: corrupt rows quarantined, clean rows aggregated",
)
def source_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The malformed-input path every real 100 TB ingest hits: rows with
    un-parseable fields must be QUARANTINED (counted, inspectable), not
    crash the job and not silently vanish.  A deterministic 10% of the
    slice (o_orderkey % 10 == 0) is corrupted on write ('N/A' in a
    double column); the read uses PERMISSIVE mode with a
    _corrupt_record column, so bad rows surface with the raw line
    preserved.  Because the corruption is a pure function of the key,
    the oracle derives the same good/corrupt split from the clean
    table.  FAILFAST/DROPMALFORMED are the same reader one option away."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    path = scratch_dir(sf_dir, "orders_corrupt_csv")
    # corrupt on write, fully distributed: each executor emits its own
    # csv text lines ('N/A' is unparseable in the double column)
    (
        o.select(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.when(F.col("o_orderkey") % 10 == 0, F.lit("N/A")).otherwise(
                    F.col("o_totalprice").cast("string")
                ),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    back = spark.read.schema(
        "o_orderkey long, o_totalprice double, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path)
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.round(
            F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("o_totalprice")).otherwise(0.0)),
            4,
        ).alias("sum_total_good"),
    )


@register(
    "sink_bucketed_join_revenue",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)     AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    desc="bucketed-table sink: write both join sides bucketed on the key, join the read-back without a join-side exchange",
)
def sink_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-side answer to the fact-fact shuffle: write orders
    AND lineitem bucketed by orderkey (same bucket count, sorted within
    buckets), then join the read-back tables.  The co-location is baked
    into the layout, so the sort-merge join plans with NO exchange on
    either side — at 100 TB this converts every subsequent
    orders-lineitem join from two corpus shuffles into a local merge
    (the zero-exchange plan is asserted in tests/test_bucketing.py
    with broadcast/AQE pinned off; here AQE may still choose to
    broadcast the small side, which is also shuffle-free).  The oracle
    checks the revenue rollup equals the plain join's."""
    from sparkml_som_spark.sources.bucketing import bucketed_join, write_bucketed

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, lt = f"orders_bkt_{sf_tag}", f"lineitem_bkt_{sf_tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    write_bucketed(orders, ot, "orderkey", n_buckets=8)
    write_bucketed(li, lt, "orderkey", n_buckets=8)
    joined = bucketed_join(spark, lt, ot, on="orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@register(
    "dpp_partitioned_fact_join",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)    AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    desc="dynamic partition pruning: status-partitioned fact scan pruned at runtime by a filtered dimension join",
)
def dpp_partitioned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the mechanism that makes a
    partitioned 100 TB fact readable through a dimension filter the
    optimizer cannot see statically: the broadcast side's build keys
    feed a runtime IN-filter into the fact scan's PartitionFilters, so
    only the matching partition directories are read at all.  Here the
    fact is orders partitioned by o_orderstatus and the dim filter
    (label = 'final' -> status 'F') only exists at runtime; the plan
    carries `dynamicpruningexpression` on the scan (plan-tested).  The
    oracle is the statically-filtered equivalent."""
    orders = load_table(spark, sf_dir, "orders")
    base = scratch_dir(sf_dir, "orders_dpp_part")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    fact = read_parquet(spark, base)
    # the dimension is a stored table, as in a warehouse: over driver
    # rows (a LocalRelation) the optimizer would fold the label filter
    # into the rows at plan time, and with no Filter left on the build
    # side DPP has no selective predicate to prune by
    dim_path = scratch_dir(sf_dir, "status_dim")
    local_frame(
        spark, [("F", "final"), ("O", "open"), ("P", "pending")], "status string, label string"
    ).write.mode("overwrite").parquet(dim_path)
    dim = read_parquet(spark, dim_path)
    return (
        fact.join(
            dim.where(F.col("label") == "final"),
            fact.o_orderstatus == F.col("status"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


@register(
    "sink_compaction_rebalance",
    sql="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT)     AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY source
    """,
    desc="small-file compaction sink: AQE REBALANCE write producing target-sized files, conservation-checked on read-back",
)
def sink_compaction_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file answer: a 100 TB table accumulated from thousands
    of micro-batch/partition writes fragments into millions of tiny
    files that throttle every subsequent scan (footer + open cost per
    file).  Compaction = read, `REBALANCE` hint (AQE coalesces/splits
    shuffle blocks to spark.sql.adaptive.advisoryPartitionSizeInBytes),
    rewrite.  Unlike a fixed repartition(n), REBALANCE adapts file
    count to the actual data volume and splits skewed blocks.  The
    read-back aggregate hash-matches the source — compaction must be
    byte-lossless."""
    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir(sf_dir, "docs_compacted")
    docs.hint("rebalance").write.mode("overwrite").parquet(base)
    compacted = read_parquet(spark, base)
    return compacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "source_binaryfile_blobs",
    sql="""
    SELECT CAST(8 AS BIGINT)                        AS n_files,
           CAST(SUM(length(text) + 1) AS BIGINT)    AS total_bytes
    FROM documents
    """,
    desc="binaryFile source: whole-file blob ingestion with byte-exact conservation against the row form",
)
def source_binaryfile_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingestion path real image/audio corpora use: files land as
    opaque blobs and `binaryFile` reads (path, length, content) with
    the CONTENT column loaded lazily — a metadata-only query (counts,
    size histograms) never reads the bytes, which at 100 TB of media is
    the difference between a listing and a full scan.  Here the corpus
    text is spilled to 8 line-delimited files, read back as whole-file
    blobs, and checked byte-exactly: sum(file lengths) must equal
    sum(row lengths + newline) — a truncated or double-read file breaks
    the hash."""
    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir(sf_dir, "docs_blob_files")
    docs.select("text").repartition(8).write.mode("overwrite").text(base)
    blobs = spark.read.format("binaryFile").load(base)
    return blobs.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
    )


@register(
    "source_multiformat_union",
    sql="""
    SELECT o_orderstatus,
           CAST(3 * COUNT(*) AS BIGINT) AS n_rows,
           CAST(3 * SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
    desc="heterogeneous ingestion: the same table served as parquet+csv+json, schema-aligned and unioned into one logical scan",
)
def source_multiformat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logical table served from three physical formats — the
    mixed-estate ingestion every migration lives with (old csv dumps +
    json API exports + parquet lake).  The csv and json copies are
    written once to scratch, read back through the generic ``read_any``
    dispatch, schema-ALIGNED (explicit casts to the parquet schema —
    csv/json inference must never silently widen a column), and
    unioned by NAME, not position.  The aggregate over the union must
    equal exactly 3x the base table — any inference drift, row loss,
    or positional-union column swap breaks the checksum.

    Scale shape: a union of scans is still one stage per leaf — Spark
    plans format-specific scans under one union node and the aggregate
    map-side combines across all of them; no format pays for another's
    decode."""
    base = load_table(spark, sf_dir, "orders")
    parts = [base]
    for fmt in ("csv", "json"):
        path = build_once(sf_dir, f"orders_multifmt_{fmt}", lambda p: write_any(base, p, fmt))
        raw = read_any(spark, path, fmt)
        parts.append(
            raw.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in base.schema]
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
    )
