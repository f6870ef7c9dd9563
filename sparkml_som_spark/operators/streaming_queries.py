"""Structured Streaming twins surfaced through the query registry.

Round 1 tested the streaming operators (streaming/windows.py,
streaming/stateful.py) only inside pytest; the driver's gate never
exercised the streaming path.  These entries run each streaming
operator end-to-end — file-source stream -> transformation -> memory
sink, Trigger.AvailableNow — and return the sink contents as the
query result.  Every entry carries a FULL value-hash oracle (the
§2D/§2E oracle upgrades replaced the original rows-only registration):
each streaming query's oracle is the ANSI-SQL batch twin with
identical window/dedup semantics, so DuckDB verifies the drained sink
contents bit-for-bit, per SURVEY.md §5's batch-twin strategy
(`LOCAL_GATE_r16.json`: `n_rows_only: 0`).

At scale the same topology runs unchanged against a Kafka/file
firehose: the watermark bounds window/dedup state, AvailableNow becomes
a real continuous trigger, and the memory sink becomes kafka/parquet.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader

from sparkml_som_spark.operators.registry import drain_stream, register, session_conf
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import build_once, load_table, read_parquet, scratch_dir
from sparkml_som_spark.streaming.stateful import stateful_user_profile
from sparkml_som_spark.streaming.windows import (
    dedup_stream,
    interval_join_stream,
    sliding_window_stream,
    session_window_stream,
    tumbling_window_stream,
)

def _events_stream_reader(spark: SparkSession, sf_dir: str) -> tuple[DataStreamReader, str]:
    """A file-stream reader over the events table and its source dir:
    events.parquet re-written once per process with the nanos->micros
    conversion load_table applies, so the streaming entries share one
    copy (schema from the batch read)."""
    batch = load_table(spark, sf_dir, "events")
    path = build_once(sf_dir, "events_stream_src", lambda p: batch.write.mode("overwrite").parquet(p))
    return spark.readStream.schema(batch.schema), path


def _stream_source(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """File-source stream over the events table, and the sf key."""
    reader, path = _events_stream_reader(spark, sf_dir)
    return reader.parquet(path), os.path.basename(os.path.normpath(sf_dir))


def _run_to_memory(
    spark: SparkSession, out: DataFrame, table: str, mode: str, *, no_data_batch: bool = True
) -> DataFrame:
    """Drain an AvailableNow query into a memory sink and return the
    sink contents.  Distinctive `sgs_` view prefix avoids colliding
    with the harness's pre-registered table views.

    The stream runs with ``min(8, defaultParallelism)`` shuffle
    partitions (restored after): stateful operators create one state
    store per shuffle partition per micro-batch, and at registry-test
    data volumes the per-store open/commit overhead dominates — 8
    stores move the same rows with a quarter of the commits, and no
    more stores than cores keeps each micro-batch to one task wave.  On
    a real firehose the right number is sized to state volume, not to
    the core count; it is fixed into the checkpoint at first start
    either way.

    ``no_data_batch=False`` turns off the trailing no-data micro-batch
    that only advances the watermark.  Pass it only where no row the
    sink holds comes from a watermark advance, so that batch can only
    evict state the stopped query throws away: an outer join's null
    rows, a window's append-mode rows and a timeout's rows come from
    it."""
    parts = min(8, spark.sparkContext.defaultParallelism)
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    with (
        session_conf(spark, "spark.sql.shuffle.partitions", str(parts)),
        session_conf(spark, nodata, str(no_data_batch).lower()),
    ):
        q = (
            out.writeStream.format("memory")
            .queryName(table)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        drain_stream(q, table)
    return spark.table(table)


def _signup_click_join(
    spark: SparkSession, sf_dir: str, join: Callable[[DataFrame, DataFrame], DataFrame],
    tag: str, *, no_data_batch: bool = True,
) -> DataFrame:
    """Drain ``join`` over the signup and click halves of two event
    streams into the append-mode sink ``sgs_<tag>_<sf>``."""
    from pyspark.sql import functions as F

    s_stream, key = _stream_source(spark, sf_dir)
    c_stream, _ = _stream_source(spark, sf_dir)
    out = join(
        s_stream.where(F.col("event_type") == "signup"),
        c_stream.where(F.col("event_type") == "click"),
    )
    return _run_to_memory(
        spark, out, f"sgs_{tag}_{key}".replace(".", "_"), "append", no_data_batch=no_data_batch
    )


# The window/join/dedup streaming entries below run as ONE AvailableNow
# micro-batch over the static snapshot (no rate limit), so their
# complete/append-mode sink contents are deterministic and equal the
# relational form of the same computation — full value-hash oracles, not
# the rows-only batch-twin cross-checks they shipped as originally.
# (Multi-batch execution is exercised separately by
# stream_incremental_batches.)


@register(
    "stream_tumbling_window",
    sql="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*)                   AS n_events,
           ROUND(SUM(value), 4)       AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    desc="streaming 1-day tumbling window, complete-mode sink oracle-audited",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, key = _stream_source(spark, sf_dir)
    return _run_to_memory(spark, tumbling_window_stream(stream), f"sgs_stream_tumbling_{key}".replace(".", "_"), "complete")


@register(
    "stream_sliding_window",
    sql="""
    SELECT ws AS window_start,
           COUNT(*)             AS n_events,
           ROUND(AVG(value), 4) AS avg_value
    FROM (
        SELECT value,
               unnest([date_trunc('day', ts), date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws
        FROM events
    )
    GROUP BY ws
    """,
    desc="streaming 2-day/1-day sliding window, complete-mode sink oracle-audited",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, key = _stream_source(spark, sf_dir)
    return _run_to_memory(spark, sliding_window_stream(stream), f"sgs_stream_sliding_{key}".replace(".", "_"), "complete")


@register(
    "stream_session_window",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts)              AS session_start,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    desc="streaming session window (30-min gap), gaps-and-islands oracle",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, key = _stream_source(spark, sf_dir)
    return _run_to_memory(spark, session_window_stream(stream), f"sgs_stream_session_{key}".replace(".", "_"), "complete")


@register(
    "stream_dedup_exact",
    # event_id is the natural ingest key and is unique in the snapshot,
    # so first-arrival-per-key == the table itself: the oracle pins
    # count preservation AND byte-exact row passthrough (no arithmetic
    # anywhere, so every column hash-compares raw).  Real dup removal
    # semantics are covered by the batch twin dedup_exact_groups.
    sql="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    desc="dropDuplicatesWithinWatermark over the event stream, passthrough oracle-audited",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, key = _stream_source(spark, sf_dir)
    # rows are emitted on first arrival; the watermark batch only evicts state
    return _run_to_memory(
        spark, dedup_stream(stream), f"sgs_stream_dedup_{key}".replace(".", "_"), "append", no_data_batch=False
    )


@register(
    "stream_interval_join",
    sql="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           c.event_id AS click_id,
           CAST(date_diff('second', s.ts, c.ts) AS BIGINT) AS secs_after
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = s.user_id
     AND c.ts >= s.ts
     AND c.ts <  s.ts + INTERVAL 10 MINUTE
    """,
    desc="stream-stream interval join with two-sided watermark state bounds, oracle-audited",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # an inner join emits on a match; the watermark batch only evicts state
    return _signup_click_join(spark, sf_dir, interval_join_stream, "stream_ijoin", no_data_batch=False)


@register(
    "stream_interval_join_bucketed",
    # output-equivalent to stream_interval_join by construction (the
    # {b, b+1} bucket probe covers every c_ts in [s_ts, s_ts + 10 min)
    # because the bucket span equals the window), so the SAME interval-
    # join oracle pins the mitigated topology's results
    sql="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           c.event_id AS click_id,
           CAST(date_diff('second', s.ts, c.ts) AS BIGINT) AS secs_after
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = s.user_id
     AND c.ts >= s.ts
     AND c.ts <  s.ts + INTERVAL 10 MINUTE
    """,
    desc="hot-key-resilient stream-stream interval join: event time folded into the equi-key shards per-user join state across buckets; same oracle as the textbook form",
)
def stream_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MITIGATED form of the stream-stream interval join — the
    round-8 skew probe's finding converted into registered capability
    (VERDICT r8 ask #3).  Structured Streaming's symmetric-hash join
    scans one state-store partition's full buffer per matching input
    row, so a dominant user makes per-key work quadratic in its
    in-watermark rows (measured 12x cliff at 60k hot rows/side,
    SCALE.md "stream-stream join skew").  Folding event time into the
    join key (bucket span == join window; probe buckets {b, b+1})
    bounds the per-key scan by the bucket span — flat at 10x hot volume
    in the probe.  Results are identical to `stream_interval_join` by
    construction: the shared oracle value-hashes that claim, and
    tests/test_streaming_queries.py pins batch-side `exceptAll`
    equivalence in both directions."""
    from sparkml_som_spark.streaming.windows import interval_join_stream_bucketed

    # an inner join emits on a match; the watermark batch only evicts state
    return _signup_click_join(
        spark, sf_dir, interval_join_stream_bucketed, "stream_ijoin_bkt", no_data_batch=False
    )


@register(
    "stream_stateful_profile",
    # Update mode emits one row per user per micro-batch; AvailableNow
    # over the static snapshot (no maxFilesPerTrigger) is ONE batch, so
    # the sink holds exactly the final per-user state — which is a plain
    # relational aggregate, giving the custom stateful operator a full
    # value-hash oracle (count, sum, and the last_ts the LTZ
    # normalization contract pins).
    sql="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4)     AS total_value,
           MAX(ts)                  AS last_ts
    FROM events
    GROUP BY user_id
    """,
    desc="applyInPandasWithState per-user running profile, final state oracle-audited",
)
def stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, key = _stream_source(spark, sf_dir)
    return _run_to_memory(spark, stateful_user_profile(stream), f"sgs_stream_stateful_{key}".replace(".", "_"), "update")


@register(
    "stream_som_inference",
    # streaming-vs-batch parity IS the oracle: the stream's per-cell
    # counts must equal the batch transform's cell-for-cell, every
    # streamed row must land in a cell, and nothing may be dropped or
    # duplicated crossing the streaming boundary
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT)        AS n_cells_mismatched_vs_batch
    FROM embeddings
    """,
    desc="SOMModel.transform under Structured Streaming, pinned by stream==batch per-cell equality under full oracle",
)
def stream_som_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model serving on a stream: the cached 5x5 SOM's pandas_udf BMU
    kernel runs unchanged inside a streaming plan (same DataFrame API,
    streaming physical plan).  Per-row predictions drain to the memory
    sink; the bounded per-cell rollup happens on the sink contents.  At
    scale the file source becomes Kafka and the memory sink a parquet/
    kafka sink — the transform topology is identical.

    The FULL value hash rides the streaming engine's exactness
    contract: the sink's per-cell counts are full-outer-joined against
    the BATCH transform's (same model, same kernel, batch physical
    plan) and the mismatch count is pinned at 0, with the streamed
    total pinned to the table count — a dropped micro-batch, a
    double-delivered file, or a kernel that behaves differently under
    the streaming plan breaks the hash."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.som_queries import fit_default_som

    model, emb = fit_default_som(spark, sf_dir)
    key = os.path.basename(os.path.normpath(sf_dir))
    path = build_once(sf_dir, "emb_stream_src", lambda p: emb.write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(emb.schema).parquet(path)
    out = model.transform(stream).select("vec_id", "prediction")
    sink = _run_to_memory(spark, out, f"sgs_stream_som_{key}".replace(".", "_"), "append")
    stream_cells = sink.groupBy("prediction").agg(F.count("*").alias("n_stream"))
    batch_cells = (
        model.transform(emb).groupBy("prediction").agg(F.count("*").alias("n_batch"))
    )
    cmp = stream_cells.join(batch_cells, "prediction", "full_outer")
    mismatch = (
        F.col("n_stream").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n_stream") != F.col("n_batch"))
    )
    return cmp.agg(
        F.coalesce(F.sum("n_stream"), F.lit(0)).alias("n_rows"),
        F.count_if(mismatch).alias("n_cells_mismatched_vs_batch"),
    )


@register(
    "stream_incremental_batches",
    sql="""
    SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4)     AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    desc="rate-limited ingest: maxFilesPerTrigger bounds each micro-batch; windowed state accumulates across many batches, oracle-audited",
)
def stream_incremental_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure-controlled catch-up: `maxFilesPerTrigger` caps each
    micro-batch so a backlog (or 100 TB replay) streams through bounded
    memory instead of one giant batch — Trigger.AvailableNow honors the
    cap and runs MANY micro-batches until the source drains.  Unlike the
    other streaming entries (single AvailableNow batch), this exercises
    real multi-batch execution: watermark advancement, state-store
    reuse, and window accumulation across batches.  Complete-mode output
    must equal the relational aggregate — nothing dropped or
    double-counted across batch boundaries."""
    from pyspark.sql import functions as F

    key = os.path.basename(os.path.normpath(sf_dir))
    reader, path = _events_stream_reader(spark, sf_dir)
    stream = reader.option("maxFilesPerTrigger", "8").parquet(path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    return _run_to_memory(
        spark, agg, f"sgs_stream_incr_{key}".replace(".", "_"), "complete"
    )


@register(
    "stream_static_enrich",
    sql="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4)   AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    desc="stream-static broadcast enrichment: event stream joined to a static dimension, oracle-audited end-to-end",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common streaming topology in practice: enrich a stream
    against a STATIC dimension table.  Stream-static joins are
    stateless — no watermark, no state store; each micro-batch joins
    against the (broadcast) static side, so at 100 TB/day of events the
    cost per batch is a broadcast hash join, and the dimension can be
    swapped by restarting the query.  The per-event enriched rows drain
    to the sink; the per-segment rollup over the sink must hash-match
    the same aggregate computed relationally — delivery is exactly-once
    end-to-end, not just "some rows arrived"."""
    from pyspark.sql import functions as F

    stream, key = _stream_source(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(cust), "user_id").select(
        "user_id", "c_mktsegment", "value"
    )
    sink = _run_to_memory(
        spark, enriched, f"sgs_stream_enrich_{key}".replace(".", "_"), "append"
    )
    return sink.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "source_python_stream_datasource",
    sql="""
    SELECT 'src' || CAST(d % 20 AS VARCHAR)        AS source,
           CAST(COUNT(*) AS BIGINT)                AS n_docs,
           CAST(SUM(20 + (d * 7) % 180) AS BIGINT) AS total_tokens
    FROM range(0, 5000) t(d)
    GROUP BY 1
    """,
    desc="custom Python STREAMING DataSource (Spark 4 DataSourceStreamReader) under the value-hash oracle",
)
def source_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of `source_python_datasource`: the same
    deterministic generator exposed through the Spark 4
    `DataSourceStreamReader` API (offset log -> partitions(start, end)
    fan-out -> per-partition read), drained through a memory sink.  The
    drained rows must hash-match the batch formula — a custom STREAMING
    source under the full oracle.  At scale this is the template for a
    queue/change-feed connector: latestOffset polls the upstream head,
    commit acks it, and Spark handles replay from the checkpointed
    offset log."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.sources.pydatasource import ensure_registered

    ensure_registered(spark)
    key = os.path.basename(os.path.normpath(sf_dir))
    stream = (
        spark.readStream.format("synthdocs")
        .option("n", 5000)
        .option("partitions", 8)
        .load()
    )
    sink = _run_to_memory(
        spark,
        stream,
        f"sgs_stream_pyds_{key}".replace(".", "_"),
        "append",
    )
    return sink.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "stream_foreachbatch_sink",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4)     AS sum_value
    FROM events
    GROUP BY event_type
    """,
    desc="foreachBatch idempotent parquet sink: replay-safe batch-id directories, oracle-audited",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once SINK pattern: `foreachBatch` writes each
    micro-batch to a `batch_id=N` directory with overwrite, so a
    replayed batch (retry after failure) overwrites its own output
    instead of duplicating it — idempotence from deterministic batch
    ids + atomic directory replace.  The oracle audits END-TO-END
    delivery: per-type counts and value sums read back from the sink
    must equal the same aggregate over the raw table (nothing lost,
    nothing duplicated).  At scale the parquet dir becomes a table
    location and the same callback can MERGE into a lakehouse table."""
    import shutil

    from pyspark.sql import functions as F

    stream, _ = _stream_source(spark, sf_dir)
    sink_dir = scratch_dir(sf_dir, "feb_sink")
    ckpt_dir = scratch_dir(sf_dir, "feb_ckpt")
    # The source snapshot is rewritten once per process with fresh file
    # names (build_once); a checkpoint surviving from a previous process
    # would treat the rewritten files as NEW data and append a duplicate
    # batch next to the old sink output (reproduced: every count exactly
    # doubles).  Scope the run to this process: clear sink + checkpoint,
    # then let the checkpoint provide retry-idempotence WITHIN the run —
    # which is the contract a real deployment has (checkpoint and source
    # live and die together).
    shutil.rmtree(sink_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q, "stream_foreachbatch_sink", timeout_s=120)
    back = read_parquet(spark, sink_dir, basePath=sink_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "stream_incremental_dedup_index",
    sql="""
    SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
    FROM documents
    GROUP BY source
    """,
    desc="streaming ingest dedup against a persistent fingerprint index: foreachBatch anti-join + append across rate-limited micro-batches",
)
def stream_incremental_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup — the streaming twin of
    dedup_incremental_exact: documents arrive in rate-limited
    micro-batches, each batch fingerprints its rows, anti-joins against
    the PERSISTENT index of everything already ingested, and appends
    only the novel fingerprints.  State lives in the index table, not
    in stream state stores, so it is queryable between batches (the
    entry starts each run from an empty index) — the shape a 100 TB
    ingest actually uses (with the index bucketed on
    the fingerprint so the per-batch anti-join is co-located; the
    per-batch cost tracks the BATCH, never the corpus).

    Within-batch duplicates collapse first (dropDuplicates on the key),
    cross-batch duplicates die in the anti-join; the final index must
    hold exactly the distinct (source, fingerprint) set of the corpus —
    the oracle's relational distinct count."""
    import shutil

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    # 16 source files + maxFilesPerTrigger=4 -> 4 real micro-batches
    src = build_once(
        sf_dir, "docs_stream_src", lambda p: docs.repartition(16).write.mode("overwrite").parquet(p)
    )
    index_dir = scratch_dir(sf_dir, "dedup_fp_index")
    shutil.rmtree(index_dir, ignore_errors=True)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
    )
    fp = stream.select("source", F.md5("text").alias("fp"))

    def merge(batch_df, batch_id):
        batch = batch_df.dropDuplicates(["source", "fp"])
        if os.path.isdir(index_dir):
            idx = read_parquet(batch_df.sparkSession, index_dir)
            batch = batch.join(idx, ["source", "fp"], "left_anti")
        batch.write.mode("append").parquet(index_dir)

    q = (
        fp.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q, "stream_incremental_dedup_index")
    return (
        read_parquet(spark, index_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


@register(
    "stream_decayed_counters",
    sql="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), mx AS (
        SELECT event_type, MAX(day) AS as_of_day FROM daily GROUP BY 1
    )
    SELECT d.event_type, mx.as_of_day,
           CAST(SUM(d.n) AS BIGINT) AS n_total,
           SUM(d.n * POWER(0.5, date_diff('day', d.day, mx.as_of_day)))
               AS decayed_count
    FROM daily d JOIN mx USING (event_type)
    GROUP BY 1, 2
    """,
    desc="streaming decayed counters: per-batch algebraic merge of half-life counts across rate-limited micro-batches, exact vs the batch oracle",
)
def stream_decayed_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained decayed counters — the streaming twin
    of `decayed_activity_counts`' feature-store signal, kept current
    across micro-batches WITHOUT replaying history.

    Exponential decay is linear, so the per-type state is three
    numbers: (as_of_day, decayed, n_total), merged per batch by the
    algebraic rule ``decayed' = decayed * 0.5^(new_as_of - as_of) +
    sum(n_d * 0.5^(new_as_of - d))``.  Linearity makes the merge
    independent of batch arrival ORDER — a batch of late (out-of-order)
    days folds in with an exponent instead of forcing a recompute, the
    property that makes this maintainable under retries and replays.
    Every term is an exact dyadic rational (counts * 2^-j), so the
    stream-maintained state equals the batch recompute BIT-FOR-BIT —
    this entry runs under the full value-hash oracle, not a rows-only
    check.

    Scale shape: per-batch cost is one bounded (type, day) aggregate of
    the BATCH plus an O(|types|) driver-side fold — state is bounded by
    the group cardinality, the same contract as
    `applyInPandasWithState`'s per-key state, but queryable and
    restart-safe if persisted (the fingerprint-index entry shows that
    persistence shape)."""
    from pyspark.sql import functions as F

    reader, src = _events_stream_reader(spark, sf_dir)
    stream = reader.option("maxFilesPerTrigger", "8").parquet(src)
    state: dict[str, tuple] = {}  # type -> (as_of_day, decayed, n_total)

    def merge(batch_df, batch_id):
        # aggregate INSIDE foreachBatch so the counts are THIS batch's
        # increments — a streaming aggregate in update mode would hand
        # us cumulative rows and double-count the merge
        daily = batch_df.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count("*").alias("n"))
        # bounded collect: |types| x |days-in-batch| rows
        for r in sorted(
            daily.collect(), key=lambda r: (r["event_type"], r["day"])
        ):
            et, day, n = r["event_type"], r["day"], r["n"]
            if et not in state:
                state[et] = (day, float(n), n)
                continue
            as_of, decayed, total = state[et]
            if day > as_of:
                decayed = decayed * 0.5 ** (day - as_of).days + n
                as_of = day
            else:
                decayed += n * 0.5 ** (as_of - day).days
            state[et] = (as_of, decayed, total + n)

    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q, "stream_decayed_counters")
    rows = [
        (et, as_of, total, decayed)
        for et, (as_of, decayed, total) in sorted(state.items())
    ]
    return local_frame(
        spark, rows, "event_type string, as_of_day date, n_total long, decayed_count double"
    )


@register(
    "stream_left_outer_join",
    # the oracle encodes the STREAMING semantics, not just the join:
    # unmatched signups emit nulls only once the global watermark
    # proves no future click can match.  The watermark is computed per
    # filtered input (min of the two sides' max event time, minus the
    # 1 h delay), so the null set is exactly the unmatched signups with
    # s_ts + 10 min below that watermark — rows younger than the
    # boundary stay buffered in join state and never reach the sink
    sql="""
    WITH s AS (
        SELECT user_id, event_id AS signup_id, ts AS s_ts
        FROM events WHERE event_type = 'signup'
    ), c AS (
        SELECT user_id AS cu, event_id AS click_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ), wm AS (
        SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
                     (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
               - INTERVAL 1 HOUR AS w
    ), m AS (
        SELECT s.user_id, s.signup_id, c.click_id,
               CAST(date_diff('second', s.s_ts, c.c_ts) AS BIGINT) AS secs_after
        FROM s JOIN c ON c.cu = s.user_id
          AND c.c_ts >= s.s_ts AND c.c_ts < s.s_ts + INTERVAL 10 MINUTE
    ), un AS (
        SELECT s.user_id, s.signup_id,
               CAST(NULL AS BIGINT) AS click_id,
               CAST(NULL AS BIGINT) AS secs_after
        FROM s
        WHERE NOT EXISTS (
            SELECT 1 FROM c WHERE c.cu = s.user_id
              AND c.c_ts >= s.s_ts AND c.c_ts < s.s_ts + INTERVAL 10 MINUTE)
          AND s.s_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    )
    SELECT * FROM m UNION ALL SELECT * FROM un
    """,
    desc="stream-stream LEFT OUTER interval join: watermark-gated null emission, the eviction boundary itself oracle-audited",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The outer-join semantics Structured Streaming adds on top of the
    inner interval join: a signup with no click in its 10-minute window
    still emits — with nulls — but only in the micro-batch whose
    watermark PROVES no future click can match (AvailableNow runs a
    trailing zero-data batch precisely so this final eviction fires).
    The oracle replays the whole contract in SQL: matched rows are the
    plain interval join, and the null rows are the unmatched signups
    whose s_ts + window lies strictly below the global watermark
    (min of the two filtered inputs' max event time, minus the delay) —
    verified empirically to the row at every SF, so a state-eviction
    regression, a watermark computed on the wrong input, or a dropped
    trailing batch breaks the value hash.  At 100 TB the same condition
    is what bounds the join state: signups older than watermark +
    window are evicted, matched or not."""
    return _signup_click_join(
        spark, sf_dir, lambda s, c: interval_join_stream(s, c, how="leftOuter"), "stream_louter"
    )


@register(
    "stream_trending_topk",
    sql="""
    WITH wc AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), rk AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type) AS rk
        FROM wc
    )
    SELECT window_start, event_type, n_events, CAST(rk AS INT) AS rk
    FROM rk WHERE rk <= 3
    """,
    desc="streaming trending top-k: complete-mode windowed counts drained to the sink, ranked top-3 per day in the batch post-pass",
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Trending items per window' — the streaming shape rank can't
    express natively: Structured Streaming supports the windowed COUNT
    but not a rank over it (no window functions on streaming plans), so
    the production pattern is windowed aggregation in the stream and
    the top-k as a cheap batch pass over the sink (or inside
    foreachBatch).  This entry runs exactly that: 1-day tumbling counts
    per event_type drain in complete mode; the sink's bounded
    (day x event_type) grid is ranked top-3 per day.  The oracle
    replays both halves in SQL, so a dropped micro-batch, a wrong
    window assignment, or a rank slip breaks the value hash.  At scale
    the sink is a compacted table and the post-pass a scheduled query —
    the state in the stream stays bounded by the live windows."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sparkml_som_spark.streaming.windows import tumbling_window_stream

    stream, key = _stream_source(spark, sf_dir)
    counts = tumbling_window_stream(stream).select(
        "window_start", "event_type", "n_events"
    )
    sink = _run_to_memory(
        spark, counts, f"sgs_stream_trend_{key}".replace(".", "_"), "complete"
    )
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


def _epoch_files(frame: DataFrame, n_epochs: int) -> Callable[[str], None]:
    """A `build_once` writer for an epoch-ordered stream source: one
    parquet file per value of ``frame``'s ``epoch`` column, written in
    epoch order with pinned mtimes so the file stream's
    modification-time ordering IS epoch order."""
    import shutil

    from pyspark.sql import functions as F

    def write(src: str) -> None:
        os.makedirs(src)
        for e in range(n_epochs):
            part_dir = os.path.join(src, f"_build_{e}")
            frame.where(F.col("epoch") == e).coalesce(1).write.mode("overwrite").parquet(part_dir)
            pf = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
            dst = os.path.join(src, f"epoch_{e}.parquet")
            shutil.move(os.path.join(part_dir, pf), dst)
            shutil.rmtree(part_dir)
            os.utime(dst, (1_600_000_000 + e * 100, 1_600_000_000 + e * 100))

    return write


def _run_epochs(spark: SparkSession, src: str, n_epochs: int, per_batch, entry: str) -> None:
    """Drain the `_epoch_files` source ``src`` through ``per_batch``,
    one file (= one epoch) per micro-batch: maxFilesPerTrigger=1, which
    Trigger.AvailableNow honors, in pinned-mtime order.

    The callbacks treat each batch as one epoch, so this raises, naming
    ``entry``, unless the callback ran once per epoch file: a source or
    trigger change that merged epochs into one batch would otherwise
    change the admissions silently.  Counting callbacks costs no job;
    `recentProgress` would not do, as its numInputRows reads 0 for a
    batch whose frame the callback did not read."""
    batch_ids: list[int] = []

    def run(batch_df, batch_id):
        batch_ids.append(batch_id)
        per_batch(batch_df, batch_id)

    stream = (
        spark.readStream.schema(read_parquet(spark, src).schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(run).trigger(availableNow=True).start()
    drain_stream(q, entry)
    if batch_ids != list(range(n_epochs)):
        raise AssertionError(
            f"{entry}: expected one micro-batch per epoch file ({n_epochs}), "
            f"got batch ids {batch_ids}; the one-file-per-epoch + "
            "maxFilesPerTrigger=1 contract is broken"
        )


def _dedup_guard_oracle() -> str:
    """4-epoch unrolled admission replay over the exhaustive near-dup
    pair set: admitted_t = epoch-t docs with no >= 0.8 pair into the
    union of earlier admissions (within-epoch pairs do not reject —
    both docs admit, matching the guard)."""
    from sparkml_som_spark.operators.dedup import _NGRAM_MAX_DF, _NGRAM_ORACLE

    nd = _NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF)
    # MATERIALIZED: DuckDB inlines CTEs by default, so the chained
    # admission stages would re-evaluate the exhaustive pair CTE once
    # per reference (measured 123 s at sf0.1 -> seconds materialized)
    ctes = [
        f"nd AS MATERIALIZED ({nd})",
        "p2 AS MATERIALIZED (SELECT a_id, b_id FROM nd)",
        "d AS MATERIALIZED (SELECT doc_id, CAST(doc_id % 4 AS INT) AS epoch FROM documents)",
        "adm0 AS MATERIALIZED (SELECT doc_id FROM d WHERE epoch = 0)",
    ]
    for t in range(1, 4):
        prev = " UNION ALL ".join(f"SELECT doc_id FROM adm{s}" for s in range(t))
        ctes.append(
            f"""adm{t} AS MATERIALIZED (
          SELECT dd.doc_id FROM d dd WHERE dd.epoch = {t} AND NOT EXISTS (
            SELECT 1 FROM p2 JOIN ({prev}) a
              ON (p2.a_id = a.doc_id AND p2.b_id = dd.doc_id)
              OR (p2.b_id = a.doc_id AND p2.a_id = dd.doc_id)
          )
        )"""
        )
    rows = " UNION ALL ".join(
        f"""SELECT {t} AS epoch,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM d WHERE epoch = {t}) AS n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM adm{t}) AS n_admitted,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM d WHERE epoch = {t})
                 - (SELECT CAST(COUNT(*) AS BIGINT) FROM adm{t}) AS n_rejected"""
        for t in range(4)
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + rows + ") ORDER BY epoch"


@register(
    "stream_minhash_dedup_guard",
    sql=_dedup_guard_oracle(),
    desc="streaming near-dup admission guard: each micro-batch probes the persistent MinHash band index, exact-Jaccard verifies, admits only novel docs",
)
def stream_minhash_dedup_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of continuous near-dup control — the
    streaming composition of `dedup_incremental_minhash`: documents
    arrive in micro-batches (epoch = doc_id % 4, one file per epoch,
    modification-time-ordered so AvailableNow replays them in epoch
    order); each batch's docs are MinHash-banded, probe the PERSISTENT
    band index of previously-ADMITTED docs, candidates are
    exact-Jaccard verified (>= 0.8), and only unmatched docs are
    admitted — their band rows append to the index for later batches.
    Within-epoch near-dup pairs both admit (the guard screens against
    the ACCEPTED corpus, not the in-flight batch), which is exactly
    what the oracle's 4-stage unrolled replay encodes.

    At 100 TB the band index is a (band, sig)-bucketed table, the
    per-batch probe join touches only the batch's bucket rows, and
    verification touches candidate pairs only — per-batch cost tracks
    the batch.  State lives in queryable storage, not stream state
    stores (the `stream_incremental_dedup_index` discipline): one
    ``guard_state`` dir whose ``batch=<id>`` subdirs each hold one
    epoch's admitted rows and band rows, partitioned by ``kind``.  An
    epoch is written whole to ``guard_state/_tmp`` (a ``_`` path, which
    Spark's listing skips) and promoted by ONE ``os.rename`` to
    ``batch=<id>``, so a crash at any point leaves whole epochs only:
    the state reads as the epochs promoted before it, never a mix."""
    import shutil

    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.dedup import (
        exact_jaccard_verify,
        minhash_band_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = build_once(
        sf_dir,
        "docs_guard_src",
        _epoch_files(docs.withColumn("epoch", (F.col("doc_id") % 4).cast("int")), 4),
    )
    state_dir = scratch_dir(sf_dir, "guard_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    promoted: list[int] = []  # batch ids with a batch=<id> dir

    def guard(batch_df, batch_id):
        sp = batch_df.sparkSession
        # Each micro-batch is exactly ONE epoch (_run_epochs checks the
        # callback count after the drain), so the whole batch is one
        # admission group: a per-batch epoch distinct-collect would be a
        # pure orchestration job — the r15 drain decomposition measured
        # it at ~+0.25 s over a no-op drain.
        grp = batch_df.select("doc_id", "source", "text")
        # band the batch ONCE; the same rows serve the probe join and
        # (filtered to admissions) the index append — the admitted corpus
        # is never re-shingled.  LAZY local checkpoint: banding
        # materializes inside the first job that reads bb (the admitted
        # checkpoint below in probe epochs, the fused write in epoch 0)
        # and the later job reads the pinned blocks.  Within each job,
        # bb's aggregate exchange and rejected's distinct exchange are
        # reused at runtime by AQE (the r15 measured rule: identical
        # exchanges ARE runtime-reused).
        bb = minhash_band_buckets(grp).localCheckpoint(eager=False)
        rejected = None
        if promoted:
            # explicit selects: the state files carry the union schema
            # (null band/sig on admitted rows and vice versa); narrowing
            # here keeps the union below aligned
            state = read_parquet(sp, state_dir)
            adm = state.where(F.col("kind") == "adm").select("doc_id", "source", "text")
            idx = state.where(F.col("kind") == "band").select("doc_id", "band", "sig")
            cand = (
                bb.alias("x")
                .join(
                    idx.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.sig") == F.col("y.sig")),
                )
                .select(
                    F.col("y.doc_id").alias("a_id"),
                    F.col("x.doc_id").alias("b_id"),
                )
                .distinct()
            )
            # shingle ONLY docs that appear in a candidate pair
            ids = (
                cand.select(F.col("a_id").alias("doc_id"))
                .unionByName(cand.select(F.col("b_id").alias("doc_id")))
                .distinct()
            )
            pool = grp.unionByName(adm).join(ids, "doc_id", "semi")
            hits = exact_jaccard_verify(pool, cand)
            rejected = hits.select(F.col("b_id").alias("doc_id")).distinct()
        admitted = (
            grp.join(rejected, "doc_id", "left_anti") if rejected is not None else grp
        )
        # the TWO state appends are ONE job — a union of the admitted
        # rows and their band rows, tagged with a `kind` column and
        # written partitionBy("kind") as one epoch dir.  The admitted
        # eager checkpoint STAYS: a no-checkpoint full fusion
        # (everything in one job, leaning on AQE runtime exchange reuse
        # for the duplicated admitted subtree) was MEASURED SLOWER —
        # guard min 13.8 s vs 10.5 s with the checkpoint kept, 6
        # order-alternated reps at sf0.1 (OPTIMIZATION_r16.md §3) — so
        # only the write side is fused (3 -> 2 jobs/epoch).
        admitted = admitted.localCheckpoint(eager=True)
        out = admitted.select(
            "doc_id",
            "source",
            "text",
            F.lit(None).cast("int").alias("band"),
            F.lit(None).cast("bigint").alias("sig"),
            F.lit("adm").alias("kind"),
        ).unionByName(
            bb.join(admitted.select("doc_id"), "doc_id", "semi").select(
                "doc_id",
                F.lit(None).cast("string").alias("source"),
                F.lit(None).cast("string").alias("text"),
                "band",
                "sig",
                F.lit("band").alias("kind"),
            )
        )
        # an epoch that admitted nothing wrote no `kind=` dir: nothing
        # to promote, and `_tmp` stays invisible to reads
        tmp = os.path.join(state_dir, "_tmp")
        out.write.mode("overwrite").partitionBy("kind").parquet(tmp)
        if any(name.startswith("kind=") for name in os.listdir(tmp)):
            os.rename(tmp, os.path.join(state_dir, f"batch={batch_id}"))
            promoted.append(batch_id)

    _run_epochs(spark, src, 4, guard, "stream_minhash_dedup_guard")

    adm = (
        read_parquet(spark, state_dir)
        .where(F.col("kind") == "adm")
        .withColumn("epoch", (F.col("doc_id") % 4).cast("int"))
    )
    totals = docs.withColumn("epoch", (F.col("doc_id") % 4).cast("int")).groupBy(
        "epoch"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    admitted_counts = adm.groupBy("epoch").agg(F.count(F.lit(1)).alias("n_admitted"))
    return (
        totals.join(admitted_counts, "epoch", "left")
        .select(
            "epoch",
            "n_docs",
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
            (F.col("n_docs") - F.coalesce("n_admitted", F.lit(0))).alias("n_rejected"),
        )
        .orderBy("epoch")
    )
