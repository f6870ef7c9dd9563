"""Structured Streaming windowed aggregations over an events stream.

Each function here is the ONE definition of its operator: the stream
entries in `operators/streaming_queries.py` apply it to a file-source
stream, and the batch entries in `operators/windows.py` apply it to the
static events table. On a batch plan the optimizer drops the watermark
(no `EventTimeWatermark` node survives, pinned by
`tests/test_plans.py`), so sharing the definition costs the batch
entries nothing. Each entry's DuckDB oracle, written separately in SQL,
is the independent check on both uses.

Watermarking bounds state: late events older than the watermark are
dropped and their windows finalized — on a real cluster this is what
keeps state stores from growing with 100 TB of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def tumbling_window_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-day tumbling count/sum per event_type (also the body of
    `tumbling_window_events`)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """2-day window sliding by 1 day (also the body of
    `sliding_window_events`)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )


def session_window_stream(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows with a 30-minute gap per user (also the body of
    `session_window_events`). Session state merges as events arrive;
    the watermark closes sessions once no in-gap event can still come."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def interval_join_stream(
    signups: DataFrame,
    clicks: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: clicks within `window` after a
    signup (the definition `interval_join_click_after_signup` runs on
    the static table).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions (c_ts in [s_ts, s_ts + window)), which is
    what lets Spark expire buffered state: a signup older than
    watermark + window can never match a future click and is evicted.
    Without the two-sided bound the join state grows with the whole
    stream — the difference between a runnable and an OOM topology at
    firehose scale.

    ``how="leftOuter"`` adds the semantics the inner join can't show: a
    signup with no click inside `window` must still emit, with nulls,
    but ONLY once the watermark proves no future click can match (s_ts
    + window below the global watermark).  Until that proof the row
    sits in join state; the null row materializes in the micro-batch
    whose watermark evicts it (Spark runs a trailing zero-data batch
    under AvailableNow exactly so this eviction happens).  The state
    bound AND the null-emission rule come from the same condition."""
    s = signups.withWatermark("ts", watermark).select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts")
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        s.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") >= F.col("s_ts"))
            & (F.col("c_ts") < F.col("s_ts") + F.expr(f"INTERVAL {window}")),
            how,
        )
        .select(
            "user_id",
            "signup_id",
            "click_id",
            (F.unix_timestamp("c_ts") - F.unix_timestamp("s_ts")).alias("secs_after"),
        )
    )


def dedup_stream(stream: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key within
    the watermark horizon (`dropDuplicatesWithinWatermark`), so state is
    bounded by the horizon instead of growing with the whole stream —
    the ingest-side dedup stage of an LLM data pipeline (batch twin:
    `dedup_exact_groups` semantics on the same key).

    `dropDuplicates` without a watermark would keep every key ever seen
    in the state store; within-watermark is the only shape that
    survives an unbounded 100 TB/day firehose.
    """
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_stream_bucketed(
    signups: DataFrame,
    clicks: DataFrame,
    window_sec: int = 600,
    bucket_sec: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Hot-key-resilient stream-stream interval join: fold event time
    into the equi-join key (bucket = floor(epoch / bucket_sec); a
    signup in bucket b joins clicks in buckets {b, b+1} as a union of
    two equi-joins).  Output-equivalent to `interval_join_stream` —
    pinned by the batch `exceptAll` test and the shared DuckDB oracle —
    but the join STATE for one user shards across time buckets, so the
    symmetric-hash join's per-key linear scan is bounded by the bucket
    span instead of the whole watermark horizon.

    Why it exists: Structured Streaming keeps ALL buffered rows for a
    join key in one state-store partition and scans them per matching
    input row, so a user owning ~90% of both sides makes per-key work
    QUADRATIC in that user's in-watermark rows.  The round-8 probe
    (SCALE.md, "Skew probe: stream-stream join state") measured the cliff at 12x on 60k hot rows/side — and this
    exact fold flat at 10x hot volume.  At 100 TB firehose scale with
    power-law users, this form IS the runnable topology.

    Requires bucket_sec >= window_sec so a click within `window_sec`
    after its signup lands in the same or next bucket (floor((s +
    w - 1) / B) <= floor(s / B) + 1 whenever w <= B) — enforced here
    rather than silently missing matches."""
    if bucket_sec < window_sec:
        raise ValueError(
            f"bucket_sec ({bucket_sec}) must be >= window_sec ({window_sec}): "
            "a {b, b+1} bucket probe only covers join windows up to one "
            "bucket span"
        )
    s = signups.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        F.floor(F.unix_timestamp("ts") / bucket_sec).alias("s_bucket"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.floor(F.unix_timestamp("ts") / bucket_sec).alias("c_bucket"),
    )
    cond_time = (F.col("c_ts") >= F.col("s_ts")) & (
        F.col("c_ts") < F.col("s_ts") + F.expr(f"INTERVAL {window_sec} SECONDS")
    )
    cols = [
        "user_id",
        "signup_id",
        "click_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("s_ts")).alias("secs_after"),
    ]
    # ONE symmetric-hash join over an exploded probe-bucket column: a
    # signup in bucket b probes {b, b+1} as two state rows of the SAME
    # join instead of two separate joins.  Set-equivalent (c_bucket
    # matches exactly one of the two probe rows, so no duplicates; the
    # exceptAll equivalence test and the shared oracle pin it), the
    # per-(user, bucket) state scan bound that is the entry's point is
    # unchanged, clicks are buffered ONCE instead of twice, and each
    # micro-batch pays one join's state-store machinery instead of two
    # (r15: 4.23 -> 2.24 s, OPTIMIZATION_r15.md §2).
    sx = s.withColumn(
        "probe_bucket",
        F.explode(F.array(F.col("s_bucket"), F.col("s_bucket") + F.lit(1))),
    )
    return sx.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_bucket") == F.col("probe_bucket"))
        & cond_time,
    ).select(*cols)
